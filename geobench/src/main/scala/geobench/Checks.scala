package geobench

import graft.align.Align3d
import graft.core.Quant
import graft.ingest.WebPages
import org.apache.spark.sql.{DataFrame, Row}

/** Output checks that hold for any seed. Each returns the failure, or
  * None when the output is right. */
object Checks {
  private def unless(ok: Boolean, msg: => String): Option[String] =
    if (ok) None else Some(msg)

  /** Latest-capture dedup keeps exactly one row per distinct url. */
  def dedupRows(deduped: Long, pages: DataFrame): Option[String] = {
    val urls = pages.select("url").distinct().count()
    unless(deduped == urls, s"deduped rows $deduped != count(distinct url) $urls")
  }

  /** The broadcast and the shuffled PIP joins find the same hits. */
  def pipAgrees(pip: Digest, pipLarge: Digest): Option[String] =
    unless(pip == pipLarge, s"pipJoin $pip != pipJoinLarge $pipLarge")

  /** Every module output of a pass equals that of the reference pass. */
  def samePass(got: Map[String, Digest], ref: Map[String, Digest]): Option[String] =
    unless(got == ref, s"digests ${got.filter { case (k, v) => !ref.get(k).contains(v) }} " +
      s"differ from ${ref.filter { case (k, v) => !got.get(k).contains(v) }}")

  /** ALIGN3D undoes the injected whole-cell shift: the translation is
    * within one grid step of (-dx, -dy) (strictly) and within one
    * quantization step of -dz. */
  def alignRecovers(res: Align3d.Result, dx: Int, dy: Int, dzSteps: Long,
                    gsd: Double): Option[String] = {
    val dz = dzSteps * Quant.Scale
    unless(math.abs(res.tx + dx * gsd) < gsd && math.abs(res.ty + dy * gsd) < gsd &&
      math.abs(res.tz + dz) <= Quant.Scale * 1.000001,
      s"align recovered (${res.tx}, ${res.ty}, ${res.tz}) at offset (${res.bestDx}, " +
        s"${res.bestDy}), injected ($dx, $dy, $dz)")
  }

  /** A key-range lookup returns exactly the rows of the same filter over
    * a full read of the snapshot. */
  def lookup(found: Seq[Row], full: Seq[Row]): Option[String] =
    unless(found.map(_.toString).sorted == full.map(_.toString).sorted,
      s"lookup returned ${found.size} rows, the full read ${full.size}")

  /** A time-travel read sees the rows committed at that snapshot. */
  def asOfRows(got: Long, committed: Long): Option[String] =
    unless(got == committed, s"asOf read $got rows, $committed were committed")

  /** The streamed table equals the latest capture per url over the base
    * table plus every landed capture. */
  def finalTable(table: DataFrame, base: DataFrame, landed: DataFrame): Option[String] = {
    val cols = Seq("url", "key", "warc_ts", "text")
    val want = Digest.of(WebPages.latestCapture(base.unionByName(landed)), cols)
    val got = Digest.of(table, cols)
    unless(got == want, s"final table $got != latest capture $want")
  }
}
