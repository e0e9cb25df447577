package geobench

import graft.ingest.WebPages
import graft.meta.{FileStats, Snapshots}
import graft.streaming.StreamOps
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The write path: a streaming upsert of page captures into the snapshot
  * table, one capture file per micro-batch, driven by one closed-loop
  * client. After each batch the client runs a pruned key-range lookup;
  * every `AsOfEvery`-th batch a time-travel read, every
  * `CompactEvery`-th batch an inline compaction. */
final class CaptureStream extends Workload {
  import CaptureStream._

  private var root: String = _
  private var staging: Path = _
  private var source: Path = _
  private var seed: Long = _

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.seed = seed
    root = dir.resolve("tables").toString
    staging = dir.resolve("captures")
    source = dir.resolve("source")
    Files.createDirectories(source)
    val base = WebPages.latestCapture(WebPages.generate(spark, BasePages, seed).toDF())
      .select(col("url"), xxhash64(col("url")).as("key"), col("warc_ts"), col("text"))
    Snapshots.commitClustered(base, root, "pages", s"geobench capture base seed=$seed",
      orderCols = Seq("key"), statCols = Seq("key"), numFiles = BaseFiles)
    captures(spark, seed).repartition(col("batch"))
      .write.partitionBy("batch").parquet(staging.toString)
  }

  /** The one data file of capture batch `b`. */
  private def captureFile(b: Int): Path = {
    val st = Files.list(staging.resolve(s"batch=$b"))
    try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally st.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val schema = spark.read.parquet(staging.resolve("batch=0").toString).schema
    val batchMs = mutable.ArrayBuffer[Double]()
    val lookupMs = mutable.ArrayBuffer[Double]()
    val prune = mutable.ArrayBuffer[Double]()
    // (snapshot id, commit time, expected rows) after each batch
    val committed = mutable.ArrayBuffer[(Long, Long, Long)]()
    var expectedRows = Snapshots.latest(root, "pages").get.rows
    var captureBytes = 0.0
    var capturesDone = 0L
    var untimed = 0L
    var peak = 0.0
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val urls = mutable.HashSet[String]()

    def step(b: Int): Unit = {
      val file = captureFile(b)
      val landed = spark.read.parquet(file.toString).select("url").collect().map(_.getString(0))
      val n0 = System.nanoTime()
      if (q == null) q = StreamOps.upsertSink(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(source.toString),
          root, "pages", keyCols = Seq("url"),
          orderCols = Seq(col("warc_ts").desc, md5(col("text")).desc), queryName = "captures")
        .option("checkpointLocation", ctx.dir.resolve("stream-ckpt").toString)
        .start()
      val before = Snapshots.latest(root, "pages").get.snapshotId
      val m = tr("streaming", (m: Snapshots.Manifest) => m.rows) {
        Files.move(file, source.resolve(f"cap-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        Snapshots.latest(root, "pages").get
      }
      val n1 = System.nanoTime()
      batchMs += (n1 - n0) / 1e6
      val v0 = System.nanoTime()
      capturesDone += landed.length
      captureBytes += Files.size(source.resolve(f"cap-$b%05d.parquet"))
      expectedRows += landed.count(u => u.contains(".example.org/") && urls.add(u))
      ctx.op(if (m.snapshotId > before && m.rows == expectedRows) None
        else Some(s"capture_stream: batch $b committed snapshot ${m.snapshotId} with " +
          s"${m.rows} rows, expected a snapshot after $before with $expectedRows rows"))
      committed += ((m.snapshotId, m.committedAtMs, expectedRows))
      untimed += System.nanoTime() - v0

      val (lo, hi) = keyRange(seed, b)
      val l0 = System.nanoTime()
      val (found, report) = tr("meta", (x: (Array[Row], FileStats.PruneReport)) =>
          x._1.length.toLong) {
        val (df, rep) = Snapshots.readPruned(spark, root, "pages", "key", lo, hi)
        (df.collect(), rep)
      }
      lookupMs += (System.nanoTime() - l0) / 1e6
      prune += report.keptFiles.toDouble / report.totalFiles.max(1)

      val c0 = System.nanoTime()
      val full = Snapshots.read(spark, m).where(col("key").between(lo, hi)).collect()
      ctx.op(Checks.lookup(found.toSeq, full.toSeq).map(s"capture_stream: key range [$lo, $hi] " + _))
      untimed += System.nanoTime() - c0

      if (b > 0 && b % AsOfEvery == 0) {
        val (id, ts, rowsThen) = committed(committed.size - 1 - AsOfEvery / 2)
        val got = tr("meta", (n: Long) => n) {
          Snapshots.asOf(root, "pages", ts).map(a => Snapshots.read(spark, a).count()).getOrElse(-1L)
        }
        ctx.op(Checks.asOfRows(got, rowsThen).map(s"capture_stream: snapshot $id " + _))
      }
      if (b > 0 && b % CompactEvery == 0)
        tr("meta", (m: Snapshots.Manifest) => m.rows) {
          Snapshots.compact(spark, root, "pages", CompactFiles)
        }
    }

    ctx.blocks.resetPeak()
    ctx.pass(0)(step(0))
    // the cold batch over the same interval as the steady ones: landing to
    // visible, here with the query start
    ctx.e2e("first_pass_s") = (batchMs.head / 1000, "s")
    peak = ctx.peakPinnedMb()
    ctx.releasePins()
    val (c0, bytes0) = (capturesDone, captureBytes)
    untimed = 0L
    System.gc()
    val w0 = System.nanoTime()
    var b = 1
    while (b < Batches && (b <= MinBatches || (System.nanoTime() - w0) / 1e9 < ctx.seconds)) {
      ctx.blocks.resetPeak()
      ctx.pass(b)(step(b))
      val r0 = System.nanoTime()
      peak = math.max(peak, ctx.peakPinnedMb())
      ctx.releasePins()
      untimed += System.nanoTime() - r0
      b += 1
    }
    val wall = (System.nanoTime() - w0 - untimed) / 1e9
    q.stop()

    // the final table is the latest capture per url over base + all landed captures
    val base = Snapshots.read(spark, Snapshots.at(root, "pages", 0L).get)
    ctx.op(Checks.finalTable(Snapshots.read(spark, Snapshots.latest(root, "pages").get), base,
      spark.read.schema(schema).parquet(source.toString)).map("capture_stream: " + _))

    val steady = batchMs.drop(1).toSeq
    ctx.e2e("pass_ms_p50") = (Harness.median(steady), "ms")
    ctx.e2e("docs_per_s") = ((capturesDone - c0) / wall, "docs/s")
    ctx.e2e("pinned_peak_mb") = (peak, "MB")
    ctx.report("batch_ms_p50") = Harness.median(steady).toString
    ctx.report("batch_ms") = batchMs.map(t => f"$t%.0f").mkString(",")
    ctx.report("lookup_ms") = lookupMs.map(t => f"$t%.0f").mkString(",")
    ctx.report("batch_ms_tail") = Harness.tail(steady).map { case (p, v) =>
      s"p$p=$v n=${steady.size}" }.getOrElse(s"n/a n=${steady.size}")
    ctx.report("captures_per_s") = ((capturesDone - c0) / wall).toString
    ctx.report("lookup_ms_p50") = Harness.median(lookupMs.drop(1).toSeq).toString
    ctx.report("batches") = b.toString
    ctx.layerExtras("meta.capture_bytes") = captureBytes - bytes0
    ctx.layerExtras("meta.prune_ratio") = prune.drop(1).sum / (prune.size - 1)
    ctx.layerExtras("meta.files_live") = FileStats.dataFiles(
      spark.sparkContext.hadoopConfiguration,
      Snapshots.latest(root, "pages").get.dataPath).size.toDouble
  }
}

object CaptureStream {
  val BasePages = 4000L
  val BaseFiles = 8
  val Batches = 12
  val RowsPerBatch = 200
  val MinBatches = 7
  val AsOfEvery = 3
  val CompactEvery = 5
  val CompactFiles = 4
  /** Recaptures pick their url from this many base page ids, Zipf-hot. */
  val HotRange = 1000L

  /** Seeded capture rows of every batch: three in four are recaptures of
    * a base url with a later `warc_ts`, Zipf-hot on a few urls; the rest
    * are new urls. */
  def captures(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val rows = for (b <- 0 until Batches; j <- 0 until RowsPerBatch) yield {
      val i = b.toLong * RowsPerBatch + j
      val r = WebPages.draw(seed, i, 40)
      val url =
        if ((r & 3L) != 0L) {
          val u = (WebPages.draw(seed, i, 41) >>> 11) * (1.0 / 9007199254740992.0)
          WebPages.makeMeta(seed, math.floor(math.exp(u * math.log(HotRange.toDouble))).toLong - 1)._1
        } else s"https://fresh$seed.example.org/b$b/r$j"
      val words = (0 until 12).map(k =>
        WebPages.Words(((WebPages.draw(seed, i, 50 + k) >>> 1) % WebPages.Words.length).toInt))
      // 2025-01-01T00Z onwards: later than every base capture
      (b, url, new java.sql.Timestamp(1735689600000L + i * 1000L), words.mkString(" "))
    }
    rows.toDF("batch", "url", "warc_ts", "text")
      .select(col("batch"), col("url"), xxhash64(col("url")).as("key"), col("warc_ts"),
        col("text"))
  }

  /** A key range holding a handful of rows of a 4k-row table. */
  def keyRange(seed: Long, b: Int): (Long, Long) = {
    val lo = WebPages.draw(seed, b.toLong, 60) & ~((1L << 54) - 1)
    (lo, lo + (1L << 54) - 1)
  }
}
