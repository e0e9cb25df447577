package geobench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Order-free exact digest of a table: row count and the sum of a 64-bit
  * row hash as a decimal (never overflows, independent of partitioning). */
final case class Digest(rows: Long, sum: BigDecimal) {
  override def toString: String = s"$rows:$sum"
}

object Digest {
  private def agg(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("h"))

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = agg(df, cols).head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Digests of several tables (all their columns) in one action. */
  def all(tables: Seq[(String, DataFrame)]): Map[String, Digest] =
    tables.map { case (k, df) => agg(df, df.columns.toSeq).select(lit(k).as("k"), col("n"), col("h")) }
      .reduce(_ unionAll _).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
}

/** Everything one run measures and reports. */
final class Ctx(var spark: SparkSession, val tracer: Tracer, val blocks: BlockTracker,
                val dir: Path, val seed: Long, val seconds: Double) {
  /** End-to-end values for the result line, name -> (value, unit). */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's own figures (printed, not bounded). */
  val report = mutable.LinkedHashMap[String, String]()
  /** (pass id, start ms, end ms) of every pass; pass 0 is the cold one. */
  val passes = mutable.ArrayBuffer[(Int, Long, Long)]()
  /** Passes before this id are the cold pass and untimed warm-up passes;
    * the steady passes start here. */
  var firstSteady = 1
  /** Per-layer values only the workload knows (files live, ...). */
  val layerExtras = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Count one operation; it fails when it threw or a check on it failed. */
  def op(failure: Option[String]): Unit = {
    attempted += 1
    failure.foreach { what =>
      failed += 1
      failures += what
      System.err.println(s"geobench FAILED: $what")
    }
  }

  /** Run `body` as pass `id` and record its interval for the trace. */
  def pass[A](id: Int)(body: => A): A = {
    tracer.setPass(id)
    val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val out = body
    passes += ((id, s0, s0 + (System.nanoTime() - n0) / 1000000L))
    out
  }

  /** Drop every cached or checkpointed block, as the engine's own bench
    * does between queries, so each pass starts from the same state. */
  def releasePins(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    tracer.drain()
  }

  def peakPinnedMb(): Double = { tracer.drain(); blocks.peakBytes / 1e6 }
}

trait Workload {
  /** Generate the inputs from `seed` and stage them under `dir`. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit
  /** The measured part of the run. */
  def run(ctx: Ctx): Unit
}

object Harness {
  /** Spark cores of a run. The passes are bound by the Spark driver, and
    * on a shared 4-core host two cores gave the same pass times as four
    * with half the run-to-run spread. */
  val Cores = 2
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  val Workloads: Map[String, () => Workload] = Map(
    "corpus" -> (() => new Corpus),
    "capture_stream" -> (() => new CaptureStream))

  /** The end-to-end metrics every workload reports. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "first_pass_s", "pass_ms_p50", "docs_per_s", "pinned_peak_mb")

  def session(cores: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.core.SessionDefaults.ExcludedOptimizerRules)
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The highest percentile (a multiple of 1) that has at least `beyond`
    * samples above it, with that percentile's nearest-rank value. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= beyond => (p, s(rank - 1)) }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case null => "null"
    case other => json(other.toString)
  }

  /** Set up and run one workload; the returned context holds every
    * figure and its session is still open. */
  def execute(name: String, seed: Long, seconds: Double, traced: Boolean,
              work: Path): Ctx = {
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'"))()
    Files.createDirectories(work)

    // set-up: session start, input generation and staging, base commits;
    // repeated in fresh directories and sessions, the last one is kept
    var spark: SparkSession = null
    val setupTimes = (0 until SetupRepeats).map { i =>
      val n0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(Cores, work)
      val dir = work.resolve(s"data-$i")
      deleteTree(dir)
      wl.setup(spark, dir, seed)
      val secs = (System.nanoTime() - n0) / 1e9
      if (i > 0) deleteTree(work.resolve(s"data-${i - 1}"))
      secs
    }
    val dir = work.resolve(s"data-${SetupRepeats - 1}")

    val blocks = new BlockTracker
    spark.sparkContext.addSparkListener(blocks)
    val tracer = new Tracer(spark, traced)
    tracer.attachBlocks(blocks)
    val ctx = new Ctx(spark, tracer, blocks, dir, seed, seconds)
    ctx.e2e("setup_s") = (median(setupTimes), "s")
    ctx.report("setup_runs_s") = setupTimes.map(t => f"$t%.3f").mkString(",")

    val t0 = System.nanoTime()
    try wl.run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.op(Some(s"run aborted: $e"))
    }
    ctx.report("run_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    if (ctx.e2e.size < EndToEnd.size)
      ctx.op(Some(s"metrics missing: ${EndToEnd.filterNot(ctx.e2e.contains)}"))
    ctx.report("attempted") = ctx.attempted.toString
    ctx.report("failed") = ctx.failed.toString
    ctx.report("failed_frac") =
      (if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted).toString
    ctx
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val ctx = execute(name, seed, opts("seconds").toDouble, traced, work)

    val metrics: Seq[(String, (Double, String))] =
      if (traced) {
        ctx.tracer.drain()
        val layers = LayerReport(ctx)
        Files.write(work.resolve("spans.jsonl"),
          LayerReport.spanLines(ctx).mkString("\n").getBytes("UTF-8"))
        layers.report.foreach { case (k, v) => ctx.report(k) = v }
        layers.metrics
      } else EndToEnd.map(m => m -> ctx.e2e.getOrElse(m, (0.0, "missing")))

    // every end-to-end figure, traced or not, on one line before the result
    println("geobench report " + json(mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced) ++
      ctx.e2e.map { case (k, (v, u)) => k -> s"$v $u" } ++ ctx.report))
    val correct = ctx.failed == 0
    println(json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> ctx.attempted.max(1L),
      "failed" -> (if (ctx.attempted == 0) 1L else ctx.failed),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }: _*))))
    System.out.flush()
    ctx.spark.stop()
  }
}
