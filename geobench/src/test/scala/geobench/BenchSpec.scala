package geobench

import graft.align.Align3d
import graft.api.Flagship
import graft.ingest.WebPages
import graft.join.{Aoi, SpatialJoins}
import graft.meta.Snapshots
import graft.streaming.StreamOps
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: seeded inputs are reproducible, another
  * seed changes them and still passes every check, and each check
  * rejects a deliberately corrupted result. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work: Path = Paths.get("target", "bench-test").toAbsolutePath
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    Harness.deleteTree(work)
    spark = Harness.session(2, work)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Harness.deleteTree(work)
  }

  private def staged(w: Workload, seed: Long, name: String): Map[String, Digest] = {
    val dir = work.resolve(name)
    w.setup(spark, dir, seed)
    val st = Files.walk(dir)
    val tables = try {
      val it = st.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(p => p.getFileName.toString == "_SUCCESS").map(_.getParent).toList
    } finally st.close()
    tables.map { t =>
      val df = spark.read.parquet(t.toString)
      dir.relativize(t).toString -> Digest.of(df, df.columns.toSeq)
    }.toMap
  }

  private def inputs(seed: Long, tag: String): Map[String, Any] =
    staged(new Corpus, seed, s"corpus-$tag") ++ staged(new CaptureStream, seed, s"capture-$tag") ++
      Map("shift" -> Scene.shiftOf(seed), "keys" -> (0 until 5).map(CaptureStream.keyRange(seed, _)))

  test("the same seed gives identical inputs; another seed different ones") {
    val a = inputs(11L, "a")
    val b = inputs(11L, "b")
    val c = inputs(12L, "c")
    assert(a.keySet.size >= 6)
    assert(a == b)
    // the AOI zone raster is a fixed input of the join, the same for every seed
    (a - "zones").foreach { case (k, v) =>
      assert(c(k) != v, s"input $k does not depend on the seed") }
  }

  test("dedup check rejects a dropped row") {
    val pages = WebPages.generate(spark, 400, 3L).toDF()
    val deduped = WebPages.latestCapture(pages).count()
    assert(Checks.dedupRows(deduped, pages).isEmpty)
    assert(Checks.dedupRows(deduped - 1, pages).isDefined)
  }

  test("PIP check rejects a dropped hit") {
    val geo = Flagship.geocoded(spark, 3000)
    val cols = Seq("aoi_id", "doc_id")
    val pip = SpatialJoins.pipJoin(geo, Aoi.defs)
    val large = SpatialJoins.pipJoinLarge(geo, Aoi.df(spark))
    assert(Checks.pipAgrees(Digest.of(pip, cols), Digest.of(large, cols)).isEmpty)
    val dropped = large.orderBy("doc_id").limit(large.count().toInt - 1)
    assert(Checks.pipAgrees(Digest.of(pip, cols), Digest.of(dropped, cols)).isDefined)
  }

  test("pass check rejects one changed digest") {
    val ref = Map("a" -> Digest(3, 7), "b" -> Digest(1, 2))
    assert(Checks.samePass(ref, ref).isEmpty)
    assert(Checks.samePass(ref.updated("b", Digest(1, 3)), ref).isDefined)
  }

  test("pinned bytes are released when an RDD is unpersisted") {
    val blocks = new BlockTracker
    spark.sparkContext.addSparkListener(blocks)
    try {
      val rdd = spark.sparkContext.parallelize(1 to 10000, 2).cache()
      rdd.count()
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      assert(blocks.heldByRdd.getOrElse(rdd.id, 0L) > 0L)
      rdd.unpersist(blocking = true)
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      assert(!blocks.heldByRdd.contains(rdd.id))
    } finally spark.sparkContext.removeSparkListener(blocks)
  }

  test("align check accepts the recovered shift and rejects one off by a cell") {
    val seed = 5L
    val pts = Scene.points(Flagship.geocoded(spark, 8000), seed).localCheckpoint()
    val shift @ (dx, dy, dz) = Scene.shiftOf(seed)
    val (ref, tgt) = Scene.alignPair(pts, shift)
    val (res, _) = Align3d.run(spark, ref, tgt, Scene.AlignConfig)
    assert(Checks.alignRecovers(res, dx, dy, dz, Scene.AlignConfig.gsd).isEmpty, res)
    // one cell further from the injected shift, on the side the error already has
    def away(err: Double) = if (err >= 0) 1.0 else -1.0
    assert(Checks.alignRecovers(res.copy(tx = res.tx + away(res.tx + dx)), dx, dy, dz,
      1.0).isDefined)
    assert(Checks.alignRecovers(res.copy(ty = res.ty + away(res.ty + dy)), dx, dy, dz,
      1.0).isDefined)
    assert(Checks.alignRecovers(res.copy(tz = res.tz + 0.01), dx, dy, dz, 1.0).isDefined)
  }

  test("stream checks reject a stale snapshot and a dropped lookup row") {
    val root = work.resolve("upsert").toString
    val seed = 9L
    val base = WebPages.latestCapture(WebPages.generate(spark, 500, seed).toDF())
      .select(col("url"), xxhash64(col("url")).as("key"), col("warc_ts"), col("text"))
    Snapshots.commitClustered(base, root, "pages", "base", Seq("key"), Seq("key"), 4)
    val caps = CaptureStream.captures(spark, seed).filter(col("batch") < 2).drop("batch")
      .localCheckpoint()
    val order = Seq(col("warc_ts").desc, md5(col("text")).desc)
    val m = StreamOps.upsertBatch(caps, root, "pages", Seq("url"), order)
    val table = Snapshots.read(spark, m)
    val baseRead = Snapshots.read(spark, Snapshots.at(root, "pages", 0L).get)
    assert(Checks.finalTable(table, baseRead, caps).isEmpty)
    // the base snapshot is stale: it misses every capture
    assert(Checks.finalTable(baseRead, baseRead, caps).isDefined)
    assert(Checks.finalTable(table.orderBy("url").limit(table.count().toInt - 1),
      baseRead, caps).isDefined)

    val (lo, hi) = (Long.MinValue, 0L)
    val (df, _) = Snapshots.readPruned(spark, root, "pages", "key", lo, hi)
    val found = df.collect().toSeq
    val full = table.where(col("key").between(lo, hi)).collect().toSeq
    assert(found.nonEmpty && Checks.lookup(found, full).isEmpty)
    assert(Checks.lookup(found.tail, full).isDefined)

    val asOf = Snapshots.asOf(root, "pages", Snapshots.at(root, "pages", 0L).get.committedAtMs).get
    assert(Checks.asOfRows(Snapshots.read(spark, asOf).count(), base.count()).isEmpty)
    assert(Checks.asOfRows(table.count(), base.count()).isDefined)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val benchmark = json.readTree(Paths.get("..", "BENCHMARK.json").toFile)
  private val spec = json.readTree(Paths.get("spec.json").toFile)
  private def named(list: String): Seq[(String, String)] =
    benchmark.get(list).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("BENCHMARK.json and spec.json name the workloads and metrics the harness reports") {
    assert(named("end_to_end").map(_._1) == Harness.EndToEnd)
    assert(named("per_layer") == Layers.Names)
    assert(spec.get("end_to_end").fieldNames().asScala.toSeq == Harness.EndToEnd)
    assert(spec.get("per_layer").get("modules").elements().asScala.map(_.asText).toSeq ==
      Layers.Modules)
    val workloads = Harness.Workloads.keySet
    assert(benchmark.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      workloads)
    assert(spec.get("workloads").fieldNames().asScala.toSet == workloads)
  }

  test("every check passes on a seed not used in development") {
    spark.stop()
    spark = null
    Harness.Workloads.keys.toSeq.sorted.foreach { name =>
      val ctx = Harness.execute(name, 20261017L, seconds = 0.0, traced = true,
        work.resolve(s"run-$name"))
      try {
        assert(ctx.failed == 0, ctx.failures.mkString("; "))
        assert(ctx.attempted > 0)
        assert(ctx.e2e.map { case (k, (_, unit)) => k -> unit }.toMap ==
          named("end_to_end").toMap)
        val layers = LayerReport(ctx).metrics.toMap
        assert(layers.keySet == Layers.Names.map(_._1).toSet)
      } finally ctx.spark.stop()
    }
  }
}
