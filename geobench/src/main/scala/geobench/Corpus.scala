package geobench

import graft.align.Align3d
import graft.api.{ClassifyGround, Flagship}
import graft.cc.ConnectedComponents
import graft.dedup.{Dedup, DupClusters}
import graft.graph.PageRank
import graft.grid.Gridding
import graft.ingest.WebPages
import graft.join.{Aoi, SpatialJoins}
import graft.meta.Snapshots
import graft.pyramid.FillVoids
import graft.stencil.{Kernels, TileStencil}
import graft.vector.Vectorize
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The batch path over one committed page snapshot. The read half
  * (latest-capture dedup and geocode, near-duplicate clustering,
  * click-graph PageRank, point-in-polygon join) is bound by scan, shuffle
  * and join. The raster half (the SHR3D chain of the geocoded scene
  * called module by module, zonal statistics over its DSM, then ALIGN3D
  * against a shifted copy) is many small jobs with a pin at every step,
  * bound by the Spark driver. */
final class Corpus extends Workload {
  import Corpus._

  private var root: String = _
  private var clicks: String = _
  private var zones: String = _
  private var shift: (Int, Int, Long) = _
  private var seed: Long = _

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.seed = seed
    root = dir.resolve("tables").toString
    clicks = dir.resolve("clicks").toString
    zones = dir.resolve("zones").toString
    shift = Scene.shiftOf(seed)
    Snapshots.commit(WebPages.generate(spark, Pages, seed).toDF(), root, "pages",
      s"geobench corpus seed=$seed pages=$Pages")
    clickLog(spark, seed).write.parquet(clicks)
    graft.vector.Rasterize.geo(spark, Aoi.defs.map(a => (a.aoiId.toLong, a.wkt)),
      Scene.Lon0, Scene.Lat0, Scene.Gsd)
      .select("id", "gx", "gy").write.parquet(zones)
  }

  /** One pass over the latest snapshot: the digest of every module
    * output, the timed seconds of the pass and of its raster half, and the
    * independent checks, to run on the pass's pins before they are
    * released. */
  private def pass(ctx: Ctx): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val n0 = System.nanoTime()
    val m = tr("meta", (x: Snapshots.Manifest) => x.rows) {
      Snapshots.latest(root, "pages").get
    }
    val (geo, geoD) = tr("api", (x: (DataFrame, Digest)) => x._2.rows) {
      val g = Flagship.geocodedFromParquet(spark, m.dataPath)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (g, Digest.of(g, Seq("doc_id", "kept_hash", "cell")))
    }
    val clusters = tr("dedup", (d: Digest) => d.rows) {
      val docs = Snapshots.read(spark, m)
        .select(xxhash64(col("url")).as("doc_id"), col("text"))
      val pairs = Dedup.lshPairs(Dedup.minhashSignatures(docs))
      Digest.of(DupClusters.components(pairs.select("doc1", "doc2")), Seq("id", "cluster"))
    }
    val ranks = tr("graph", (d: Digest) => d.rows) {
      val edges = PageRank.clickEdges(spark.read.parquet(clicks), col("page"),
        col("user"), col("ts"), col("event_id"))
      Digest.of(PageRank.pageRank(edges, Iterations), Seq("node", "rank_fp"))
    }
    val hits = tr("join", (d: Digest) => d.rows) {
      Digest.of(SpatialJoins.pipJoin(geo, Aoi.defs), Seq("aoi_id", "doc_id"))
    }
    val r0 = System.nanoTime()
    val scene = Scene.points(geo, seed)
    // the SHR3D DSM and DTM chain, module by module; each span pins its
    // outputs, so every module runs its own jobs
    val bounds = Scene.Bounds
    val tile = Scene.TileSize
    val agl = Scene.AglRaw
    val (Seq(dsmRaw, minRaw), gridD) = tr("grid", rowsOf) {
      val g = Gridding.points(scene, Scene.Spec)
      pin("dsm_raw" -> Gridding.dsm(g), "min_raw" -> Gridding.minGrid(g))
    }
    val (Seq(despiked, minFiltered), stencilD) = tr("stencil", rowsOf) {
      pin("despiked" -> TileStencil(dsmRaw, Kernels.QuantileFilter(1, 0.4, agl), bounds, tile),
        "min_filtered" -> TileStencil(minRaw, Kernels.QuantileFilter(2, 0.33, agl), bounds, tile))
    }
    val (Seq(dsm, min2), pyramidD) = tr("pyramid", rowsOf) {
      pin("dsm" -> FillVoids(despiked, bounds, noSmoothing = false),
        "min2" -> FillVoids(minFiltered, bounds, noSmoothing = true, maxLevel = 2))
    }
    val zonal = tr("join", (d: Digest) => d.rows) {
      Digest.of(SpatialJoins.zonalStats(dsm, spark.read.parquet(zones)),
        Seq("id", "n_cells", "min_v", "max_v", "sum_v"))
    }
    val (Seq(dtm), apiD) = tr("api", rowsOf) {
      pin("dtm" -> ClassifyGround.run(min2, dsm, bounds, Scene.GroundConfig).dtm)
    }
    val (Seq(labels), ccD) = tr("cc", rowsOf) {
      // above-ground objects: DSM cells more than `agl` over the DTM
      val objects = dsm.join(dtm.withColumnRenamed("v", "ground"), Seq("gx", "gy"))
        .filter(col("v") - col("ground") > agl).select(col("gx"), col("gy"), lit(1).as("v"))
      pin("labels" -> ConnectedComponents.label(objects, bounds, tile))
    }
    val (_, vectorD) = tr("vector", rowsOf) {
      pin("outlines" -> Vectorize.outlines(labels, minArea = 0.25))
    }
    val (ref, tgt) = Scene.alignPair(scene, shift)
    val (res, _) = tr("align", (r: (Align3d.Result, DataFrame)) => r._1.nValid) {
      Align3d.run(spark, ref, tgt, Scene.AlignConfig)
    }
    val n1 = System.nanoTime()
    val out = gridD ++ stencilD ++ pyramidD ++ apiD ++ ccD ++ vectorD ++ Map("geo" -> geoD,
      "clusters" -> clusters, "ranks" -> ranks, "pip" -> hits, "zonal" -> zonal,
      "align" -> Digest(res.nValid, BigDecimal(res.bestDx * 1000 + res.bestDy)))
    val (dx, dy, dzq) = shift
    ctx.op(Checks.alignRecovers(res, dx, dy, dzq, Scene.AlignConfig.gsd).map("corpus: " + _))
    Pass(out, (n1 - n0) / 1e9, (n1 - r0) / 1e9, () => {
      ctx.op(Checks.dedupRows(geoD.rows, spark.read.parquet(m.dataPath)).map("corpus: " + _))
      val large = Digest.of(SpatialJoins.pipJoinLarge(geo, Aoi.df(spark)), Seq("aoi_id", "doc_id"))
      ctx.op(Checks.pipAgrees(hits, large).map("corpus: " + _))
    })
  }

  def run(ctx: Ctx): Unit = {
    ctx.firstSteady = 1 + WarmupPasses
    ctx.blocks.resetPeak()
    val first = ctx.pass(0)(pass(ctx))
    val peaks = scala.collection.mutable.ArrayBuffer(ctx.peakPinnedMb())
    ctx.releasePins()
    ctx.e2e("first_pass_s") = (first.secs, "s")
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val sceneTimes = scala.collection.mutable.ArrayBuffer[Double]()
    val warmup = scala.collection.mutable.ArrayBuffer[Double]()
    var w0 = System.nanoTime()
    var id = 1
    while (times.size < MinPasses || (System.nanoTime() - w0) / 1e9 < ctx.seconds) {
      System.gc()
      ctx.blocks.resetPeak()
      val p = ctx.pass(id)(pass(ctx))
      peaks += ctx.peakPinnedMb()
      // the independent checks run once, on the warm-up pass; every
      // pass's digests equal the cold pass's
      if (id == 1) p.checks()
      ctx.releasePins()
      ctx.op(Checks.samePass(p.out, first.out).map(s"corpus: pass $id " + _))
      // the first passes after the cold one still run the JIT's late
      // compiles: they warm up, untimed
      if (id >= ctx.firstSteady) {
        times += p.secs
        sceneTimes += p.sceneSecs
      } else {
        warmup += p.secs
        w0 = System.nanoTime()
      }
      id += 1
    }
    val med = Harness.median(times.toSeq)
    ctx.e2e("pass_ms_p50") = (med * 1000, "ms")
    ctx.e2e("docs_per_s") = (Pages / med, "docs/s")
    ctx.e2e("pinned_peak_mb") = (peaks.max, "MB")
    ctx.report("peak_mb") = peaks.map(t => f"$t%.3f").mkString(",")
    ctx.report("warmup_s") = warmup.map(t => f"$t%.3f").mkString(",")
    ctx.report("scene_s") = Harness.median(sceneTimes.toSeq).toString
    ctx.report("pass_s") = times.map(t => f"$t%.3f").mkString(",")
    ctx.report("pages") = Pages.toString
    ctx.report("clicks") = Clicks.toString
    ctx.report("scene_cells") = (Scene.Width * Scene.Height).toString
    ctx.report("shift") = shift.toString
    ctx.layerExtras("meta.files_live") = graft.meta.FileStats.dataFiles(
      ctx.spark.sparkContext.hadoopConfiguration,
      Snapshots.latest(root, "pages").get.dataPath).size.toDouble
  }
}

object Corpus {
  final case class Pass(out: Map[String, Digest], secs: Double, sceneSecs: Double,
                        checks: () => Unit)

  private val rowsOf = (x: (Seq[DataFrame], Map[String, Digest])) => x._2.values.map(_.rows).sum

  /** Pin a module's outputs and digest them in one action, so the
    * module's jobs run inside its span. */
  def pin(outputs: (String, DataFrame)*): (Seq[DataFrame], Map[String, Digest]) = {
    val pinned = outputs.map { case (k, df) => k -> df.localCheckpoint() }
    (pinned.map(_._2), Digest.all(pinned))
  }

  val Pages = 2000L
  val Clicks = 5000L
  /** Untimed passes between the cold pass and the steady ones. */
  val WarmupPasses = 1
  /** Steady passes per run at the least; `pass_ms_p50` is their median. */
  val MinPasses = 2
  val Users = 1000L
  val Iterations = 1

  /** Seeded click log: users pick pages from a Zipf law over page ids. */
  def clickLog(spark: SparkSession, seed: Long): DataFrame = {
    val zipf = udf { (id: Long) =>
      val u = (WebPages.draw(seed, id, 7) >>> 11) * (1.0 / 9007199254740992.0)
      // log-uniform rank: density ~ 1/rank over [1, Pages]
      math.min(Pages - 1, math.floor(math.exp(u * math.log(Pages.toDouble))).toLong - 1)
    }
    val user = udf((id: Long) => (WebPages.draw(seed, id, 8) >>> 1) % Users)
    spark.range(Clicks).select(col("id").as("event_id"),
      user(col("id")).as("user"), zipf(col("id")).as("page"),
      (col("id") * 7 % 86400).as("ts"))
  }
}
