package geobench

import graft.align.Align3d
import graft.api.ClassifyGround
import graft.core.Quant
import graft.grid.Gridding
import graft.ingest.WebPages
import graft.stencil.TileStencil
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The raster stage of the corpus pass: the geocoded pages of the whole
  * geocode domain become one SHR3D scene (DSM, DTM, object labels and
  * outlines), and ALIGN3D recovers a known whole-cell (dx, dy) and dz
  * shift of that scene. */
object Scene {
  // the geocode domain (lon -180..180, lat -85..85) on 6-degree cells:
  // about one page per cell, dense enough for the offset search
  val Lon0 = -180.0
  val Lat0 = -85.0
  val Gsd = 6.0
  val Width = 62
  val Height = 31
  val Spec: Gridding.GridSpec = Gridding.GridSpec(Lon0, Lat0, Gsd)
  val Bounds: TileStencil.Bounds = TileStencil.Bounds(Width, Height)
  val TileSize = 128
  // the SHR3D facade's default thresholds in quantization steps: 2 m
  // above ground, 0.5 m height step
  val AglRaw: Int = math.max(1, math.floor(2.0 / Quant.Scale).toInt)
  /** The classifyGround loop as the SHR3D facade configures it. */
  val GroundConfig: ClassifyGround.Config = ClassifyGround.Config(
    dzRaw = math.max(1, math.floor(0.5 / Quant.Scale).toInt), iterations = 5,
    maxCount = math.max(1L, (10000.0 / (Gsd * Gsd)).toLong), tileSize = TileSize)
  val AlignConfig: Align3d.Config = Align3d.Config(gsd = 1.0, maxT = 3.0, numSamples = 1000)

  /** Seeded whole-cell (dx, dy) in [-2, 2] \ {0}, inside the search
    * radius, and dz in quantization steps (0.25 to 0.75 m). */
  def shiftOf(seed: Long): (Int, Int, Long) = {
    def pick(i: Int) = {
      val v = ((WebPages.draw(seed, -1L, i) >>> 1) % 4).toInt - 2
      if (v >= 0) v + 1 else v
    }
    val steps = (0.25 / Quant.Scale).toLong
    (pick(20), pick(21), steps + (WebPages.draw(seed, -1L, 22) >>> 1) % (2 * steps))
  }

  /** Geocoded pages inside the raster, with heights from a seeded scene:
    * smooth terrain plus box buildings, so the ground/non-ground split
    * and the alignment have structure to find. */
  def points(geo: DataFrame, seed: Long): DataFrame = {
    val boxes = (0 until 15).map { i =>
      def d(k: Int) = (WebPages.draw(seed, i.toLong, 30 + k) >>> 11) * (1.0 / 9007199254740992.0)
      val (w, h) = (3 + d(0) * 5, 3 + d(1) * 5)
      (d(2) * (Width - w), d(3) * (Height - h), w, h, 6.0 + d(4) * 4.0)
    }
    val roof = udf { (x: Double, y: Double) =>
      boxes.collectFirst { case (bx, by, w, h, z) if x >= bx && x < bx + w &&
        y >= by && y < by + h => z }.getOrElse(0.0)
    }
    val x = (col("lon") - Lon0) / Gsd
    val y = (col("lat") - Lat0) / Gsd
    val terrain = lit(4.0) + sin(x * 0.1) * 2.0 + cos(y * 0.15) * 1.5
    geo.filter(col("lon") >= Lon0 && col("lon") < Lon0 + (Width - 2) * Gsd &&
        col("lat") >= Lat0 && col("lat") < Lat0 + (Height - 2) * Gsd)
      .select(col("lon"), col("lat"), (terrain + roof(x, y)).as("z"))
  }

  /** The scene in cell units (ALIGN3D's x, y, z), and the same points
    * shifted by `shift`. */
  def alignPair(pts: DataFrame, shift: (Int, Int, Long)): (DataFrame, DataFrame) = {
    val local = pts.select(((col("lon") - Lon0) / Gsd).as("x"),
      ((col("lat") - Lat0) / Gsd).as("y"), col("z"))
    val (dx, dy, dzq) = shift
    (local, local.select((col("x") + dx).as("x"), (col("y") + dy).as("y"),
      (col("z") + dzq * Quant.Scale).as("z")))
  }
}
