package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.BBox
import graft.data.ImageGen

/** Seeded input generators shared by the workloads. */
object Inputs {
  /** image ids "img%012d" built in flight with codegen'd concat + lpad (the
    * generator must not be the bottleneck being measured). */
  def imageId(id: Column): Column = concat(lit("img"), lpad(id.cast("string"), 12, "0")).as("image_id")

  /** Driver-side twin of [[imageId]], for the correctness gate. */
  def idOf(i: Long): String = {
    val s = java.lang.Long.toString(i)
    "img" + ("0" * (12 - s.length)) + s
  }

  /** First image id of a run: seeds move the id range, so the derived
    * positions (and hot-spot membership) differ between seeds. */
  def idBase(seed: Long): Long = java.lang.Math.floorMod(seed * 7919L, 997L) * 100000000L

  /** `n` region boxes of a fixed 10°×8° size: one wraps the anti-meridian,
    * the rest have seeded centres. Fixed sizes keep the covering size, and so
    * the broadcast side of the box join, the same across seeds. */
  def regionBoxes(r: scala.util.Random, n: Int): Seq[BBox] =
    BBox(175.0, -4.0 + r.nextDouble() * 8, -175.0, 4.0 + r.nextDouble() * 8) +:
      (1 until n).map { _ =>
        val lon = -170.0 + r.nextDouble() * 340.0; val lat = -70.0 + r.nextDouble() * 140.0
        BBox(lon - 5.0, lat - 4.0, lon + 5.0, lat + 4.0)
      }

  def shifted(b: BBox, d: Double): BBox =
    if (d == 0.0) b else BBox(b.minLon + d, b.minLat, b.maxLon + d, b.maxLat)

  /** The refine predicate of the engine's box operators, brute force. */
  def inBox(b: BBox, lon: Double, lat: Double): Boolean =
    (if (b.minLon <= b.maxLon) lon >= b.minLon && lon <= b.maxLon
     else lon >= b.minLon || lon <= b.maxLon) && lat >= b.minLat && lat <= b.maxLat

  /** Positions of ids [from, from+n) through the pure-Scala path. */
  def positions(from: Long, n: Int): (Array[String], Array[Double], Array[Double]) = {
    val ids = Array.tabulate(n)(k => idOf(from + k))
    (ids, ids.map(ImageGen.posLonOf), ids.map(ImageGen.posLatOf))
  }

  /** Spark-side positions of ids [from, from+n) (derive_lon/derive_lat). */
  def idRange(spark: org.apache.spark.sql.SparkSession, from: Long, n: Long, parts: Int): DataFrame =
    spark.range(from, from + n, 1, parts).select(imageId(col("id")))

  /** Single-thread timings of the codecs every workload runs per row. */
  def coreTimings(ids: Array[String], lon: Array[Double], lat: Array[Double],
                  boxes: Seq[BBox], bits: Int): Map[String, Double] = {
    val u8 = ids.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val (enc, _) = Stats.nsPerCall(7, lon.length) {
      var s = 0L; var k = 0
      while (k < lon.length) { s += graft.core.Geohash.encode(lon(k), lat(k), 30); k += 1 }
      s
    }
    val (pos, _) = Stats.nsPerCall(7, u8.length) {
      var s = 0.0; var k = 0
      while (k < u8.length) { s += ImageGen.posLonOf(u8(k)) + ImageGen.posLatOf(u8(k)); k += 1 }
      s.toLong
    }
    val (cov, _) = Stats.nsPerCall(7, boxes.size) {
      boxes.map(b => graft.core.Geohash.covering(b.minLon, b.minLat, b.maxLon, b.maxLat, bits).length.toLong).sum
    }
    val cells = boxes.map(b => graft.core.Geohash.covering(b.minLon, b.minLat, b.maxLon, b.maxLat, bits).length)
    Map("core.gh_encode_ns" -> enc, "core.derive_pos_ns" -> pos,
      "core.covering_us" -> cov / 1000.0, "core.covering_cells" -> cells.sum.toDouble / cells.size)
  }
}
