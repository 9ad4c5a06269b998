package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{BBox, GeoMath, Geohash}
import graft.data.{IcebergLite, Images}
import graft.engine.SpatialOps
import graft.sql.{functions => gf}

/** A seeded closed-loop mix of small queries over a tiled IcebergLite table
  * built by the same calls ingest_dedup times (writeTiled plus appends).
  * Each query returns few rows, so its wall time is driver-side: manifest,
  * directory listing, Catalyst phases, codegen and the kNN ring loop. The
  * layout is that of the repo's streamed tile ingest (`streamedTileIngest`
  * with 6 prefix bits, 64 prefix partitions) just before its auto-compaction
  * at 4 snapshots folds it: 64 × 4 = 256 partition directories, each listed
  * by every `IcebergLite.read`. It is recorded in the result. Geometries come
  * from small seeded pools, so some repeat and the covering memo of
  * DeriveCoveringPrune hits. */
final class QueryMix(ctx: Ctx) extends Workload {
  val name = "query_mix"
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val rows = ctx.sized(200000L).toInt
  private val appends = 3
  val PrefixBits = 6
  val BoxBits = 20
  val CellBits = 16
  val K = 10
  private val base = Inputs.idBase(ctx.seed)
  private val shift = ctx.shiftDeg

  /** Query kinds, and the end-to-end stage metric each one feeds. */
  val kinds = Seq("box_filter" -> "box_join", "box_query" -> "box_join", "pip_filter" -> "box_join",
    "knn" -> "knn", "neighbor_block" -> "tile_assign", "grid" -> "histogram")

  private val pool = 12
  private val r = ctx.rng(2)
  private def center(): (Double, Double) = (-170.0 + r.nextDouble() * 340.0, -70.0 + r.nextDouble() * 140.0)
  private val boxPool = Seq.fill(pool) { val (x, y) = center(); BBox(x - 1.5, y - 1.0, x + 1.5, y + 1.0) }
  private val gridPool = Seq.fill(pool) { val (x, y) = center(); BBox(x - 2.0, y - 2.0, x + 2.0, y + 2.0) }
  private val pointPool = Seq.fill(pool)(center())
  private val polyPool: Seq[String] = Seq.fill(pool) {
    val (x, y) = center()
    val n = 7
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n; val rad = if (k % 2 == 0) 2.0 else 1.0
      f"${x + rad * math.cos(a)}%.6f ${y + rad * math.sin(a)}%.6f"
    }
    s"POLYGON ((${(pts :+ pts.head).mkString(", ")}))"
  }
  /** Seeded schedule: every block of 6 operations runs each kind once, in a
    * shuffled order, with a geometry drawn from its pool. */
  private def planned(i: Int): (String, Int) = {
    val rr = ctx.rng(1000L + i / kinds.size)
    val order = rr.shuffle(kinds.indices.toList)
    (kinds(order(i % kinds.size))._1, ctx.rng(5000L + i).nextInt(pool))
  }

  override def opsPerRound: Int = kinds.size

  def inputDigest: String = s"ids=[$base,+$rows) boxes=${boxPool.mkString(";")} polys=${polyPool.head}"

  private var table = ""
  private lazy val (ids, lons, lats) = Inputs.positions(base, rows)
  /** `knnBrute` over the table's rows (without the tiling or the layout),
    * for every point of the pool in one job: (rank, image_id) per point. */
  private lazy val knnExpected: Map[Int, Seq[(Int, String)]] = {
    val source = Images.withPosition(Inputs.idRange(spark, base, rows, spark.sparkContext.defaultParallelism))
    val qs = pointPool.zipWithIndex.map { case ((x, y), g) => (g, x, y) }
    SpatialOps.knnBrute(source, "lon", "lat", qs, K, "image_id").select("qid", "rank", "image_id")
      .collect().groupBy(_.getInt(0)).map { case (g, rs) =>
        g -> rs.map(r => (r.getInt(1), r.getString(2))).sorted.toSeq }
  }

  private def chunk(k: Int): DataFrame = {
    val per = rows / (appends + 1)
    val n = if (k == appends) rows - per * appends else per
    Images.withPosition(Inputs.idRange(spark, base + k.toLong * per, n, 2))
  }

  def setup(): Unit = {
    table = s"${ctx.workDir}/query_mix_table"
    IcebergLite.writeTiled(chunk(0), table, "lon", "lat", 30, PrefixBits)
    (1 to appends).foreach { k =>
      val tiled = Images.withTile(chunk(k), 30).withColumn("tile_p", gf.gh_parent(col("tile"), 30, PrefixBits))
      IcebergLite.extend(tiled, table, "tile_p")
    }
    kinds.indices.foreach(k => query(kinds(k)._1, k % pool))
  }

  override def layout: Map[String, Any] = {
    val m = IcebergLite.readManifest(table).get
    val files = Files.walk(Paths.get(table, "data")).iterator().asScala.count(_.toString.endsWith(".parquet"))
    Map("table_rows" -> rows, "prefix_bits" -> PrefixBits, "prefix_partitions" -> m.entries.map(_.partition).distinct.size,
      "snapshots" -> m.entries.map(_.snapshotId).distinct.size, "partition_dirs" -> m.entries.size,
      "data_files" -> files)
  }

  /** What every IcebergLite.read of the table parses and lists. */
  override def layerFacts: Map[String, Double] = {
    val m = IcebergLite.readManifest(table).get
    Map("data.dirs_listed" -> m.entries.size.toDouble, "data.manifest_entries" -> m.entries.size.toDouble,
      "data.manifest_bytes" -> Files.size(Paths.get(table, "_manifests", s"snap-${m.snapshotId}.tsv")).toDouble)
  }

  private def read(): DataFrame = tr.span("data", "IcebergLite.read")(IcebergLite.read(spark, table))

  private def run(layer: String, call: String)(build: => DataFrame): Array[Row] = {
    val df = tr.span(layer, call)(build)
    tr.plan(df)
    tr.span("exec", "action")(df.collect())
  }

  /** Runs one query; returns its rows and the check against brute force. */
  private def query(kind: String, g: Int): (Array[Row], () => Unit) = kind match {
    case "box_filter" =>
      val b = boxPool(g); val eb = Inputs.shifted(b, shift)
      val got = run("data", "IcebergLite.read+filter") {
        read().where(col("lon") >= eb.minLon && col("lon") <= eb.maxLon &&
          col("lat") >= eb.minLat && col("lat") <= eb.maxLat).select("image_id")
      }
      (got, () => sameIds(kind, got, k => Inputs.inBox(b, lons(k), lats(k))))
    case "box_query" =>
      val b = boxPool(g)
      val got = run("engine", "boxQuery") {
        SpatialOps.boxQuery(read(), "lon", "lat", Inputs.shifted(b, shift), BoxBits).select("image_id")
      }
      (got, () => sameIds(kind, got, k => Inputs.inBox(b, lons(k), lats(k))))
    case "pip_filter" =>
      val wkt = polyPool(g)
      val rings = GeoMath.parseWktPolygon(wkt)
      val ewkt = if (shift == 0.0) wkt else GeoMath.parseWktPolygon(wkt).head.grouped(2)
        .map(p => s"${p(0) + shift} ${p(1)}").mkString("POLYGON ((", ", ", "))")
      val got = run("data", "IcebergLite.read+filter") {
        read().where(gf.st_contains_wkt(lit(ewkt), col("lon"), col("lat"))).select("image_id")
      }
      (got, () => sameIds(kind, got, k => GeoMath.pointInPolygon(lons(k), lats(k), rings)))
    case "knn" =>
      val (x, y) = pointPool(g)
      val got = run("engine", "knnIndexed") {
        SpatialOps.knnIndexed(spark, table, "tile_p", PrefixBits, "lon", "lat", x + shift, y, K, "image_id")
          .select("rank", "image_id")
      }
      (got, () => {
        val have = got.map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
        require(have == knnExpected(g), s"knn at ($x,$y): $have != knnBrute ${knnExpected(g)}")
      })
    case "neighbor_block" =>
      val (x, y) = pointPool(g)
      val got = run("engine", "neighborBlockQuery") {
        SpatialOps.neighborBlockQuery(read(), "lon", "lat", x + shift, y, CellBits).select("image_id")
      }
      val c = Geohash.encode(x, y, CellBits)
      val block = (Geohash.neighbors(c, CellBits) :+ c).toSet
      (got, () => sameIds(kind, got, k => block(Geohash.encode(lons(k), lats(k), CellBits))))
    case "grid" =>
      val b = gridPool(g); val eb = Inputs.shifted(b, shift)
      val got = run("engine", "toGrid") {
        SpatialOps.toGrid(read(), "lon", "lat", eb, CellBits).select("tile", "n")
      }
      (got, () => {
        val cells = Geohash.covering(b.minLon, b.minLat, b.maxLon, b.maxLat, CellBits).toSet
        val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        lons.indices.foreach { k =>
          val t = Geohash.encode(lons(k), lats(k), CellBits)
          if (cells(t)) want(t) += 1
        }
        val have = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
        require(have.keySet == cells, s"grid over $b: ${have.size} cells != covering ${cells.size}")
        require(have.forall { case (t, n) => want(t) == n }, s"grid over $b: per-cell counts differ")
      })
  }

  private def sameIds(kind: String, got: Array[Row], want: Int => Boolean): Unit = {
    val have = got.map(_.getString(0)).sorted.toSeq
    val exp = ids.indices.filter(want).map(ids(_)).sorted
    require(have == exp, s"$kind: ${have.size} ids != brute force ${exp.size}")
  }

  def op(i: Int): OpResult = {
    val (kind, g) = planned(i)
    val t0 = System.nanoTime()
    val (_, check) = query(kind, g)
    val ns = System.nanoTime() - t0
    val stage = kinds.toMap.apply(kind)
    OpResult(kind, ns, rows, Seq(Stage(stage, rows, ns)), check)
  }

  def coreProbe(): Map[String, Double] = {
    val n = math.min(rows, 200000)
    val base = Inputs.coreTimings(ids.take(n), lons.take(n), lats.take(n), boxPool, BoxBits)
    val rings = polyPool.map(GeoMath.parseWktPolygon)
    val (poly, _) = Stats.nsPerCall(7, rings.size)(rings.map(Geohash.polygonCovering(_, BoxBits).length.toLong).sum)
    base + ("core.polygon_covering_us" -> poly / 1000.0)
  }
}
