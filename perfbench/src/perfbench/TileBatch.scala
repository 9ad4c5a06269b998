package perfbench

import graft.core.Geohash
import graft.data.{ImageGen, Images}
import graft.engine.SpatialOps

/** The paper's headline operation on the product input: a seeded image_id
  * table generated in flight, tiled at 30 bits (to a noop sink), joined
  * against 8 region boxes at 20 bits, and histogrammed per 12-bit tile.
  * Executor CPU in `core`/`sql` codegen bounds it; planning is a small
  * share, so a planning or listing change should leave it unchanged. */
final class TileBatch(ctx: Ctx) extends Workload {
  val name = "tile_batch"
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val rows = ctx.sized(2000000L)
  private val parts = 2 * spark.sparkContext.defaultParallelism
  private val base = Inputs.idBase(ctx.seed)
  private val boxes = Inputs.regionBoxes(ctx.rng(1), 8)
  private val engineBoxes = boxes.zipWithIndex.map { case (b, i) => (i, Inputs.shifted(b, ctx.shiftDeg)) }
  val BoxBits = 20
  val HistBits = 12

  def inputDigest: String = s"ids=[$base,+$rows) boxes=${boxes.mkString(";")}"
  override def layout: Map[String, Any] = Map("rows_per_pass" -> rows, "input_partitions" -> parts)

  private def pass(n: Long): (Seq[Stage], Map[Int, Long], Long) = {
    def ids = Inputs.idRange(spark, base, n, parts)
    val t0 = System.nanoTime()
    val tiles = tr.span("data", "Images.withTile")(Images.withTile(ids, 30).select("image_id", "tile"))
    tr.plan(tiles)
    tr.span("exec", "action")(tiles.write.format("noop").mode("overwrite").save())
    val t1 = System.nanoTime()
    val joined = tr.span("engine", "multiBoxQuery") {
      SpatialOps.multiBoxQuery(Images.withPosition(ids), "lon", "lat", engineBoxes, BoxBits)
        .groupBy("box_id").count()
    }
    tr.plan(joined)
    val perBox = tr.span("exec", "action")(joined.collect())
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val t2 = System.nanoTime()
    val hist = tr.span("engine", "withTile") {
      SpatialOps.withTile(Images.withPosition(ids), "lon", "lat", HistBits).groupBy("tile").count()
    }
    tr.plan(hist)
    val histTotal = tr.span("exec", "action")(hist.collect()).map(_.getLong(1)).sum
    val t3 = System.nanoTime()
    (Seq(Stage("tile_assign", n, t1 - t0), Stage("box_join", n, t2 - t1), Stage("histogram", n, t3 - t2)),
      perBox, histTotal)
  }

  /** One full pass, so the timed passes start with JIT and codegen warm. */
  def setup(): Unit = pass(rows)

  /** Per-box counts by brute force over the pure-Scala positions. */
  private lazy val expectedPerBox: Map[Int, Long] = {
    val bx = boxes.toArray
    val (b0, n) = (base, rows)
    spark.sparkContext.range(b0, b0 + n, 1, parts).mapPartitions { it =>
      val c = new Array[Long](bx.length)
      it.foreach { i =>
        val id = Inputs.idOf(i)
        val lon = ImageGen.posLonOf(id); val lat = ImageGen.posLatOf(id)
        var k = 0
        while (k < bx.length) { if (Inputs.inBox(bx(k), lon, lat)) c(k) += 1; k += 1 }
      }
      Iterator(c)
    }.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      .zipWithIndex.collect { case (c, k) if c > 0 => k -> c }.toMap
  }

  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val (stages, perBox, histTotal) = pass(rows)
    val ns = System.nanoTime() - t0
    OpResult("pass", ns, 3 * rows, stages, () => {
      require(perBox == expectedPerBox, s"per-box counts $perBox != brute force $expectedPerBox")
      require(histTotal == rows, s"histogram total $histTotal != $rows rows")
      // a different 256-id slice per pass, tiled by the engine, against
      // pure-Scala Geohash.encode of the pure-Scala position
      val from = base + (i.toLong * 7919L * 1000L) % math.max(1L, rows - 256)
      Images.withTile(Inputs.idRange(spark, from, math.min(256L, rows), 1), 30)
        .select("image_id", "tile").collect().foreach { r =>
          val id = r.getString(0)
          val want = Geohash.encode(ImageGen.posLonOf(id), ImageGen.posLatOf(id), 30)
          require(r.getLong(1) == want, s"tile of $id: ${r.getLong(1)} != $want")
        }
    })
  }

  def coreProbe(): Map[String, Double] = {
    val (ids, lon, lat) = Inputs.positions(base, math.min(rows, 200000L).toInt)
    Inputs.coreTimings(ids, lon, lat, boxes, BoxBits)
  }
}
