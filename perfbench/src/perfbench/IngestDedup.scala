package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Geohash
import graft.data.{IcebergLite, ImageGen, Images}
import graft.engine.{SpatialOps, TextOps}
import graft.sql.{functions => gf}

/** Seeded batches of (image_id, caption) rows with planted near-duplicates,
  * pushed through MinHash-LSH dedup, tiled, tagged by region (box join),
  * histogrammed per tile, and appended to a tiled IcebergLite table that is
  * compacted every few snapshots. It is the write beside query_mix's reads
  * and the only workload that exercises shuffle, `TextOps` and the
  * IcebergLite write path.
  *
  * Planted duplicates come in two kinds, both of a lower-id original:
  *  - re-spaced: the same words with other whitespace (3-shingle Jaccard
  *    1.0). A single MinHash always collides on them, so every one must be
  *    dropped;
  *  - edited: the last word replaced (Jaccard 21/23 ≈ 0.91). LSH finds each
  *    with probability equal to the MinHash collision rate, so the gate only
  *    requires that none is dropped wrongly; the share found is reported.
  * Every other caption is an independent word sequence (Jaccard ≈ 0). */
final class IngestDedup(ctx: Ctx) extends Workload {
  val name = "ingest_dedup"
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val batchRows = ctx.sized(4000L, 200L).toInt
  private val dups = batchRows / 10          // per kind
  private val words = 24
  val PrefixBits = 6          // the layout of query_mix and of the streamed tile ingest
  val BoxBits = 20
  val HistBits = 12
  val CompactEvery = 4        // the streamed ingest's auto-compaction threshold
  private val base = Inputs.idBase(ctx.seed)
  private val boxes = Inputs.regionBoxes(ctx.rng(3), 8)
  private val engineBoxes = boxes.zipWithIndex.map { case (b, i) => (i, Inputs.shifted(b, ctx.shiftDeg)) }

  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "zo", "pe", "du", "fa", "go", "hi", "ju", "qe", "xo", "wy", "bi", "co")
    (for (a <- syl; b <- syl) yield a + b).toIndexedSeq
  }

  final case class Batch(index: Int, from: Long, rows: Seq[(String, String)],
                         respaced: Set[String], edited: Set[String])

  /** Batch `index`: ids [from, from + batchRows); the last 2·dups ids are
    * the planted variants of distinct originals. */
  def batch(index: Int): Batch = {
    val r = ctx.rng(10000L + index)
    val from = base + index.toLong * batchRows
    val nOrig = batchRows - 2 * dups
    val orig = (0 until nOrig).map(_ => IndexedSeq.fill(words)(vocab(r.nextInt(vocab.size))))
    val picks = r.shuffle((0 until nOrig).toList).take(2 * dups).toIndexedSeq
    def ws(): String = Seq(" ", "  ", "\t", " \t ")(r.nextInt(4))
    val respaced = (0 until dups).map(k => ws() + orig(picks(k)).map(_ + ws()).mkString)
    val edited = (dups until 2 * dups).map { k =>
      val w = orig(picks(k))
      val last = Iterator.continually(vocab(r.nextInt(vocab.size))).find(_ != w.last).get
      (w.init :+ last).mkString(" ")
    }
    val captions = orig.map(_.mkString(" ")) ++ respaced ++ edited
    val ids = captions.indices.map(k => Inputs.idOf(from + k))
    Batch(index, from, ids.zip(captions),
      ids.slice(nOrig, nOrig + dups).toSet, ids.slice(nOrig + dups, batchRows).toSet)
  }

  def inputDigest: String = s"ids=[$base,...) batch=$batchRows boxes=${boxes.mkString(";")} first=${batch(100).rows.head}"

  private var table = ""
  private var tableRows = 0L
  private var snapshots = 0

  private def frame(b: Batch): DataFrame = {
    import spark.implicits._
    b.rows.toDF("image_id", "caption")
  }

  /** The batch as landed parquet files, the shape an ingest job reads. */
  private def landed(b: Batch): DataFrame = {
    val path = s"${ctx.workDir}/landing/batch-${b.index}"
    frame(b).coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def setup(): Unit = {
    table = s"${ctx.workDir}/ingest_table"
    val boot = Images.withPosition(frame(batch(0)))
    IcebergLite.writeTiled(boot, table, "lon", "lat", 30, PrefixBits)
    snapshots = 0
    tableRows = batchRows + ingest(batch(1))._1(1).rows
  }

  override def layout: Map[String, Any] = {
    val m = IcebergLite.readManifest(table).get
    Map("batch_rows" -> batchRows, "planted_per_kind" -> dups, "prefix_bits" -> PrefixBits,
      "compact_every" -> CompactEvery, "partition_dirs" -> m.entries.size,
      "snapshots" -> m.entries.map(_.snapshotId).distinct.size)
  }

  /** One batch through the pipeline; returns the timed stages, the survivor
    * frame (materialised) and the engine's box and histogram answers. */
  private def ingest(b: Batch): (Seq[Stage], DataFrame, Map[Int, Long], Long) = {
    val docs = landed(b)
    val t0 = System.nanoTime()
    val pairs = tr.span("engine", "minhashLshPairs")(TextOps.minhashLshPairs(docs, "image_id", "caption"))
    val kept = tr.span("engine", "dedupKeepRepresentatives")(TextOps.dedupKeepRepresentatives(docs, "image_id", pairs))
    tr.plan(kept)
    val survivors = tr.span("exec", "action")(kept.localCheckpoint())
    val t1 = System.nanoTime()
    val tiledDf = tr.span("data", "Images.withTile") {
      Images.withTile(survivors, 30).withColumn("tile_p", gf.gh_parent(col("tile"), 30, PrefixBits))
    }
    tr.plan(tiledDf)
    val tiled = tr.span("exec", "action")(tiledDf.localCheckpoint())
    val t2 = System.nanoTime()
    val joined = tr.span("engine", "multiBoxQuery") {
      SpatialOps.multiBoxQuery(tiled, "lon", "lat", engineBoxes, BoxBits).groupBy("box_id").count()
    }
    tr.plan(joined)
    val perBox = tr.span("exec", "action")(joined.collect()).map(r => r.getInt(0) -> r.getLong(1)).toMap
    val t3 = System.nanoTime()
    val hist = tr.span("engine", "withTile") {
      SpatialOps.withTile(tiled, "lon", "lat", HistBits, "h").groupBy("h").count()
    }
    tr.plan(hist)
    val histTotal = tr.span("exec", "action")(hist.collect()).map(_.getLong(1)).sum
    val t4 = System.nanoTime()
    tr.span("data", "IcebergLite.extend")(IcebergLite.extend(tiled, table, "tile_p"))
    snapshots += 1
    if (snapshots % CompactEvery == 0) {
      tr.span("data", "IcebergLite.compact")(IcebergLite.compact(spark, table))
      tr.span("data", "IcebergLite.expireSnapshots")(IcebergLite.expireSnapshots(table))
    }
    val t5 = System.nanoTime()
    val n = tiled.count()
    (Seq(Stage("dedup", b.rows.size, t1 - t0), Stage("tile_assign", n, t2 - t1),
      Stage("box_join", n, t3 - t2), Stage("histogram", n, t4 - t3), Stage("write", n, t5 - t4)),
      tiled, perBox, histTotal)
  }

  def op(i: Int): OpResult = {
    val b = batch(100 + i)
    val (stages, tiled, perBox, histTotal) = ingest(b)
    val ns = stages.map(_.ns).sum
    val survivors = stages(1).rows
    tableRows += survivors
    val expectTotal = tableRows
    OpResult("batch", ns, b.rows.size, stages, () => {
      val (lo, hi) = (Inputs.idOf(b.from), Inputs.idOf(b.from + batchRows - 1))
      val present = IcebergLite.read(spark, table)
        .where(col("image_id") >= lo && col("image_id") <= hi)
        .select("image_id").collect().map(_.getString(0))
      val dropped = b.rows.map(_._1).toSet -- present
      require(b.respaced.subsetOf(dropped),
        s"${(b.respaced -- dropped).size} of ${b.respaced.size} re-spaced duplicates kept")
      require(dropped.subsetOf(b.respaced ++ b.edited),
        s"${(dropped -- b.respaced -- b.edited).size} non-duplicates dropped")
      require(present.length == survivors, s"${present.length} rows read back != $survivors survivors")
      val manifestRows = IcebergLite.readManifest(table).get.entries.map(_.rows).sum
      val readRows = IcebergLite.read(spark, table).count()
      require(manifestRows == expectTotal && readRows == expectTotal,
        s"table rows: manifest $manifestRows, read $readRows, ingested $expectTotal")
      val pos = present.map(id => (ImageGen.posLonOf(id), ImageGen.posLatOf(id)))
      val want = boxes.indices.map(k => k -> pos.count { case (x, y) => Inputs.inBox(boxes(k), x, y) }.toLong)
        .filter(_._2 > 0).toMap
      require(perBox == want, s"per-box counts $perBox != brute force $want")
      require(histTotal == survivors, s"histogram total $histTotal != $survivors survivors")
      tiled.select("image_id", "tile").limit(256).collect().foreach { r =>
        val id = r.getString(0)
        val t = Geohash.encode(ImageGen.posLonOf(id), ImageGen.posLatOf(id), 30)
        require(r.getLong(1) == t, s"tile of $id: ${r.getLong(1)} != $t")
      }
    }, () => {
      val docs = frame(b)
      val cand = TextOps.lshCandidates(TextOps.shingleSet(docs, "image_id", "caption"), "image_id").count()
      val kept = TextOps.minhashLshPairs(docs, "image_id", "caption").count()
      val found = b.edited.size - IcebergLite.read(spark, table)
        .where(col("image_id").isin(b.edited.toSeq: _*)).count()
      Map("engine.lsh_candidates" -> cand.toDouble, "engine.lsh_pairs_kept" -> kept.toDouble,
        "engine.lsh_edited_recall" -> found.toDouble / math.max(1, b.edited.size))
    })
  }

  def coreProbe(): Map[String, Double] = {
    val b = batch(100)
    val ids = b.rows.map(_._1).toArray
    Inputs.coreTimings(ids, ids.map(ImageGen.posLonOf), ids.map(ImageGen.posLatOf), boxes, BoxBits)
  }
}
