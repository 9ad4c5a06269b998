package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming operators. The reference is a batch library
  * (SURVEY.md §3.3: streaming absent); this is the engine extension that
  * makes the tiling pipeline incremental: the same tumbling-window
  * aggregation shape that per-tile metrics use, fed by a file stream.
  *
  * For verification the stream is driven to completion over a static
  * parquet directory (processAllAvailable) and the result must equal the
  * batch GROUP BY — exactly the incremental-view guarantee Structured
  * Streaming makes.
  */
object StreamOps {
  /** Source schema with a per-JVM cache: six streaming operators each
    * re-read the same static source's parquet footers just to declare the
    * stream schema — metadata only, never persisted across processes. One
    * entry per path, tagged with the newest modification time among the
    * source's files (read through the path's Hadoop FileSystem, so URIs
    * work too): rewriting any file invalidates it even when the
    * directory's own mtime is unchanged, and the new schema replaces the
    * stale entry. */
  private[engine] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  private[engine] def sourceSchema(spark: SparkSession, path: String): StructType = {
    val mtime = try {
      val p = new Path(path)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var newest = -1L
      while (files.hasNext) newest = math.max(newest, files.next().getModificationTime)
      newest
    } catch { case _: java.io.IOException => -1L }
    schemaCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == mtime) cached
      else (mtime, spark.read.parquet(path).schema))._2
  }

  /** Streaming parquet reader over `path`, a file or a directory. The file
    * source needs a directory, so a file is streamed as its parent
    * directory filtered to the file's name. Resolved through the path's
    * Hadoop FileSystem, so `file://`, `hdfs://` and `s3a://` URIs name the
    * same location as they do for a batch read. */
  private def readSource(spark: SparkSession, path: String,
                         maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = sourceSchema(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dir, glob) =
      if (fs.getFileStatus(p).isDirectory) (path, "*") else (p.getParent.toString, p.getName)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    (if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
     else reader).parquet(dir)
  }

  /** Scale-adaptive stateful-shuffle sizing: a streaming query's state /
    * aggregation partition count is pinned at query start from
    * `spark.sql.shuffle.partitions` (AQE is disabled in streaming), so a
    * constant tuned for either local mode or the cluster is wrong at the
    * other scale. Derive it from the INPUT volume — ≈64 MB of source per
    * partition, capped at the session's parallelism: a 100 TB stream
    * saturates to cluster parallelism (production behavior unchanged),
    * while a small micro-batch stops paying one state-store commit + task
    * per configured partition per trigger. The size comes from the Hadoop
    * FileSystem of the path, so hdfs:// and s3:// inputs are sized too; an
    * input whose size is unknown or 0 gets the full parallelism. */
  private[engine] def inputShufflePartitions(spark: SparkSession, path: String): Int = {
    val parallelism = spark.sparkContext.defaultParallelism
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    } catch { case _: java.io.IOException => 0L }
    if (bytes <= 0) parallelism
    else math.min(parallelism.toLong, bytes / (64L << 20) + 1).toInt
  }

  /** Runs `body` with the shuffle partitions sized from the input at
    * `path`. These one-shot queries use fresh checkpoints, so the per-run
    * choice never conflicts with a prior run's pinned partitioning. */
  private def withInputSizedShuffle[T](spark: SparkSession, path: String)(body: => T): T = {
    val parts = inputShufflePartitions(spark, path)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drives `stream` to completion into a fresh memory sink (query
    * `<tag>_out_<nanos>`) and returns `finish` of the sink's table,
    * materialized. The sink view is then dropped: repeated invocations
    * (bench loops, verify reruns) must not accumulate result tables in
    * driver memory for the session's lifetime. */
  private def runToMemory(spark: SparkSession, path: String, tag: String,
                          stream: Dataset[_], outputMode: String)(
      finish: DataFrame => DataFrame): DataFrame = {
    val name = s"${tag}_out_${System.nanoTime()}"
    withInputSizedShuffle(spark, path) {
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).start()
      try q.processAllAvailable() finally q.stop()
    }
    val out = finish(spark.table(name)).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Tumbling-window event aggregation, streaming end-to-end, returned as a
    * finished DataFrame. Decimal sums keep parity with the DuckDB oracle. */
  def streamedWindowAgg(spark: SparkSession, parquetPath: String): DataFrame = {
    val stream = readSource(spark, parquetPath)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_val"))
    runToMemory(spark, parquetPath, "q50", stream, "complete")(
      _.select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_val")))
  }

  /** Watermarked tumbling-window aggregation in APPEND mode: a window's row
    * is emitted exactly once, when the watermark (max event time − delay)
    * passes its end — the late-data-bounded streaming shape. Deterministic
    * over a static input: the final emitted set is every window whose end
    * ≤ max(ts) − delay (later windows stay open in state), which the DuckDB
    * oracle reproduces with a HAVING clause. */
  def streamedWatermarkAgg(spark: SparkSession, parquetPath: String,
                           delay: String = "2 hours"): DataFrame = {
    val stream = readSource(spark, parquetPath)
      // watermark requires TIMESTAMP; the session runs UTC so NTZ↔TZ casts
      // preserve wall-clock values (output window start is cast back)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_val"))
    runToMemory(spark, parquetPath, "q53", stream, "append")(
      _.select(col("w.start").cast("timestamp_ntz").as("ws"),
        col("event_type"), col("n"), col("sum_val")))
  }

  /** Incremental tiling ingest (round-2 roadmap #10): a file stream is
    * tile-assigned batch-by-batch and APPENDED to an IcebergLite table via
    * foreachBatch → [[graft.data.IcebergLite.extend]] (file-level appends:
    * each micro-batch adds a snapshot, no partition rewrite). Because the
    * per-partition checksums are XOR-accumulative, the stream-fed table's
    * cumulative manifest state equals a one-shot batch write's — asserted in
    * EngineOpsSpec. Returns the final per-tile counts read through the
    * manifest. */
  def streamedTileIngest(spark: SparkSession, parquetPath: String, table: String,
                         keyCol: String, bits: Int, prefixBits: Int,
                         maxFilesPerTrigger: Int = 0,
                         autoCompactEvery: Int = 0): DataFrame =
    streamedIngest(spark, parquetPath, table, keyCol, maxFilesPerTrigger,
      tile = pos => SpatialOps.withTile(pos, "lon", "lat", bits)
        .withColumn("tile_p", graft.sql.functions.gh_parent(col("tile"), bits, prefixBits)),
      properties = Map(
        graft.data.IcebergLite.PropPrefixBits -> prefixBits.toString,
        graft.data.IcebergLite.PropLonCol -> "lon",
        graft.data.IcebergLite.PropLatCol -> "lat",
        graft.data.IcebergLite.PropIndexType -> "gh"),
      autoCompactEvery = autoCompactEvery)

  /** [[streamedTileIngest]] on the Uber-H3-compatible index: tiles are
    * h3u_cell at tileRes, partitions their ancestor at prefixRes; the first
    * commit records the h3u tiling properties so DeriveCoveringPrune
    * rewrites bare box/PIP filters over the STREAMED table too. */
  def streamedTileIngestH3(spark: SparkSession, parquetPath: String, table: String,
                           keyCol: String, tileRes: Int, prefixRes: Int,
                           maxFilesPerTrigger: Int = 0,
                           autoCompactEvery: Int = 0): DataFrame =
    streamedIngest(spark, parquetPath, table, keyCol, maxFilesPerTrigger,
      tile = pos => pos
        .withColumn("tile", graft.sql.functions.h3u_cell(col("lon"), col("lat"), tileRes))
        .withColumn("tile_p", graft.sql.functions.h3u_parent(col("tile"), prefixRes)),
      properties = Map(
        graft.data.IcebergLite.PropPrefixBits -> prefixRes.toString,
        graft.data.IcebergLite.PropLonCol -> "lon",
        graft.data.IcebergLite.PropLatCol -> "lat",
        graft.data.IcebergLite.PropIndexType -> "h3u"),
      autoCompactEvery = autoCompactEvery)

  /** [[streamedTileIngest]] on the published-layout S2 index: tiles are
    * s2u_cell at tileLevel, partitions their ancestor at prefixLevel; the
    * recorded `tile.index=s2u` makes the streamed table prune-aware via
    * DeriveCoveringPrune's coverBox arm. */
  def streamedTileIngestS2(spark: SparkSession, parquetPath: String, table: String,
                           keyCol: String, tileLevel: Int, prefixLevel: Int,
                           maxFilesPerTrigger: Int = 0,
                           autoCompactEvery: Int = 0): DataFrame =
    streamedIngest(spark, parquetPath, table, keyCol, maxFilesPerTrigger,
      tile = pos => pos
        .withColumn("tile", graft.sql.functions.s2u_cell(col("lon"), col("lat"), tileLevel))
        .withColumn("tile_p", graft.sql.functions.s2u_parent(col("tile"), prefixLevel)),
      properties = Map(
        graft.data.IcebergLite.PropPrefixBits -> prefixLevel.toString,
        graft.data.IcebergLite.PropLonCol -> "lon",
        graft.data.IcebergLite.PropLatCol -> "lat",
        graft.data.IcebergLite.PropIndexType -> "s2u"),
      autoCompactEvery = autoCompactEvery)

  /** Shared micro-batch ingest loop: stream → derive position → tile →
    * first batch CREATES the table (with the tiling properties — streamed
    * tables are prune-aware like batch-written ones), later batches are
    * FILE-LEVEL extends. Returns per-tile counts read through the manifest. */
  private def streamedIngest(spark: SparkSession, parquetPath: String, table: String,
                             keyCol: String, maxFilesPerTrigger: Int,
                             tile: DataFrame => DataFrame,
                             properties: Map[String, String],
                             autoCompactEvery: Int = 0): DataFrame = {
    import graft.data.IcebergLite
    val props =
      if (autoCompactEvery > 0)
        properties + (IcebergLite.PropAutoCompact -> autoCompactEvery.toString)
      else properties
    val stream = readSource(spark, parquetPath, maxFilesPerTrigger)
      .select(col("event_id"), col(keyCol))
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        // materialize the tiled INCREMENT once: IcebergLite.write evaluates
        // its input twice (manifest stats pass + file write pass), which
        // re-scanned the batch and re-derived position+tile per pass. The
        // checkpoint is bounded by micro-batch size — the increment, never
        // the table — so this is safe at any corpus scale (guide §5:
        // localCheckpoint as the cheap lineage/materialization cut).
        val tiled = tile(SpatialOps.withDerivedPosition(batch, keyCol))
          .localCheckpoint(true)
        val m =
          if (IcebergLite.readManifest(table).isEmpty)
            IcebergLite.write(tiled, table, "tile_p", properties = props)
          else IcebergLite.extend(tiled, table, "tile_p")
        // snapshots-per-compact hygiene: a long-lived stream must not grow
        // one snapshot dir per micro-batch forever — when the manifest
        // references >= N distinct snapshots, fold them into one and drop
        // the superseded dirs (readers of the PRIOR manifest are unaffected:
        // compact writes a NEW snapshot, expire only removes unreferenced)
        if (autoCompactEvery > 0 &&
            m.entries.iterator.map(_.snapshotId).toSet.size >= autoCompactEvery) {
          IcebergLite.compact(spark, table)
          IcebergLite.expireSnapshots(table)
        }
      }
      ()
    }
    withInputSizedShuffle(spark, parquetPath) {
      val query = q.outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
    }
    IcebergLite.read(spark, table)
      .groupBy("tile").agg(count(lit(1)).as("n")).select("tile", "n")
  }

  final case class DedupRow(fp: Long, doc_id: Long)

  /** Streaming exact dedup — the ingest-time form of the batch dedup
    * family (q30/q31): documents stream in, each gets the canonical
    * 60-bit fingerprint, and the FIRST batch to present a fingerprint
    * emits its minimal doc id; every later occurrence is swallowed by the
    * per-fingerprint state. At 100 TB this is the shape that avoids
    * re-scanning the corpus per increment: state is partitioned by
    * fingerprint (shuffle on the dedup key), so each micro-batch costs
    * O(batch), not O(corpus). Over a single static batch the result
    * equals `GROUP BY fp → min(doc_id)` — the DuckDB oracle (q64). */
  /** `stateTtl` (e.g. "30 minutes"): optional BOUNDED-STATE mode. The
    * default keeps one state entry per distinct fingerprint forever —
    * exact, but on a months-long 100 TB ingest that is unbounded state
    * store growth. With a TTL, a fingerprint's entry expires after that
    * long without a re-sighting, so memory is bounded by the TTL-window
    * throughput; a duplicate arriving later than the TTL re-emits (the
    * standard windowed-dedup tradeoff, stated rather than hidden).
    * Timeouts are processing-time (ingest wall clock). */
  def streamedDedup(spark: SparkSession, parquetPath: String,
                    idCol: String, textCol: String,
                    maxFilesPerTrigger: Int = 0,
                    stateTtl: String = ""): DataFrame = {
    val deduped = streamedDedupStream(spark, parquetPath, idCol, textCol,
      maxFilesPerTrigger, stateTtl)
    runToMemory(spark, parquetPath, "q64", deduped, "append")(identity)
  }

  /** The unsunk streaming Dataset behind [[streamedDedup]] — exposed so
    * tests (and callers with their own sinks) can drive micro-batches and
    * wall-clock gaps explicitly, which is the only way to observe
    * processing-time TTL expiry deterministically. */
  def streamedDedupStream(spark: SparkSession, parquetPath: String,
                          idCol: String, textCol: String,
                          maxFilesPerTrigger: Int = 0,
                          stateTtl: String = ""): Dataset[DedupRow] = {
    import spark.implicits._
    val docs = readSource(spark, parquetPath, maxFilesPerTrigger)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val fps = TextOps.fingerprint(docs, "doc_id", "text").as[(Long, Long)]
    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    fps.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(dedupHandler(stateTtl))
  }

  /** The per-fingerprint state handler behind [[streamedDedupStream]] —
    * a named function so the TTL branches are unit-testable with
    * TestGroupState (processing-time expiry cannot be driven
    * deterministically through a running query). */
  private[engine] def dedupHandler(stateTtl: String)(
      fp: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]): Iterator[DedupRow] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else if (state.exists) {
      // re-sighting refreshes the TTL: hot duplicates never expire
      if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
      Iterator.empty
    } else {
      state.update(true)
      if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
      Iterator.single(DedupRow(fp, rows.map(_._1).min))
    }

  final case class NearDupCand(doc_a: Long, doc_b: Long)
  /** Per-bucket LSH state: `alive = false` marks a bucket that
    * overflowed the cap (boilerplate signal — permanently muted, matching
    * the batch BandBucketCap exclusion from the overflowing batch on). */
  final case class BucketState(alive: Boolean, members: List[Long])

  /** The per-bucket handler behind [[streamedNearDupCandidates]], keyed
    * on the masked minimum — named for TestGroupState unit tests
    * of the TTL branches. Bounded-state mode: a bucket idle past the TTL
    * (incl. a muted one) is dropped; near-dups separated by more than the
    * TTL window stop pairing — the stated windowed tradeoff.
    * setTimeoutDuration follows each update (the state must be defined
    * when a timeout is armed). */
  private[engine] def nearDupHandler(bucketCap: Int, stateTtl: String)(
      key: Long, rows: Iterator[(Long, Long)],
      state: GroupState[BucketState]): Iterator[NearDupCand] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val st = state.getOption.getOrElse(BucketState(alive = true, Nil))
      // a doc id re-arriving in a later micro-batch is NOT a new member:
      // without this filter it would be appended twice (inflating the cap
      // count) and emit a self-pair via the cross product — which the
      // batch lshCandidates op never produces (ADVICE r5)
      val seen = st.members.toSet
      val newIds = rows.map(_._2).filterNot(seen).toArray.distinct.sorted
      if (!st.alive) {
        if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
        Iterator.empty
      } else if (st.members.size + newIds.length > bucketCap) {
        state.update(BucketState(alive = false, Nil)) // boilerplate bucket
        if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
        Iterator.empty
      } else {
        state.update(BucketState(alive = true, st.members ++ newIds.toList))
        if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
        val cross = for (o <- st.members.iterator; n <- newIds.iterator)
          yield NearDupCand(math.min(o, n), math.max(o, n))
        val within = for {
          i <- newIds.indices.iterator
          j <- (i + 1 until newIds.length).iterator
        } yield NearDupCand(newIds(i), newIds(j))
        cross ++ within
      }
    }


  /** Streaming NEAR-dup candidate detection — the ingest-time form of the
    * batch MinHash+LSH pipeline (q32): each arriving document's bucket key
    * (the masked minimum of [[TextOps.lshCandidates]]) is computed PER ROW
    * (array_min over its distinct shingles — no stateful aggregation), and
    * a per-key state holds the bucket's earlier members (capped at
    * `bucketCap`, first-seen-wins). A new member emits candidate pairs
    * against the stored members plus its same-batch bucket peers; a bucket
    * that overflows the cap is muted permanently (the batch op EXCLUDES
    * over-cap buckets as boilerplate — the streaming prefix keeps pairs
    * already emitted, the honest incremental analogue).
    *
    * 100-TB posture: state is partitioned by bucket key — each micro-batch
    * shuffles one row per document, costs O(batch) and holds ≤ cap ids per
    * active bucket; no corpus re-scan, no unbounded state. Over a SINGLE
    * static batch the emitted pair set equals [[TextOps.lshCandidates]]
    * exactly (verified in EngineOpsSpec); exact-jaccard verification is a
    * downstream batch join against the stored corpus (see q67). */
  def streamedNearDupCandidates(spark: SparkSession, parquetPath: String,
                                idCol: String, textCol: String,
                                bucketCap: Int = TextOps.BandBucketCap,
                                maxFilesPerTrigger: Int = 0,
                                stateTtl: String = ""): DataFrame = {
    import spark.implicits._
    val keyed = readSource(spark, parquetPath, maxFilesPerTrigger)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("_w"))
      .where(size(col("_w")) >= 3)
      .select(array_min(transform(array_distinct(TextOps.shingles3(col("_w"))),
        TextOps.maskedHash(_))).as("_m"), col("doc_id"))
      .as[(Long, Long)]
    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    val cands = keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        nearDupHandler(bucketCap, stateTtl))
    // a pair can still be emitted twice: by a doc id that re-arrives with
    // changed text (a second bucket), or after its bucket expired under the TTL
    runToMemory(spark, parquetPath, "q67", cands, "append")(_.distinct())
  }

  // TIMESTAMP_NTZ columns (parquet timestamps without tz) map to
  // LocalDateTime in typed Datasets — keeping NTZ end-to-end matches the
  // naive timestamps the DuckDB oracle produces.
  final case class Ev(user_id: Long, ts: java.time.LocalDateTime)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class Session(user_id: Long, session_start: java.time.LocalDateTime,
                           session_end: java.time.LocalDateTime, n: Long)

  private def us(t: java.time.LocalDateTime): Long = {
    val i = t.toInstant(java.time.ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def tsOf(u: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(u / 1000000L, (u % 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC)

  /** Stateful sessionization via flatMapGroupsWithState: per-user event
    * sessions split on gaps > `gapUs`; CLOSED sessions are emitted, the
    * open tail lives in the state store across micro-batches. Events must
    * arrive in ts-nondecreasing batches per user (file order in tests). */
  def sessionize(spark: SparkSession, parquetPath: String,
                 gapUs: Long, maxFilesPerTrigger: Int = 0): Dataset[Session] = {
    import spark.implicits._
    val events = readSource(spark, parquetPath, maxFilesPerTrigger)
      .select($"user_id", $"ts").as[Ev]

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) => {
          val sorted = evs.map(e => us(e.ts)).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var open = state.getOption
          sorted.foreach { t =>
            open match {
              case Some(s) if t - s.lastUs > gapUs =>
                out += Session(user, tsOf(s.startUs), tsOf(s.lastUs), s.n)
                open = Some(OpenSession(t, t, 1))
              case Some(s) =>
                open = Some(s.copy(lastUs = t, n = s.n + 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          out.iterator
        })

    runToMemory(spark, parquetPath, "q51", sessions, "append")(identity).as[Session]
  }
}
