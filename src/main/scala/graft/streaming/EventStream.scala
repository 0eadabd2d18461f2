package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming pipelines (SURVEY §2.9).
  *
  * The reference never wired up streaming — `cron_cache_top_keywords` and
  * an async `checkpoint` are sketched but unscheduled
  * (/root/reference/cache.py:211-213,242-245); its dataset is a capture of
  * the Twitter streaming API. This module supplies the real thing:
  * file-arrival micro-batch ingest and watermarked windowed aggregation,
  * with the same plan shape as the batch twin (`stream_window_agg` in the
  * query catalog) so batch and streaming results line up.
  */
object EventStream {

  /** events-shaped schema for streaming sources (ts as micros timestamp). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-arrival source: new JSONL files under `dir` become micro-batches
    * (the streaming twin of ingest's tolerant line scan).
    */
  def readJsonStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).json(dir)

  /** Tumbling-window counts + value sums with a watermark for late data.
    * State is bounded: watermark age caps the open windows per key.
    */
  def windowedAgg(events: DataFrame,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + lit(0.5))).as("sum_value_cents"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value_cents"))

  /** Sessionize per user: events within `gapMinutes` of each other belong
    * to one session (flatMapGroupsWithState-free formulation — windowed
    * lag via session_window, Spark's built-in session windows).
    */
  def sessionCounts(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Custom accumulating state across micro-batches: running per-user
    * event counts via mapGroupsWithState (the KeyValueGroupedDataset
    * stateful API). State is one long per user — bounded by user
    * cardinality; production variants add a timeout to expire idle keys.
    */
  def runningUserCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (uid, n)
      }
      .toDF("user_id", "n_events")
  }

  /** Streaming exact dedup: drop re-deliveries of the same key arriving
    * within the watermark (at-least-once sources re-send; state is one
    * entry per key seen inside the watermark horizon, then expired —
    * bounded, unlike bare dropDuplicates whose state grows forever).
    */
  def dedupWithinWatermark(events: DataFrame,
      keys: Seq[String] = Seq("event_id"), watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** First-touch per (user, event_type): the earliest event wins. The
    * streaming form is [[dedupWithinWatermark]] on (user_id, event_type)
    * — arrival order = event order inside a watermark-correct stream;
    * the batch twin (`stream_first_touch` in the catalog) is the
    * rank-1-by-time window.
    */
  def firstTouch(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    dedupWithinWatermark(events, Seq("user_id", "event_type"), watermark)

  /** Stream-stream interval join: each view pairs with the same user's
    * purchases within `maxGapMinutes` AFTER it. Both sides watermarked —
    * the time-bound join condition lets Spark expire buffered state for
    * rows past the horizon (an unbounded-state join otherwise).
    */
  def viewToPurchase(views: DataFrame, purchases: DataFrame,
      maxGapMinutes: Int = 30, watermark: String = "2 hours"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    v.join(p,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $maxGapMinutes MINUTES"))
      .select(col("view_id"), col("purchase_id"))
  }

  /** Stream-static enrichment join: each micro-batch of the stream
    * looks up a STATIC dimension (the classic "enrich events with the
    * user/customer table" step). The static side is explicitly
    * `broadcast()` — the stream never shuffles for the lookup, and each
    * micro-batch re-evaluates the dimension plan, which is exactly
    * Structured Streaming's stream-static contract. Left join so an
    * unknown key passes through with nulls (an inner join would silently
    * drop events on dimension lag — a data-loss footgun in a pipeline).
    *
    * At 100 TB the dimension side is the small one by construction
    * (users/customers vs events); for a dimension too big to broadcast,
    * the same plan minus the hint degrades to a per-batch shuffled join.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** End-to-end stream-static enrichment drain: rows flow as `nFiles`
    * micro-batches, each joining the broadcast dimension, into a parquet
    * append sink. Row-level (no aggregation), so append mode needs no
    * watermark and the result must equal the batch join exactly.
    */
  def drainEnrich(spark: SparkSession, rows: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String, nFiles: Int = 3): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_enrich_")
    try {
      val out = base.resolve("out").toString
      val stream = feedStream(spark, rows, base, nFiles)
      val q = parquetSink(enrichWithDim(stream, dim, streamKey, dimKey),
        out, base.resolve("ckpt").toString).start()
      awaitDrained(q)
      // zero feed files (empty rows input) → zero micro-batches → no
      // sink dir: return the join's contract schema empty
      readSinkOrEmpty(spark, out,
        enrichWithDim(rows.limit(0), dim, streamKey, dimKey))
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** Sink: parquet append with checkpointing, AvailableNow trigger (drain
    * whatever has arrived, then stop — the batch-friendly trigger).
    */
  def parquetSink(df: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())

  /** CDC-style upsert sink: each micro-batch MERGEs into a keyed parquet
    * snapshot (foreachBatch — the pattern for maintaining a keyed table
    * from a change stream without a table format). The merge is
    * VERSION-AWARE: the greatest-`ts` row per key wins across the
    * snapshot and the batch ([[graft.operators.Upsert.latestByKey]] over
    * their union), so re-delivered or out-of-order batches converge to
    * the same snapshot — the sink is idempotent and batch-order-
    * independent, which a replace-wholesale merge is not (an older row
    * arriving in a later batch would clobber a newer snapshot row).
    * Snapshot writes are atomic-enough for tests via overwrite-then-read
    * — production would sit Delta/Iceberg under the same plan.
    */
  def upsertSink(df: DataFrame, key: String, snapshotDir: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // cut lineage before the snapshot overwrite
        // ONLY a missing snapshot means "first batch" — a transient read
        // failure must propagate, not silently restart the table empty
        val snapshot =
          try spark.read.parquet(snapshotDir).localCheckpoint()
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "PATH_NOT_FOUND" => b.limit(0)
          }
        val merged = graft.operators.Upsert.latestByKey(
          snapshot.unionByName(b.select(snapshot.columns.map(col).toSeq: _*)),
          key, "ts")
        merged.write.mode("overwrite").parquet(snapshotDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** End-to-end CDC drain (the driver-verifiable face of [[upsertSink]]):
    * writes `changes` as JSONL into a fresh temp feed directory split
    * across `nFiles` files, drains it through the sink with AvailableNow
    * and one file per micro-batch, and returns the final snapshot. The
    * version-aware merge makes the result independent of how the file
    * source orders the batches: any split converges to the global
    * greatest-`ts` row per key, which is exactly what a batch oracle can
    * compute with one window over the change set.
    */
  def drainUpsert(spark: SparkSession, changes: DataFrame, key: String,
      nFiles: Int = 3): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_cdc_")
    try {
      val snap = base.resolve("snapshot").toString
      val stream = feedStream(spark, changes, base, nFiles)
      val q = upsertSink(stream, key, snap, base.resolve("ckpt").toString).start()
      awaitDrained(q)
      // eager localCheckpoint (inside readSinkOrEmpty) pulls the
      // snapshot off disk so the feed, checkpoint, and sink dirs can be
      // deleted before returning; an empty change stream never writes a
      // first snapshot → return the changes schema empty
      readSinkOrEmpty(spark, snap, changes)
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** SCD2 maintenance AS A STREAM: each micro-batch applies one
    * [[graft.operators.Scd2]] batch to a persisted versioned dimension
    * (foreachBatch over a parquet snapshot — the warehouse-dimension
    * sibling of [[upsertSink]]'s CDC merge). Unlike that merge, VERSION
    * HISTORY depends on which batch carries a change, so batch
    * membership is part of the contract, never a file-split accident:
    * `changes` carries `versionCol`, the feed stages ONE file per
    * version in ascending order with strictly increasing mtimes (the
    * FileStreamSource pickup key), and each micro-batch stamps its
    * single version on closes and inserts. A batch oracle replays the
    * same versioned batches closed-form — streamed ≡ replayed is the
    * hash statement.
    */
  def drainScd2(spark: SparkSession, dim0: DataFrame, changes: DataFrame,
      key: String, tracked: Seq[String],
      versionCol: String = "batch_version"): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_scd2_")
    try {
      val feed = base.resolve("feed")
      java.nio.file.Files.createDirectories(feed)
      // bounded driver state: one row per BATCH, not per change
      val versions = changes.select(versionCol).distinct()
        .collect().map(_.getLong(0)).sorted
      versions.zipWithIndex.foreach { case (v, i) =>
        val stage = base.resolve(s"b${i}_stage")
        changes.filter(col(versionCol) === v).coalesce(1)
          .write.mode("overwrite").json(stage.toString)
        val ls = java.nio.file.Files.list(stage)
        val part =
          try ls.filter(p => p.getFileName.toString.endsWith(".json"))
            .findFirst().orElseThrow()
          finally ls.close()
        val dst = feed.resolve(f"b$i%05d.json")
        java.nio.file.Files.move(part, dst)
        // strictly increasing, second-resolution-safe pickup order
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
      val snap = base.resolve("snapshot").toString
      dim0.write.mode("overwrite").parquet(snap)
      val stream = spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1).json(feed.toString)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.localCheckpoint()
            val v = b.agg(org.apache.spark.sql.functions.max(col(versionCol)))
              .head().getLong(0)
            // a missing snapshot is a bug here (the seed write precedes
            // the drain) — let any read failure propagate
            val snapshot = spark.read.parquet(snap).localCheckpoint()
            graft.operators.Scd2(snapshot, b.drop(versionCol), key, tracked, v)
              .write.mode("overwrite").parquet(snap)
          }
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      spark.read.parquet(snap).localCheckpoint()
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** Late-data accounting drain: the watermark's silent row drops made
    * OBSERVABLE. On-time rows flow through [[windowedAgg]] in a first
    * AvailableNow drain — committing watermark W = max(on-time ts) − delay
    * into the checkpoint — then `late` rows arrive in a SECOND drain over
    * the same checkpoint, where the aggregation's watermark filter drops
    * every row whose window closed before W. Returns the finalized-window
    * sink plus TWO audit numbers from the second drain's progress
    * metrics — the numbers an SLO dashboard alarms on, which the bare
    * pipeline never surfaces:
    *
    *  - `lateInputRows`: `numInputRows` summed over the late drain's
    *    batches — every late row the source delivered;
    *  - `droppedGroups`: the state operators' `numRowsDroppedByWatermark`.
    *    For an aggregation this metric sits AFTER the shuffle merge, so
    *    it counts dropped per-GROUP state candidates (one row per
    *    (window, key) per batch), not input rows — which is why both
    *    numbers are surfaced; a batch twin computes the first as a plain
    *    filter count and the second as a distinct-group count.
    *
    * Determinism (what makes this oracle-able by a batch twin): the two
    * batches are separate drains, so batch order is not a file-listing
    * race; the watermark is ms-floored max(on-time ts) − delay, which a
    * batch engine computes closed-form; and callers pick `late` rows
    * whose windows sit far below W, so every late row is dropped
    * regardless of the emit predicate's < vs ≤ edge (window ends are
    * whole hours, W carries microsecond-random offsets — never equal).
    */
  def drainLateAudit(spark: SparkSession, onTime: DataFrame, late: DataFrame,
      windowLen: String = "1 hour", watermark: String = "2 hours"): (DataFrame, Long, Long) = {
    val base = java.nio.file.Files.createTempDirectory("graft_late_")
    try {
      val feed = base.resolve("feed")
      java.nio.file.Files.createDirectories(feed)
      val out = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
      def addFile(df: DataFrame, name: String): Unit = {
        val stage = base.resolve(name + "_stage")
        df.coalesce(1).write.mode("overwrite")
          .option("timestampFormat", tsFmt).json(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        require(part.length <= 1, s"expected <= 1 json part, got ${part.length}")
        // an EMPTY batch (e.g. a night with no late rows) writes no part
        // file — feed a zero-byte file so the drain still runs a batch
        // and commits/advances the checkpoint, instead of crashing here
        if (part.length == 1) java.nio.file.Files.move(part.head.toPath, feed.resolve(name))
        else java.nio.file.Files.createFile(feed.resolve(name))
      }
      def drain(ss: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
        val stream = ss.readStream.schema(eventSchema)
          .option("timestampFormat", tsFmt).json(feed.toString)
        val q = parquetSink(windowedAgg(stream, windowLen, watermark), out, ckpt).start()
        awaitDrained(q)
        q
      }
      addFile(onTime, "batch0.json")
      // feed-sized state partitions ([[drainSession]]); the checkpoint
      // pins the first drain's shuffle-partition count for the second
      val ss = drainSession(spark, feed)
      drain(ss) // commits watermark = max(on-time ts) - delay
      addFile(late, "batch1.json")
      val progress = drain(ss).recentProgress
      val lateInputRows = progress.map(_.numInputRows).sum
      val droppedGroups = progress
        .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      // both inputs empty → no window ever finalized → no sink dir:
      // the contract schema comes from the same agg over a BATCH empty
      // frame (withWatermark is a no-op on batch plans)
      (readSinkOrEmpty(spark, out,
        windowedAgg(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eventSchema),
          windowLen, watermark)),
        lateInputRows, droppedGroups)
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** Streaming INDEX MAINTENANCE drain — the nightly vector ingest as a
    * Structured Streaming job: the persisted IVF index
    * ([[graft.operators.IvfIndex]]) is built once on the pre-boundary
    * slice, then every micro-batch of new vectors flows through
    * `foreachBatch` → [[graft.operators.IvfIndex.appendBatch]]'s row
    * append (assign to the EXISTING centroids, append into the posting
    * partitions — zero Lloyd rounds per batch). Returns the post-ingest
    * per-cell stats, which a batch oracle computes as the stale-model
    * assignment of the full corpus — the same ledger the
    * `sim_index_incremental` family verifies, here maintained BY A
    * STREAM. The feed is parquet ([[drainParquetFeed]]); index tables
    * are invocation-unique and dropped after the stats materialize, so
    * repeat invocations never double-append.
    */
  def drainIndexIngest(spark: SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, splitId: Long,
      nFiles: Int = 3): DataFrame = {
    import graft.operators.IvfIndex
    val base = java.nio.file.Files.createTempDirectory("graft_ivix_")
    val sfx = base.getFileName.toString.replace("graft_ivix_", "")
    val n = IvfIndex.names(s"ivst$sfx", "stream")
    try {
      val old = emb.filter(col(idCol) < splitId)
      // build returns the model; every micro-batch appends against it —
      // pass it through rather than re-reading the model table per batch
      val models = IvfIndex.build(old, idCol, vecCol, n,
        k = graft.operators.Ivf.cellsFor(old.count()))
      // a fresh index has no tombstones to clear
      drainParquetFeed(spark,
          emb.filter(col(idCol) >= splitId).select(col(idCol), col(vecCol)),
          base, nFiles) {
        IvfIndex.appendRows(spark, n, _, idCol, vecCol, models)
      }
      IvfIndex.stats(spark, n, idCol).localCheckpoint()
    } finally {
      graft.operators.Tombstones.drop(spark, n)
      graft.util.Paths.deleteRecursively(base)
    }
  }

  /** Streaming INDEX SERVING drain — the other half of the index's
    * streaming story ([[drainIndexIngest]] maintains it; this SEARCHES
    * it): query vectors arrive as a stream (each request CARRIES its
    * vector — the production serving shape, where the query embedding
    * comes from the application, not a corpus lookup), and every
    * micro-batch flows through `foreachBatch` →
    * [[graft.operators.IvfIndex.searchBatch]] against the STATIC
    * persisted index — probe cells from the bounded centroid model,
    * partition-pruned posting scan, per-query top-k — with results
    * appended to the sink. Per-query results are independent of
    * micro-batch boundaries (each query's top-k sees the whole static
    * index), so the drained union is bit-identical to one batch search
    * over the full query set — which is exactly what the oracle
    * computes. The index is NEVER mutated by serving, so callers pass a
    * shared build-once index ([[graft.operators.IvfIndex.Names]]).
    */
  def drainIndexSearch(spark: SparkSession,
      n: graft.operators.IvfIndex.Names, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      nFiles: Int = 3): DataFrame = {
    import graft.operators.IvfIndex
    val base = java.nio.file.Files.createTempDirectory("graft_ivsv_")
    try {
      val out = base.resolve("out").toString
      val qrows = queries.select(col(idCol), col(vecCol))
      drainParquetFeed(spark, qrows, base, nFiles) { batch =>
        // the request batch IS the query source: ids + vectors ride
        // in. EMPTY batches write too (searchBatch handles an empty
        // id list) — a no-rows micro-batch must still materialize the
        // sink so the post-drain read never hits PATH_NOT_FOUND.
        val qids = batch.select(col(idCol)).collect().map(_.getLong(0)).toSeq
        IvfIndex.searchBatch(spark, n, idCol, vecCol, qids,
            k = k, nprobe = nprobe, queryFrom = Some(batch))
          .write.mode("append").parquet(out)
      }
      // an entirely-empty queries input produces ZERO feed files → zero
      // micro-batches → no sink directory at all: return the contract
      // schema empty rather than throwing path-not-found
      readSinkOrEmpty(spark, out,
        IvfIndex.searchBatch(spark, n, idCol, vecCol, Nil,
          k = k, nprobe = nprobe, queryFrom = Some(qrows)))
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** Streaming INDEX TAKEDOWN drain — the missing leg of the index's
    * streaming symmetry (ingest: [[drainIndexIngest]], serving:
    * [[drainIndexSearch]]; this adds DELETES): the persisted IVF index
    * is built on the pre-boundary slice, then ONE maintenance stream
    * ([[maintainDrain]]) carries both ingest rows (new vectors, assigned
    * to the existing centroids) and takedown events (the PII removal
    * that is most naturally a stream), interleaved within and across
    * micro-batches. The converged state — postings = old ∪ new under
    * the stale model, tombstones = exactly `deleteIds` — is what the
    * batch oracle computes closed-form. Returns the post-drain search
    * (tombstoned ids excluded, top-k backfilled from live rows).
    */
  def drainIndexMaintain(spark: SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, splitId: Long, deleteIds: Seq[Long],
      queryId: Long, k: Int, nprobe: Int, nFiles: Int = 3): DataFrame = {
    import graft.operators.{Ivf, IvfIndex}
    maintainDrain(spark, emb, idCol, vecCol, splitId, deleteIds, nFiles, "ivdl")(
        IvfIndex.names(_, "stream")) { (n, old) =>
      // keep the built model for the per-batch appends (bounded k×dim
      // driver state)
      val models = IvfIndex.build(old, idCol, vecCol, n, k = Ivf.cellsFor(old.count()))
      IvfIndex.appendRows(spark, n, _, idCol, vecCol, models)
    } { n =>
      IvfIndex.search(spark, n, idCol, vecCol, queryId, k = k,
        nprobe = nprobe, queryFrom = Some(emb))
    }
  }

  /** [[drainIndexMaintain]] on the QUANTIZED layout — the maintenance
    * stream against the index a 100 TB deployment actually serves: the
    * index (m codebooks of `pqK` codewords) builds on the pre-boundary
    * slice (stale coarse + stale codebooks), ingest micro-batches encode
    * through the build's codebooks (zero Lloyd rounds per batch),
    * takedown events tombstone by id, and the post-drain quantized
    * search must exclude every streamed takedown from its ADC pool and
    * re-rank.
    */
  def drainIndexMaintainPq(spark: SparkSession, emb: DataFrame,
      idCol: String, vecCol: String, splitId: Long, deleteIds: Seq[Long],
      queryId: Long, k: Int, nprobe: Int, m: Int, pqK: Int,
      nFiles: Int = 3): DataFrame = {
    import graft.operators.{Ivf, IvfIndex}
    maintainDrain(spark, emb, idCol, vecCol, splitId, deleteIds, nFiles, "ivqd")(
        IvfIndex.pqNames(_, "stream")) { (n, old) =>
      // the build returns both models for the per-batch appends (the
      // per-batch model-table re-reads were pure repeat cost)
      val models = IvfIndex.build(old, idCol, vecCol, n,
        k = Ivf.cellsFor(old.count()), m = m, pqK = pqK)
      IvfIndex.appendRows(spark, n, _, idCol, vecCol, models)
    } { n =>
      IvfIndex.search(spark, n, idCol, vecCol, queryId, k = k,
        nprobe = nprobe, queryFrom = Some(emb))
    }
  }

  /** TEXT-index maintenance as a micro-batch stream — the lexical twin
    * of [[drainIndexMaintain]] ([[maintainDrain]]): the index builds on
    * the pre-boundary docs (< `splitId`), then ONE stream interleaves
    * ingest events (docs ≥ splitId, carrying their text) with takedown
    * events (ids below the boundary). Appends are EXACT growth (df
    * aggregates at query time, so unlike the vector layouts there is no
    * stale-model drift to price), and the post-drain
    * [[graft.operators.TextIndex.bm25]] must rank the full grown corpus
    * minus every streamed takedown.
    */
  def drainTextMaintain(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, splitId: Long, deleteIds: Seq[Long],
      terms: Seq[String], limit: Int, nFiles: Int = 3): DataFrame = {
    import graft.operators.TextIndex
    // the text index keys its postings and tombstones on doc_id
    maintainDrain(spark, docs.select(col(idCol).as("doc_id"), col(textCol)),
        "doc_id", textCol, splitId, deleteIds, nFiles, "txdl")(
        TextIndex.names(_, "stream")) { (n, old) =>
      TextIndex.build(old, "doc_id", textCol, n)
      TextIndex.appendRows(spark, n, _, "doc_id", textCol)
    } { n => TextIndex.bm25(spark, n, terms, limit) }
  }

  /** The one add/takedown maintenance drain behind [[drainIndexMaintain]],
    * [[drainIndexMaintainPq]] and [[drainTextMaintain]]. The layout
    * supplies its names (from an invocation-unique prefix), its build
    * on the rows below `splitId` (returning its row append, which holds
    * the built models) and its post-drain query; this drain owns the
    * rest. ONE parquet feed interleaves ingest events (rows ≥ `splitId`,
    * op = add) with takedown events (`deleteIds`, op = del); each
    * micro-batch collects its (op, id) pairs once — never the payload —
    * then sends its adds to the row append and its new takedown ids to
    * the tombstone table. Every table of the index is dropped after the
    * query result materializes.
    *
    * PRECONDITIONS, both proved here, are why a micro-batch skips the
    * public `appendBatch`/`delete` tombstone probes (2-3 fixed-latency
    * jobs per batch):
    *  - the add and takedown id sets are disjoint (`require`d: every
    *    takedown is below `splitId`). No appended id is ever tombstoned,
    *    so the row append need not clear tombstones; and appends and
    *    tombstones commute, so any batch interleaving converges to the
    *    closed form a batch oracle computes;
    *  - each takedown id reaches the tombstone table once: the
    *    driver-side seen-set passes on only ids not yet tombstoned, so
    *    the blind [[graft.operators.Tombstones.appendFresh]] keeps the
    *    table a set. The seen-set lives in the driver; a restarted drain
    *    would lose it.
    */
  private def maintainDrain[N <: graft.operators.Tombstones.Index](
      spark: SparkSession, rows: DataFrame, idCol: String, payloadCol: String,
      splitId: Long, deleteIds: Seq[Long], nFiles: Int, prefix: String)(
      names: String => N)(build: (N, DataFrame) => DataFrame => Unit)(
      query: N => DataFrame): DataFrame = {
    import graft.operators.Tombstones
    require(deleteIds.forall(_ < splitId),
      "delete set must be disjoint from the streamed ingest ids " +
        "(>= splitId) — overlapping sets would make the final state " +
        "depend on micro-batch order")
    val base = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_")
    val n = names(prefix + base.getFileName.toString.replace(s"graft_${prefix}_", ""))
    try {
      val append = build(n, rows.filter(col(idCol) < splitId))
      // adds carry their payload, takedowns are id events; the feed's
      // repartition mixes both kinds into every file, so batches interleave
      val events = rows.filter(col(idCol) >= splitId)
          .select(col(idCol), col(payloadCol), lit("add").as("op"))
        .unionByName(rows.filter(col(idCol).isInCollection(deleteIds))
          .select(col(idCol), col(payloadCol), lit("del").as("op")))
      val seenDels = scala.collection.mutable.Set.empty[Long]
      drainParquetFeed(spark, events, base, nFiles) { batch =>
        val ops = batch.select(col("op"), col(idCol)).collect()
        if (ops.exists(_.getString(0) == "add"))
          append(batch.filter(col("op") === "add").drop("op"))
        val fresh = ops.filter(_.getString(0) == "del").map(_.getLong(1)).toSeq
          .filterNot(seenDels)
        seenDels ++= fresh
        if (fresh.nonEmpty) Tombstones.appendFresh(spark, n, idCol, fresh)
      }
      query(n).localCheckpoint()
    } finally {
      Tombstones.drop(spark, n)
      graft.util.Paths.deleteRecursively(base)
    }
  }

  /** Streaming QUALITY SCORING drain — the persisted NB filter
    * ([[graft.operators.NbClassifier]] model tables) applied to
    * documents AS THEY ARRIVE: every micro-batch tokenizes and scores
    * against the train-once model (token-keyed lookup join + per-doc
    * sum — zero training aggregates per batch, the
    * `quality_nb_persist` economics on a stream). Per-document scores
    * are independent of micro-batch boundaries, so the drained union
    * is bit-identical to one batch scoring pass — which is what the
    * oracle computes.
    */
  def drainNbScore(spark: SparkSession, docs: DataFrame,
      countsTable: String, scalarsTable: String,
      nFiles: Int = 3): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_nbsc_")
    try {
      val out = base.resolve("out").toString
      val rows = docs.select(col("doc_id"), col("text"))
      drainParquetFeed(spark, rows, base, nFiles) { batch =>
        val tok = batch.select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("w"))
        graft.operators.NbClassifier
          .score(tok, spark.table(countsTable), spark.table(scalarsTable))
          .write.mode("append").parquet(out)
      }
      // zero feed files (empty docs input) → zero batches → no sink dir:
      // return the scoring contract schema empty, not path-not-found
      readSinkOrEmpty(spark, out,
        graft.operators.NbClassifier.score(
          rows.limit(0).select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("w")),
          spark.table(countsTable), spark.table(scalarsTable)))
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** Stream `rows` through `onBatch`: write them as `nFiles` parquet feed
    * files under `base`, read them back one file per micro-batch
    * (`maxFilesPerTrigger` 1) into `foreachBatch`, and drain with
    * AvailableNow. Parquet keeps vectors and text bit-exact through the
    * feed, where a JSONL feed could perturb float bits.
    */
  private def drainParquetFeed(spark: SparkSession, rows: DataFrame,
      base: java.nio.file.Path, nFiles: Int)(onBatch: DataFrame => Unit): Unit = {
    val feed = base.resolve("feed").toString
    rows.repartition(nFiles).write.mode("overwrite").parquet(feed)
    awaitDrained(spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start())
  }

  /** Read a drain's parquet sink, or — when no micro-batch ever wrote
    * (an empty stream input) — return an empty frame with `contract`'s
    * schema. Only PATH_NOT_FOUND means "first batch never came";
    * any other read failure must propagate.
    */
  private def readSinkOrEmpty(spark: SparkSession, out: String,
      contract: => DataFrame): DataFrame =
    (try spark.read.parquet(out)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => contract.limit(0)
    }).localCheckpoint()

  /** Waits for an AvailableNow query to fully drain, FAILING LOUDLY on
    * timeout: silently stopping a half-drained query and reading its sink
    * would return a plausible-but-wrong partial result — a correctness
    * check must error instead.
    */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 300000): Unit = {
    val done = try q.awaitTermination(timeoutMs) finally q.stop()
    require(done, s"streaming drain did not terminate within ${timeoutMs} ms — " +
      "refusing to read a partial sink")
  }

  /** Session for a drain's STREAMING query with the state/shuffle
    * partition count derived from the feed's on-disk size (guide §2.1 —
    * scale-adaptive partitioning, never a constant): micro-batch
    * planning runs with AQE disabled, so a stateful operator creates
    * one state-store instance per `spark.sql.shuffle.partitions` per
    * micro-batch REGARDLESS of data volume — on a kilobyte feed that is
    * 32 store commits × stateful ops × batches of pure checkpoint
    * latency, the dominant cost of the stateful drains. The rule: one
    * state partition per 64 MB of feed, floored at 1 and capped at the
    * session's configured shuffle partitions, so a cluster-scale feed
    * keeps exactly the parallelism the deployment configured and only
    * the small-feed fixed overhead shrinks. The derived session shares
    * the SparkContext and catalog (only the SQL conf differs), and
    * drain results are partition-count-invariant — the same drains pass
    * the oracle at 8 and at 32 shuffle partitions in the driver's two
    * bench configurations.
    */
  private def drainSession(spark: SparkSession,
      feed: java.nio.file.Path): SparkSession = {
    val bytes =
      if (!java.nio.file.Files.isDirectory(feed)) 0L
      else {
        val s = java.nio.file.Files.list(feed)
        try s.mapToLong(p => java.nio.file.Files.size(p)).sum
        finally s.close()
      }
    val perPartition = 64L << 20
    val derived = math.max(1L, (bytes + perPartition - 1) / perPartition)
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      math.min(derived, configured).toString)
    ss
  }

  /** Shared drain plumbing: materialize `rows` as `nFiles` JSONL feed
    * files under `base` and open a file stream over them (one file per
    * micro-batch; each drain deletes `base` after materializing its
    * result). Explicit micros timestampFormat — the default rounds
    * to millis, which would re-order events that differ only in micros.
    * The stream is opened on a [[drainSession]] sized from the feed —
    * the returned frame's `sparkSession` is that derived session (memory
    * sinks register their temp view THERE).
    */
  private def feedStream(spark: SparkSession, rows: DataFrame,
      base: java.nio.file.Path, nFiles: Int): DataFrame = {
    val feed = base.resolve("feed").toString
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    rows.repartition(nFiles).write.mode("overwrite")
      .option("timestampFormat", tsFmt).json(feed)
    drainSession(spark, base.resolve("feed")).readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).option("timestampFormat", tsFmt).json(feed)
  }

  /** End-to-end streaming-dedup drain (the driver-verifiable face of
    * [[dedupWithinWatermark]]): `rows` — typically carrying re-delivered
    * duplicates — flow through the stateful dedup in ONE micro-batch
    * (duplicates must sit inside the watermark horizon; a multi-batch
    * split could legitimately drop a duplicate that arrives after the
    * watermark passed its event time, which is correct streaming
    * semantics but not a deterministic oracle target) and the surviving
    * rows land in a parquet sink via [[parquetSink]] — so one drain
    * exercises BOTH remaining sink ops.
    */
  def drainDedup(spark: SparkSession, rows: DataFrame,
      keys: Seq[String]): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_")
    try {
      val out = base.resolve("out").toString
      val stream = feedStream(spark, rows, base, nFiles = 1)
      val q = parquetSink(dedupWithinWatermark(stream, keys),
        out, base.resolve("ckpt").toString).start()
      awaitDrained(q)
      // empty rows input → zero batches → no sink dir: contract schema
      readSinkOrEmpty(spark, out, rows)
    } finally graft.util.Paths.deleteRecursively(base)
  }

  /** End-to-end streaming SKETCH drain: the [[graft.functions.HdrSketch]]
    * typed aggregator runs as STREAMING aggregation state — per
    * event_type, the bucket→count map accumulates and MERGES across
    * micro-batch boundaries (the mergeable-sketch contract exercised
    * where it matters at 100 TB: bounded per-group state in a
    * continuous job, instead of buffering raw values). Complete-mode
    * memory sink keeps the final merged sketch; a batch post-step
    * unpacks the [bucket, count, …] pairs and extracts rank lower
    * bounds with the same integer-ceil rank math as
    * [[graft.functions.Hdr.quantileEstimates]] — plan-side windows
    * over ≤ a few hundred bucket rows per group, no driver loop.
    */
  def drainHdrSketch(spark: SparkSession, rows: DataFrame, valueCol: String,
      m: Int = 7, nFiles: Int = 3): DataFrame = {
    import graft.functions.Hdr
    val base = java.nio.file.Files.createTempDirectory("graft_hdr_")
    val table = s"graft_hdrs_${base.getFileName.toString.replace("graft_hdr_", "")}"
    val stream = feedStream(spark, rows, base, nFiles)
    // the memory sink registers its temp view in the SESSION that ran
    // the query — the feedStream drain session, not the caller's
    val ss = stream.sparkSession
    try {
      val sk = udaf(graft.functions.HdrSketch(m))
      val q = stream.groupBy("event_type")
        .agg(sk(col(valueCol)).as("sketch"))
        .writeStream.format("memory").queryName(table)
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      val pairs = ss.table(table)
        .select(col("event_type"), explode(expr(
          "transform(sequence(0, size(sketch) div 2 - 1), " +
            "i -> struct(element_at(sketch, cast(2*i+1 as int)) as b, " +
            "element_at(sketch, cast(2*i+2 as int)) as cb))")).as("p"))
        .select(col("event_type"), col("p.b").as("b"), col("p.cb").as("cb"))
      val wOrd = Window.partitionBy("event_type").orderBy("b")
      val wAll = Window.partitionBy("event_type")
      val lb = expr(Hdr.lowerBoundSqlSpark("b", m))
      pairs
        .withColumn("cum", sum("cb").over(wOrd))
        .withColumn("n", sum("cb").over(wAll))
        .groupBy("event_type")
        .agg(max("n").cast("long").as("n"),
          min(when(col("cum") >= expr("(n * 1 + 1) div 2"), lb)).cast("long").as("p50_lb"),
          min(when(col("cum") >= expr("(n * 9 + 9) div 10"), lb)).cast("long").as("p90_lb"))
        .localCheckpoint()
    } finally {
      ss.catalog.dropTempView(table)
      graft.util.Paths.deleteRecursively(base)
    }
  }

  /** End-to-end stateful-counting drain (the driver-verifiable face of
    * [[runningUserCounts]]): rows flow through mapGroupsWithState across
    * `nFiles` micro-batches into an update-mode memory sink; the FINAL
    * count per user (the max — counts only grow) must equal the batch
    * `groupBy(user).count()`, proving state accumulates correctly across
    * batch boundaries.
    */
  def drainRunningCounts(spark: SparkSession, rows: DataFrame,
      nFiles: Int = 3): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_rc_")
    val table = s"graft_rc_${base.getFileName.toString.replace("graft_rc_", "")}"
    val stream = feedStream(spark, rows, base, nFiles)
    val ss = stream.sparkSession
    try {
      val q = runningUserCounts(stream).writeStream
        .format("memory").queryName(table)
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      ss.table(table)
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"))
        .localCheckpoint()
    } finally {
      ss.catalog.dropTempView(table)
      graft.util.Paths.deleteRecursively(base)
    }
  }
}
