package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Text, Vectors}

/** Streaming batch-equivalents (SURVEY §2.9): windowed aggs, sessionize,
  * stateful counts, CDC drains.
  */
private[queries] object StreamingQueries {
  import CatalogShared._

  // --------------------------------------------------------------------
  // Streaming batch-equivalent (SURVEY §2.9)
  // --------------------------------------------------------------------

  /** Build-once full-corpus IVF index for the streaming SERVING row
    * (`stream_index_search`) — serving never mutates the index, so the
    * build amortizes across invocations exactly like the `sim_index_*`
    * prefixes (own prefix: never races another entry's build under
    * Verify's concurrent evaluation).
    */
  private def ensureServeIndex(s: SparkSession,
      d: String): graft.operators.IvfIndex.Names = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.names("ivsv", fp)
    cachedBuild(s"ivfidx|ivsv|$fp") {
      if (!IvfIndex.exists(s, n)) {
        val emb = Tables.embeddings(s, d)
        val k = graft.operators.Ivf.cellsFor(emb.count())
        IvfIndex.build(emb, "vec_id", "embedding", n, k = k)
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  private val streaming = Seq(
    // Tumbling-window event aggregation — the batch twin of the Structured
    // Streaming pipeline in graft.streaming (same plan shape). Window start
    // formatted to string: engines disagree on timestamp tz-awareness.
    Q("stream_window_agg",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("value"))).as("sum_value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("event_type"), col("cnt"), col("sum_value_cents"))
        .orderBy("window_start", "event_type"),
      Some("SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS window_start, event_type, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents FROM events GROUP BY 1, 2 ORDER BY 1, 2")),

    // END-TO-END CDC sink: the change set (a bounded slice of events)
    // actually flows through Structured Streaming — JSONL feed files,
    // AvailableNow micro-batches (one file each), foreachBatch
    // version-aware MERGE into a parquet snapshot — and the SNAPSHOT is
    // what the oracle checks. The merge keeps the greatest-ts row per
    // key regardless of batch order, so the batch oracle is one window
    // over the change set. Slice is fixed-size (event_id < 1500) to keep
    // the real streaming machinery cheap at any sf.
    Q("stream_upsert_sink",
      (s, d) => graft.streaming.EventStream
        .drainUpsert(s, Tables.events(s, d).filter(col("event_id") < 1500),
          "user_id", nFiles = 3)
        .select(col("user_id"), col("event_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
        .orderBy("user_id"),
      Some("SELECT user_id, event_id, event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events WHERE event_id < 1500) WHERE rn = 1 ORDER BY user_id")),

    // END-TO-END streaming dedup + parquet append sink: the slice is fed
    // TWICE (simulating at-least-once re-delivery) through
    // dropDuplicatesWithinWatermark state and drained into the parquet
    // sink with AvailableNow; survivors must equal the slice exactly.
    // Covers the two remaining spec-only streaming ops in one drain.
    Q("stream_dedup_drain",
      (s, d) => {
        val slice = Tables.events(s, d).filter(col("event_id") < 1500)
        graft.streaming.EventStream
          .drainDedup(s, slice.unionByName(slice), Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_cents"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, user_id, event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents " +
        "FROM events WHERE event_id < 1500 ORDER BY event_id")),

    // END-TO-END stream-static enrichment: 3 micro-batches each join the
    // BROADCAST customer dimension (left join — unknown keys pass through
    // with nulls rather than dropping events) into a parquet append sink;
    // the drained sink must equal the batch join exactly.
    Q("stream_enrich_drain",
      (s, d) => {
        val slice = Tables.events(s, d).filter(col("event_id") < 1500)
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.streaming.EventStream
          .drainEnrich(s, slice, dim, "user_id", "c_custkey", nFiles = 3)
          .select(col("event_id"), col("user_id"),
            coalesce(col("c_mktsegment"), lit("?")).as("segment"),
            cents(col("value")).as("value_cents"))
          .orderBy("event_id")
      },
      Some("SELECT e.event_id, e.user_id, COALESCE(c.c_mktsegment, '?') AS segment, " +
        "CAST(floor(e.value*100 + 0.5) AS BIGINT) AS value_cents " +
        "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey " +
        "WHERE e.event_id < 1500 ORDER BY e.event_id")),

    // END-TO-END stateful counting: mapGroupsWithState accumulates
    // per-user counts across 3 AvailableNow micro-batches into an
    // update-mode memory sink; the final state must equal the batch
    // groupBy count — cross-batch state correctness, driver-verified.
    // Streaming SKETCH state ([[graft.streaming.EventStream
    // .drainHdrSketch]]): the HdrSketch typed aggregator as streaming
    // aggregation state — bucket counts merge across micro-batch
    // boundaries (3 files = 3 batches), proving the custom mergeable
    // aggregator composes with Structured Streaming's state store, the
    // shape a continuous quality monitor runs at 100 TB (bounded
    // per-group state, never raw-value buffers). The oracle recomputes
    // the bucket quantile lower bounds closed-form from the batch data
    // — the hdr_quantiles twin over the drained stream slice.
    Q("stream_hdr_drain",
      (s, d) => graft.streaming.EventStream
        .drainHdrSketch(s,
          Tables.events(s, d).filter(col("event_id") < 1500)
            .select(col("event_type"),
              cents(col("value")).cast("long").as("c")),
          "c", m = 7, nFiles = 3)
        .orderBy("event_type"),
      Some {
        import graft.functions.Hdr
        val bexp = Hdr.bucketSqlDuck("c", 7)
        val lb = Hdr.lowerBoundSqlDuck("b", 7)
        def est(num: Int, den: Int, alias: String) =
          s"CAST(MIN(CASE WHEN cum >= (n * $num + ${den - 1}) // $den THEN $lb END) AS BIGINT) AS $alias"
        "WITH v AS (SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events WHERE event_id < 1500), " +
          s"bk AS (SELECT event_type, $bexp AS b FROM v), " +
          "cnt AS (SELECT event_type, b, count(*) AS cb FROM bk GROUP BY 1, 2), " +
          "w AS (SELECT event_type, b, SUM(cb) OVER (PARTITION BY event_type ORDER BY b) AS cum, SUM(cb) OVER (PARTITION BY event_type) AS n FROM cnt) " +
          "SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, " +
          est(1, 2, "p50_lb") + ", " + est(9, 10, "p90_lb") +
          " FROM w GROUP BY event_type ORDER BY event_type"
      }),

    Q("stream_running_counts",
      (s, d) => graft.streaming.EventStream
        .drainRunningCounts(s,
          Tables.events(s, d).filter(col("event_id") < 1500), nFiles = 3)
        .orderBy("user_id"),
      Some("SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events " +
        "WHERE event_id < 1500 GROUP BY user_id ORDER BY user_id")),

    // END-TO-END late-data accounting: on-time rows (ts >= Jan 25) drain
    // first and commit watermark W = max(on-time ts) - 2h; a second drain
    // over the same checkpoint feeds rows from hours before W — and the
    // progress metrics surface exactly what the watermark silently
    // discarded: numInputRows (late rows delivered) and
    // numRowsDroppedByWatermark (state groups dropped — the metric sits
    // after the shuffle merge, one row per (window, event_type) group).
    // Output: the finalized windows the sink emitted (end < W) plus two
    // audit rows carrying the metrics. The batch twin recomputes W
    // closed-form (ms-floored max minus 7_200_000), the late row count
    // as a plain filter, and the dropped groups as a distinct count — a
    // dropped-row miscount, a wrong watermark, or an emit-predicate bug
    // all hash-mismatch.
    Q("stream_late_audit",
      (s, d) => {
        // The event_id slice is ts-correlated and spans a DIFFERENT date
        // range per scale factor, so the on-time/late split is relative
        // to the slice's min(ts): late = first 6 h, on-time = 12 h on —
        // cutoffs both engines compute closed-form. One-row bounded
        // collect (the skew-probe precedent), never data-proportional.
        val ev = Tables.events(s, d).filter(col("event_id") < 3000)
        val lo = ev.agg(min(col("ts"))).head.getTimestamp(0)
        val (sink, lateRows, droppedGroups) =
          graft.streaming.EventStream.drainLateAudit(s,
            ev.filter(col("ts") >= lit(lo) + expr("INTERVAL 12 HOURS")),
            ev.filter(col("ts") < lit(lo) + expr("INTERVAL 6 HOURS")))
        sink
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
            col("event_type"), col("cnt"), col("sum_value_cents"))
          .unionByName(s.range(1).select(
            lit("LATE_INPUT_ROWS").as("window_start"), lit("*").as("event_type"),
            lit(lateRows).as("cnt"), lit(0L).as("sum_value_cents")))
          .unionByName(s.range(1).select(
            lit("LATE_DROPPED_GROUPS").as("window_start"), lit("*").as("event_type"),
            lit(droppedGroups).as("cnt"), lit(0L).as("sum_value_cents")))
          .orderBy("window_start", "event_type")
      },
      Some("WITH sl AS (SELECT * FROM events WHERE event_id < 3000), " +
        "b AS (SELECT min(ts) AS lo FROM sl), " +
        "ot AS (SELECT sl.* FROM sl, b WHERE ts >= lo + INTERVAL 12 HOUR), " +
        "wm AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM ot), " +
        "w AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents FROM ot GROUP BY 1, 2), " +
        "kept AS (SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type, cnt, sum_value_cents " +
        "FROM w, wm WHERE epoch_us(ws + INTERVAL '1 hour') // 1000 < wm_ms), " +
        "lt AS (SELECT 'LATE_INPUT_ROWS' AS window_start, '*' AS event_type, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(0 AS BIGINT) AS sum_value_cents FROM sl, b WHERE ts < lo + INTERVAL 6 HOUR), " +
        "lg AS (SELECT 'LATE_DROPPED_GROUPS' AS window_start, '*' AS event_type, " +
        "CAST(count(DISTINCT (time_bucket(INTERVAL '1 hour', ts), event_type)) AS BIGINT) AS cnt, " +
        "CAST(0 AS BIGINT) AS sum_value_cents FROM sl, b WHERE ts < lo + INTERVAL 6 HOUR) " +
        "SELECT * FROM kept UNION ALL SELECT * FROM lt UNION ALL SELECT * FROM lg ORDER BY window_start, event_type")),

    // Cohort retention: users grouped by first-seen week; how many are
    // active k weeks later. Pure date/int arithmetic (week truncation is
    // ISO Monday-start in both engines; offsets are integer day
    // differences div 7) — deterministic, and the shape is two grouped
    // aggregations plus one key join, shuffle-bounded at any scale.
    Q("stream_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        val cohort = ev.groupBy("user_id").agg(min(col("w")).as("cw"))
        ev.join(cohort, "user_id")
          .select(col("user_id"), col("cw"),
            expr("datediff(w, cw) div 7").cast("long").as("week_offset"))
          .distinct()
          .groupBy("cw", "week_offset")
          .agg(count(lit(1)).as("n_users"))
          .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM events), " +
        "c AS (SELECT user_id, min(w) AS cw FROM e GROUP BY user_id), " +
        "a AS (SELECT DISTINCT e.user_id, cw, date_diff('day', cw, w) // 7 AS k FROM e JOIN c USING (user_id)) " +
        "SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, CAST(k AS BIGINT) AS week_offset, CAST(count(*) AS BIGINT) AS n_users " +
        "FROM a GROUP BY cw, k ORDER BY 1, 2")),

    // Event funnel: users whose first view precedes their first click
    // precedes their first purchase. Oracle truncates to microseconds to
    // match Spark's parquet timestamp precision before comparing.
    // Streaming INDEX MAINTENANCE ([[graft.streaming.EventStream
    // .drainIndexIngest]]): the persisted IVF index built on the
    // pre-boundary slice, then the new vectors arrive as a STREAM and
    // each micro-batch flows through foreachBatch → IvfIndex.appendBatch
    // — assign to the existing centroids, append into the posting
    // partitions, zero Lloyd rounds per batch. Output = post-ingest
    // per-cell stats; the oracle is the stale-model assignment of the
    // full corpus, so the hash match proves the streamed ingest landed
    // every vector in exactly the cell the batch ledger demands,
    // independent of micro-batch boundaries. Parquet feed (exact float
    // round-trip); invocation-unique index tables, dropped after.
    Q("stream_index_ingest",
      (s, d) => graft.streaming.EventStream
        .drainIndexIngest(s, Tables.embeddings(s, d),
          "vec_id", "embedding", splitId = 250L)
        .orderBy("centroid_id"),
      Some(ivfStaleStatsSql)),

    // Streaming INDEX SERVING ([[graft.streaming.EventStream
    // .drainIndexSearch]]) — the other half of stream_index_ingest's
    // story: query vectors ARRIVE AS A STREAM (each request carries its
    // vector), every micro-batch flows through foreachBatch →
    // IvfIndex.searchBatch against the STATIC build-once index (probe
    // from the bounded centroid model, partition-pruned posting scan,
    // per-query top-3), results append to the sink. Per-query top-k is
    // independent of micro-batch boundaries, so the drained union is
    // bit-identical to ONE batch search over the full query set — the
    // oracle is sim_index_batch's verbatim, and the hash match proves
    // streamed micro-batch serving ≡ batch search ≡ closed form.
    Q("stream_index_search",
      (s, d) => {
        val n = ensureServeIndex(s, d)
        graft.streaming.EventStream
          .drainIndexSearch(s, n,
            Tables.embeddings(s, d).filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 3, nprobe = 2)
          .select("qid", "vec_id")
          .orderBy("qid", "vec_id")
      },
      Some(ivfBatchAnnSql)),

    // Streaming INDEX TAKEDOWN ([[graft.streaming.EventStream
    // .drainIndexMaintain]]) — the leg that completes the index's
    // streaming symmetry (ingest / serve / score / DELETE): one
    // maintenance stream interleaves ingest rows (the post-boundary
    // slice, op=add) with takedown events (pre-boundary ids with
    // vec_id % 10 == 3 — the PII-removal stream, op=del) across
    // micro-batches; foreachBatch routes adds → appendBatch and dels →
    // delete. Add/del id sets are disjoint, so appends and tombstones
    // commute and ANY batch interleaving converges to the same state:
    // stale model, old∪new postings, tombstones = the takedown set.
    // The post-drain search must exclude every streamed takedown and
    // keep every survivor — the oracle is that converged state's
    // closed form, so the hash match proves exclusion AND backfill
    // independent of micro-batch boundaries.
    Q("stream_index_delete",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val takedown = emb
          .filter(col("vec_id") % 10 === 3 && col("vec_id") < 250)
          .select("vec_id").collect().map(_.getLong(0)).toSeq
        graft.streaming.EventStream
          .drainIndexMaintain(s, emb, "vec_id", "embedding",
            splitId = 250L, deleteIds = takedown, queryId = 0L,
            k = 10, nprobe = 2)
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"),
            (col("vec_id") >= 250).as("is_new"))
      },
      Some(ivfStreamDeleteSql)),

    // TEXT-index maintenance as a stream
    // ([[graft.streaming.EventStream.drainTextMaintain]]) — the lexical
    // twin of stream_index_delete, with a STRONGER convergence
    // statement: text-index appends are EXACT (df aggregates at query
    // time from the pruned slice, the stats fold is integer), so the
    // post-drain BM25 equals the full-corpus build with only the
    // streamed takedowns excluded from ranking — no stale-model term
    // anywhere in the oracle, unlike the vector drains' stale
    // coarse/codebook chains. Disjoint add/del sets keep batch order
    // invisible.
    Q("stream_text_index",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val takedown = docs
          .filter(col("doc_id") % 10 === 3 && col("doc_id") < 250)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        graft.streaming.EventStream
          .drainTextMaintain(s, docs, "doc_id", "text",
            splitId = 250L, deleteIds = takedown,
            terms = CatalogShared.bm25Terms, limit = 25)
      },
      Some(CatalogShared.bm25StreamMaintainSql)),

    // Streaming takedown on the QUANTIZED layout
    // ([[graft.streaming.EventStream.drainIndexMaintainPq]]) — the
    // stream_index_delete story against the index a 100 TB deployment
    // actually serves: ingest micro-batches encode through the
    // build's codebooks (IvfIndex.appendRows — zero Lloyd rounds per
    // batch), takedown events tombstone by id, and the post-drain
    // quantized search (ADC pool + exact re-rank) must exclude every
    // streamed takedown. Disjoint add/del id sets make batch order
    // invisible; the oracle is the converged state's closed form —
    // stale coarse + stale codebooks (both trained on the pre-boundary
    // slice only), full old∪new code assignment, takedowns excluded
    // from the ADC candidates with the top-10 backfilling.
    Q("stream_index_pq_delete",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val takedown = emb
          .filter(col("vec_id") % 10 === 3 && col("vec_id") < 250)
          .select("vec_id").collect().map(_.getLong(0)).toSeq
        graft.streaming.EventStream
          .drainIndexMaintainPq(s, emb, "vec_id", "embedding",
            splitId = 250L, deleteIds = takedown, queryId = 0L,
            k = 10, nprobe = 2, m = 4, pqK = 4)
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"),
            (col("vec_id") >= 250).as("is_new"))
      },
      Some(ivfPqStreamDeleteSql)),

    // Streaming QUALITY SCORING ([[graft.streaming.EventStream
    // .drainNbScore]]) — "score the crawl as it arrives": documents
    // flow as micro-batches through foreachBatch, each batch tokenized
    // and scored against the PERSISTED NB model tables
    // (quality_nb_persist's train-once artifact — zero training
    // aggregates per batch, a token-keyed lookup join + per-doc sum).
    // Per-document scores are independent of micro-batch boundaries,
    // so the drained union is bit-identical to one batch scoring pass
    // — the oracle is quality_nb's verbatim, and the hash match proves
    // streamed scoring ≡ persisted-model batch scoring ≡ inline
    // training ≡ closed form.
    Q("stream_nb_score",
      (s, d) => {
        val (countsT, scalT) = TextMultimodalQueries.ensureNbModel(s, d)
        graft.streaming.EventStream
          .drainNbScore(s, Tables.documents(s, d), countsT, scalT)
          .select(col("doc_id"), (col("doc_id") % 10 >= 8).as("held_out"),
            col("n_tokens"), col("score_fp20"), col("pred_pos"))
          .orderBy("doc_id")
      },
      Some(TextMultimodalQueries.nbScoreSql)),

    Q("stream_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        val firsts = ev.groupBy(col("user_id")).agg(
          min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
        firsts
          .filter(col("tv") < col("tc") && col("tc") < col("tp"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS n_users FROM (SELECT user_id, min(CASE WHEN event_type = 'view' THEN date_trunc('microseconds', ts) END) AS tv, min(CASE WHEN event_type = 'click' THEN date_trunc('microseconds', ts) END) AS tc, min(CASE WHEN event_type = 'purchase' THEN date_trunc('microseconds', ts) END) AS tp FROM events GROUP BY user_id) WHERE tv < tc AND tc < tp")),

    // First-touch per (user, event_type): batch twin of
    // EventStream.firstTouch (streaming: dropDuplicatesWithinWatermark —
    // arrival order = event order in a watermark-correct stream).
    Q("stream_first_touch",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("event_id").as("first_event_id"))
          .orderBy("user_id", "event_type")
      },
      Some("SELECT user_id, event_type, event_id AS first_event_id FROM (SELECT user_id, event_type, event_id, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1 ORDER BY user_id, event_type")),

    // Interval join: views paired with same-user purchases ≤30 min later —
    // batch twin of EventStream.viewToPurchase (stream-stream join whose
    // time bound lets Spark expire buffered state).
    Q("stream_interval_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        // the literal streaming operator on batch inputs (withWatermark
        // is a no-op on batch plans)
        graft.streaming.EventStream.viewToPurchase(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), maxGapMinutes = 30)
          .orderBy("view_id", "purchase_id")
      },
      Some("SELECT v.event_id AS view_id, p.event_id AS purchase_id FROM events v JOIN events p ON v.user_id = p.user_id AND v.event_type = 'view' AND p.event_type = 'purchase' AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE ORDER BY view_id, purchase_id")),

    // Gap-based sessionization, batch form: a >30-min silence starts a new
    // session (streaming twin: EventStream.sessionCounts session_window).
    // lag + running-sum-of-flags — second-granularity gap arithmetic is
    // identical cross-engine (both floor to epoch seconds).
    Q("stream_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev", lag(col("ts"), 1).over(byUser))
          .withColumn("new_s",
            when(col("prev").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy("user_id", "session_id")
      },
      Some("WITH e AS (SELECT user_id, event_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), f AS (SELECT user_id, event_id, ts, CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS new_s FROM e), g AS (SELECT user_id, event_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM f) SELECT user_id, CAST(session_id AS BIGINT) AS session_id, CAST(count(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id")),

    // SCD2 maintenance AS A STREAM ([[graft.streaming.EventStream
    // .drainScd2]]): two versioned change batches flow through the
    // foreachBatch dimension sink — batch 2 is `scd2_apply`'s exact
    // batch (shared derivation), batch 3 re-changes the %11==6 keys
    // (including keys ALSO changed in batch 2 → three-version chains)
    // and no-op re-sends a slice of batch 2's inserts. Batch membership
    // is explicit (`batch_version` column, one feed file per version,
    // mtime-ordered pickup), so the oracle replays the same two batches
    // closed-form: streamed ≡ replayed is the hash statement.
    Q("stream_scd2",
      (s, d) => {
        val base = scd2Base(s, d)
        val k = col("c_custkey")
        val b2 = scd2Batch2(s, d).withColumn("batch_version", lit(2L))
        val b3 = base.filter(k % 11 === 6)
          .select(k, col("c_name"), col("c_nationkey"), col("cents"),
            concat(lit("W3_"), col("c_mktsegment")).as("c_mktsegment"))
          .unionByName(base.filter(k % 13 === 5 && k % 3 === 0).select(
            (k + 1000000L).as("c_custkey"),
            concat(lit("NEW#"), k.cast("string")).as("c_name"),
            col("c_nationkey"), lit(5000L).as("cents"),
            lit("NEW").as("c_mktsegment")))
          .withColumn("batch_version", lit(3L))
        graft.streaming.EventStream
          .drainScd2(s, scd2Dim0(s, d), b2.unionByName(b3),
            "c_custkey", Seq("cents", "c_mktsegment"))
          .orderBy("c_custkey", "valid_from")
      },
      Some(s"WITH $scd2MergedCtes, " +
        "b3 AS (SELECT k, c_name, nk, cents, 'W3_' || seg AS seg FROM base WHERE k % 11 = 6 " +
        "UNION ALL SELECT k + 1000000, 'NEW#' || CAST(k AS VARCHAR), nk, 5000, 'NEW' " +
        "FROM base WHERE k % 13 = 5 AND k % 3 = 0), " +
        "c1 AS (SELECT * FROM merged WHERE is_current), " +
        "h1 AS (SELECT * FROM merged WHERE NOT is_current), " +
        "j2 AS (SELECT c1.c_custkey AS ck, c1.c_name AS cn, c1.c_nationkey AS cnk, c1.cents AS cc, " +
        "c1.c_mktsegment AS cs, c1.valid_from AS cvf, c1.valid_to AS cvt, " +
        "b3.k AS gk, b3.c_name AS gn, b3.nk AS gnk, b3.cents AS gc, b3.seg AS gs, " +
        "(c1.cents IS DISTINCT FROM b3.cents OR c1.c_mktsegment IS DISTINCT FROM b3.seg) AS differs " +
        "FROM c1 FULL OUTER JOIN b3 ON c1.c_custkey = b3.k), " +
        "m2 AS (" +
        "SELECT c_custkey, c_name, c_nationkey, cents, c_mktsegment, valid_from, valid_to, is_current FROM h1 " +
        "UNION ALL SELECT ck, cn, cnk, cc, cs, cvf, cvt, TRUE FROM j2 WHERE ck IS NOT NULL AND (gk IS NULL OR NOT differs) " +
        "UNION ALL SELECT ck, cn, cnk, cc, cs, cvf, 3, FALSE FROM j2 WHERE ck IS NOT NULL AND gk IS NOT NULL AND differs " +
        "UNION ALL SELECT gk, gn, gnk, gc, gs, 3, CAST(NULL AS BIGINT), TRUE FROM j2 WHERE gk IS NOT NULL AND (ck IS NULL OR differs)) " +
        "SELECT * FROM m2 ORDER BY c_custkey, valid_from")))


  val all: Seq[Q] = streaming
}
