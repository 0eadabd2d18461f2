package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{IvfIndex, TextIndex, Tombstones}
import graft.streaming.EventStream

/** The EMPTY-INPUT contract, as a category: every `EventStream.drain*`
  * and every TextIndex/IvfIndex lifecycle op driven with an empty
  * corpus / empty delta / empty query set must return its contract
  * schema (or leave the index untouched) — never throw, never
  * null-poison downstream statistics. This class of bug appeared three
  * rounds running (r14 drainIndexSearch PATH_NOT_FOUND, r15 text-stats
  * null fold); this spec kills it wholesale.
  */
class DegenerateInputSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val events = Tables.events(spark, sf)
    .filter(col("event_id") < 200).localCheckpoint()
  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "text").localCheckpoint()
  private lazy val emb = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 60).localCheckpoint()

  /** Every index the suite builds; the last test drops them all. */
  private val built = scala.collection.mutable.LinkedHashSet.empty[Tombstones.Index]
  private def track[N <: Tombstones.Index](n: N): N = { built += n; n }

  private def assertEmptyWithSchema(df: DataFrame, cols: Seq[String],
      hint: String): Unit = {
    assert(df.columns.toSeq === cols, s"$hint schema")
    assert(df.count() === 0L, s"$hint row count")
  }

  test("event-shaped drains return contract schemas on an EMPTY stream input") {
    val e0 = events.limit(0)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    assertEmptyWithSchema(
      EventStream.drainEnrich(spark, e0, dim, "user_id", "c_custkey"),
      events.columns.toSeq :+ "c_mktsegment", "drainEnrich")
    assertEmptyWithSchema(
      EventStream.drainUpsert(spark, e0, "event_id"),
      events.columns.toSeq, "drainUpsert")
    assertEmptyWithSchema(
      EventStream.drainDedup(spark, e0, Seq("event_id")),
      events.columns.toSeq, "drainDedup")
    assertEmptyWithSchema(
      EventStream.drainHdrSketch(spark,
        e0.select(col("event_type"), col("value").cast("long").as("c")), "c"),
      Seq("event_type", "n", "p50_lb", "p90_lb"), "drainHdrSketch")
    assertEmptyWithSchema(
      EventStream.drainRunningCounts(spark, e0),
      Seq("user_id", "n_events"), "drainRunningCounts")
  }

  test("drainLateAudit: an empty late night and a fully-empty feed both keep the contract") {
    // the common degenerate night: on-time rows, zero late arrivals
    val (sink1, late1, dropped1) =
      EventStream.drainLateAudit(spark, events, events.limit(0))
    assert(sink1.columns.toSeq ===
      Seq("window_start", "event_type", "cnt", "sum_value_cents"))
    assert(late1 === 0L && dropped1 === 0L)
    // nothing at all arrived
    val (sink2, late2, dropped2) =
      EventStream.drainLateAudit(spark, events.limit(0), events.limit(0))
    assertEmptyWithSchema(sink2,
      Seq("window_start", "event_type", "cnt", "sum_value_cents"),
      "drainLateAudit empty")
    assert(late2 === 0L && dropped2 === 0L)
  }

  test("index drains: an EMPTY delta stream leaves the index serving its base state") {
    // splitId above every id → the streamed side is empty in all four
    val stats = EventStream.drainIndexIngest(spark, emb,
      "vec_id", "embedding", splitId = 1000L)
    assert(stats.columns.toSeq ===
      Seq("centroid_id", "n_vectors", "min_id", "max_id"))
    assert(stats.agg(sum("n_vectors")).head.getLong(0) === emb.count())
    val flat = EventStream.drainIndexMaintain(spark, emb,
      "vec_id", "embedding", splitId = 1000L, deleteIds = Nil,
      queryId = 0L, k = 5, nprobe = 2)
    assert(flat.columns.toSeq === Seq("vec_id", "centroid_id", "score"))
    assert(flat.count() === 5L)
    val pq = EventStream.drainIndexMaintainPq(spark, emb,
      "vec_id", "embedding", splitId = 1000L, deleteIds = Nil,
      queryId = 0L, k = 3, nprobe = 2, m = 4, pqK = 4)
    assert(pq.columns.toSeq === Seq("vec_id", "centroid_id", "score"))
    assert(pq.count() === 3L)
    val text = EventStream.drainTextMaintain(spark,
      docs.filter(col("doc_id") < 60), "doc_id", "text",
      splitId = 1000L, deleteIds = Nil,
      terms = Seq("join", "vector", "stream"), limit = 10)
    assert(text.columns.toSeq === Seq("doc_id", "score_u", "n_terms"))
    assert(text.count() > 0L)
  }

  test("serving drains: EMPTY query/score sets return contract schemas") {
    val n = track(IvfIndex.names("degen_iv", "spec"))
    if (!IvfIndex.exists(spark, n))
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
    assertEmptyWithSchema(
      EventStream.drainIndexSearch(spark, n, emb.limit(0),
        "vec_id", "embedding", k = 3, nprobe = 2),
      Seq("qid", "vec_id", "centroid_id", "score"), "drainIndexSearch")
    val (countsT, scalT) = TextMultimodalQueries.ensureNbModel(spark, sf)
    val nb = EventStream.drainNbScore(spark,
      Tables.documents(spark, sf).limit(0), countsT, scalT)
    assert(nb.count() === 0L, "drainNbScore rows")
    assert(nb.columns.contains("doc_id") && nb.columns.contains("score_fp20"),
      s"drainNbScore schema: ${nb.columns.mkString(",")}")
  }

  test("TextIndex lifecycle: empty corpus, absent-id takedown, no-tombstone compact") {
    val terms = Seq("join", "vector", "stream")
    // build on an EMPTY corpus: stats must be (0, 0), serving empty
    val n0 = track(TextIndex.names("degen_t0", "spec"))
    TextIndex.build(docs.limit(0), "doc_id", "text", n0)
    val st = spark.table(n0.stats).collect().head
    assert((st.getLong(0), st.getLong(1)) === (0L, 0L))
    assertEmptyWithSchema(TextIndex.bm25(spark, n0, terms, 10),
      Seq("doc_id", "score_u", "n_terms"), "bm25 on empty index")
    assertEmptyWithSchema(
      TextIndex.phrase(spark, n0, Seq("table", "part")),
      Seq("doc_id", "pos"), "phrase on empty index")
    // compact with no tombstone table: a no-op, not an error
    TextIndex.compact(spark, n0)
    // takedown of ids the index never held: serving unchanged, compact
    // folds nothing, stats unchanged
    val n1 = track(TextIndex.names("degen_t1", "spec"))
    TextIndex.build(docs.filter(col("doc_id") < 40), "doc_id", "text", n1)
    val before = TextIndex.bm25(spark, n1, terms, 100).collect().toSeq
    val stBefore = spark.table(n1.stats).collect().head.toSeq
    TextIndex.delete(spark, n1, Seq(100000L, 100001L))
    assert(TextIndex.bm25(spark, n1, terms, 100).collect().toSeq === before)
    TextIndex.compact(spark, n1)
    assert(TextIndex.bm25(spark, n1, terms, 100).collect().toSeq === before)
    assert(spark.table(n1.stats).collect().head.toSeq === stBefore)
    assert(!spark.catalog.tableExists(TextIndex.tombstoneTable(n1)))
    // DataFrame delete with an EMPTY delta (the no-change night)
    import spark.implicits._
    TextIndex.delete(spark, n1, Seq.empty[Long].toDF("doc_id"))
    assert(TextIndex.bm25(spark, n1, terms, 100).collect().toSeq === before)
    TextIndex.compact(spark, n1)
    assert(spark.table(n1.stats).collect().head.toSeq === stBefore)
  }

  test("IvfIndex lifecycle: empty batch append, absent-id takedown, empty batch search") {
    val n = track(IvfIndex.names("degen_iv2", "spec"))
    if (!IvfIndex.exists(spark, n))
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
    def top(k: Int) = IvfIndex
      .search(spark, n, "vec_id", "embedding", 0L, k = k, nprobe = 2,
        queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq
    val before = top(10)
    // empty batch: the no-new-vectors night
    IvfIndex.appendBatch(spark, n, emb.limit(0), "vec_id", "embedding")
    assert(top(10) === before)
    // delete ids the index never held, then fold: nothing changes
    IvfIndex.delete(spark, n, "vec_id", Seq(100000L, 100001L))
    assert(top(10) === before)
    IvfIndex.compact(spark, n, "vec_id")
    assert(top(10) === before)
    // k larger than the corpus: every PROBED live row ranks (an IVF
    // search never sees beyond its probe set — that's the design),
    // no error, no duplicates
    val all = top(10000)
    assert(all.size >= before.size && all.size < emb.count())
    assert(all.distinct.size === all.size)
    // batch search over an EMPTY query set: contract schema
    assertEmptyWithSchema(
      IvfIndex.searchBatch(spark, n, "vec_id", "embedding", Nil,
        k = 3, nprobe = 2, queryFrom = Some(emb)),
      Seq("qid", "vec_id", "centroid_id", "score"), "searchBatch(Nil)")
    // quantized layout: empty batch append leaves serving untouched
    val pn = track(IvfIndex.pqNames("degen_pq", "spec"))
    if (!IvfIndex.exists(spark, pn))
      IvfIndex.build(emb, "vec_id", "embedding", pn, k = 8, m = 4, pqK = 4)
    val pqBefore = IvfIndex.search(spark, pn, "vec_id", "embedding", 0L,
      k = 5, nprobe = 2, queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq
    IvfIndex.appendBatch(spark, pn, emb.limit(0), "vec_id", "embedding")
    assert(IvfIndex.search(spark, pn, "vec_id", "embedding", 0L,
      k = 5, nprobe = 2, queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq === pqBefore)
    // DataFrame-face delete with an EMPTY id frame (the no-takedown
    // night of the publish chain): serving untouched on BOTH layouts
    IvfIndex.delete(spark, n, "vec_id", emb.limit(0).select("vec_id"))
    assert(top(10) === before)
    IvfIndex.compact(spark, n, "vec_id")
    assert(top(10) === before)
    IvfIndex.delete(spark, pn, "vec_id", emb.limit(0).select("vec_id"))
    assert(IvfIndex.search(spark, pn, "vec_id", "embedding", 0L,
      k = 5, nprobe = 2, queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq === pqBefore)
  }

  test("publish composition: empty-delta, all-changed, and empty-corpus nights keep the chain intact") {
    import graft.operators.Snapshot
    val terms = Seq("join", "vector", "stream")
    val base = docs.filter(col("doc_id") < 60)

    // 1) EMPTY-DELTA night: old == new → the classifier output is all
    // 'unchanged'; delete(∅) → compact → appendBatch(∅) must leave the
    // index byte-identical in serving terms (the publish chain's
    // build→delete→append ordering with nothing to do at each step)
    val n1 = track(TextIndex.names("degen_p1", "spec"))
    TextIndex.build(base, "doc_id", "text", n1)
    val before = TextIndex.bm25(spark, n1, terms, 100).collect().toSeq
    val diff0 = Snapshot.diff(base, base, "doc_id", Seq("text"))
      .select("doc_id", "status").localCheckpoint()
    assert(diff0.filter(col("status") =!= "unchanged").count() === 0L)
    TextIndex.delete(spark, n1,
      diff0.filter(col("status").isin("removed", "changed")).select("doc_id"))
    TextIndex.compact(spark, n1)
    TextIndex.appendBatch(spark, n1,
      base.join(diff0.filter(col("status").isin("added", "changed")),
        Seq("doc_id"), "left_semi"), "doc_id", "text")
    assert(TextIndex.bm25(spark, n1, terms, 100).collect().toSeq === before)

    // 2) ALL-CHANGED night: every doc's content hash moves → delete
    // everything, compact folds the whole index away, append re-adds
    // the new content; serving must equal a FRESH build on the new snap
    val n2 = track(TextIndex.names("degen_p2", "spec"))
    TextIndex.build(base, "doc_id", "text", n2)
    val newSnap = base.withColumn("text", concat(col("text"), lit(" v2")))
      .localCheckpoint()
    val diff2 = Snapshot.diff(base, newSnap, "doc_id", Seq("text"))
      .select("doc_id", "status").localCheckpoint()
    assert(diff2.filter(col("status") === "changed").count() === base.count())
    TextIndex.delete(spark, n2,
      diff2.filter(col("status").isin("removed", "changed")).select("doc_id"))
    TextIndex.compact(spark, n2)
    TextIndex.appendBatch(spark, n2,
      newSnap.join(diff2.filter(col("status").isin("added", "changed")),
        Seq("doc_id"), "left_semi"), "doc_id", "text")
    val nf = track(TextIndex.names("degen_p2f", "spec"))
    TextIndex.build(newSnap, "doc_id", "text", nf)
    assert(TextIndex.bm25(spark, n2, terms, 100).collect().toSeq ===
      TextIndex.bm25(spark, nf, terms, 100).collect().toSeq)
    assert(spark.table(n2.stats).collect().head.toSeq ===
      spark.table(nf.stats).collect().head.toSeq)

    // 3) EMPTY-CORPUS publish: both snapshots empty — every step no-ops
    val n3 = track(TextIndex.names("degen_p3", "spec"))
    TextIndex.build(docs.limit(0), "doc_id", "text", n3)
    val diff3 = Snapshot.diff(docs.limit(0), docs.limit(0), "doc_id", Seq("text"))
      .select("doc_id", "status").localCheckpoint()
    TextIndex.delete(spark, n3,
      diff3.filter(col("status").isin("removed", "changed")).select("doc_id"))
    TextIndex.compact(spark, n3)
    TextIndex.appendBatch(spark, n3,
      docs.limit(0).join(diff3, Seq("doc_id"), "left_semi"), "doc_id", "text")
    assertEmptyWithSchema(TextIndex.bm25(spark, n3, terms, 10),
      Seq("doc_id", "score_u", "n_terms"), "bm25 after empty publish")
    val st3 = spark.table(n3.stats).collect().head
    assert((st3.getLong(0), st3.getLong(1)) === (0L, 0L))

    // 4) vector arm, empty-delta night: anti-join delta is empty, the
    // takedown frame is empty — append(∅) + delete(∅) + compact keep
    // the index serving its base state on BOTH layouts
    val vn = track(IvfIndex.names("degen_pv", "spec"))
    if (!IvfIndex.exists(spark, vn))
      IvfIndex.build(emb, "vec_id", "embedding", vn, k = 8)
    val vBefore = IvfIndex.search(spark, vn, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2, queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq
    val delta = emb.join(spark.table(vn.postings).select("vec_id"),
      Seq("vec_id"), "left_anti").localCheckpoint()
    assert(delta.count() === 0L)
    IvfIndex.appendBatch(spark, vn, delta, "vec_id", "embedding")
    IvfIndex.delete(spark, vn, "vec_id", delta.select("vec_id"))
    IvfIndex.compact(spark, vn, "vec_id")
    assert(IvfIndex.search(spark, vn, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2, queryFrom = Some(emb))
      .collect().map(_.getLong(0)).toSeq === vBefore)
  }

  test("Scd2: empty batch, empty dimension, and all-changed batch keep the contract") {
    import graft.operators.Scd2
    import spark.implicits._
    val dim = Seq(
      (1L, "A", 0L, Option.empty[Long], true),
      (1L, "Z", -5L, Option(0L), false))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    // empty batch: the dimension passes through row-for-row
    val same = Scd2(dim, dim.select("k", "seg").limit(0), "k", Seq("seg"), 9L)
    assert(same.orderBy("k", "valid_from").collect().toSeq ===
      dim.orderBy("k", "valid_from").collect().toSeq)
    // empty dimension: the batch inserts first versions, nothing else
    val seeded = Scd2(dim.limit(0), Seq((7L, "N")).toDF("k", "seg"),
      "k", Seq("seg"), 3L).collect()
    assert(seeded.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.isNullAt(3), r.getBoolean(4))).toSeq === Seq((7L, "N", 3L, true, true)))
    // all-changed batch: every current row closes at the stamp, history
    // rows stay, exactly one open version per key afterwards
    val allNew = Scd2(dim, dim.filter(col("is_current"))
      .select(col("k"), concat(col("seg"), lit("!")).as("seg")),
      "k", Seq("seg"), 9L)
    val rows = allNew.orderBy("k", "valid_from").collect()
    assert(rows.length === 3)
    assert(rows.count(_.getBoolean(4)) === 1)
    assert(rows.filter(!_.getBoolean(4)).forall(r => !r.isNullAt(3)))
  }

  test("zIntervals: degenerate boxes (single cell, full domain, box outside the data)") {
    import graft.functions.Layout
    import spark.implicits._
    // single cell: one interval of width 1 (morton2(5, 9) = 147)
    assert(Layout.zIntervals(5, 5, 9, 9) === Seq((147L, 147L)))
    // full domain: one interval covering the whole 32-bit z space
    assert(Layout.zIntervals(0, 0xFFFFL, 0, 0xFFFFL) ===
      Seq((0L, 0xFFFFFFFFL)))
    // a box entirely outside the data still yields a valid cover whose
    // residual-filtered scan returns zero rows (never an empty-OR crash)
    val grid = (for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y))
      .toDF("x", "y")
      .withColumn("z", Layout.morton2(col("x"), col("y")))
    val n = grid.filter(Layout.zRangeFilter(col("z"), col("x"), col("y"),
      1000, 1015, 1000, 1015)).count()
    assert(n === 0L)
    // cap = 1 degenerates to the single covering range — still a superset
    val one = Layout.zIntervals(3, 12, 5, 9, maxIntervals = 1)
    assert(one.size === 1)
    val exact = Layout.zIntervals(3, 12, 5, 9, maxIntervals = 100000)
    assert(one.head._1 === exact.head._1 && one.head._2 === exact.last._2)
  }

  test("the suite drops every index it built: no degen_* table remains") {
    built.foreach(Tombstones.drop(spark, _))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("degen_"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
