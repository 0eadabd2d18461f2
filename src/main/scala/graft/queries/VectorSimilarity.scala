package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Text, Vectors}

/** Vector similarity: embedding near-dup pairs, brute-force/filtered/
  * hybrid/batch ANN, quantization.
  */
private[queries] object VectorQueries {
  import CatalogShared._

  // --------------------------------------------------------------------
  // Vector similarity (beyond-reference north star)
  // --------------------------------------------------------------------

  private val vectors = Seq(
    // Embedding-cosine near-dup pairs within a label partition. Threshold
    // 0.3547 sits in an empirically-verified 7.5e-4-wide gap of the
    // same-label pair-cosine distribution at sf0.01 — 1e-12 FP summation
    // noise cannot flip membership.
    Q("dedup_embcos",
      (s, d) => {
        // Native codegen DotProduct on raw float arrays (no per-element
        // cast transform); values identical — elements widen to double
        // inside the loop.
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
          .withColumn("nrm", Vectors.norm(col("v")))
        val a = e.select(col("vec_id").as("id_a"), col("label"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("id_b"), col("label"), col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .filter(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")) > 0.3547)
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      },
      Some("WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), u AS (SELECT id_a, id_b, CAST(unnest(ea) AS DOUBLE) AS xa, CAST(unnest(eb) AS DOUBLE) AS xb FROM p), dd AS (SELECT id_a, id_b, SUM(xa*xb) AS dot, SUM(xa*xa) AS na, SUM(xb*xb) AS nb FROM u GROUP BY id_a, id_b) SELECT id_a, id_b FROM dd WHERE dot / (sqrt(na) * sqrt(nb)) > 0.3547 ORDER BY id_a, id_b")),

    // SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // reuse the IVF coarse quantizer (iters=2) as the clustering, rank
    // keep-priority by ascending cosine-to-centroid, flag members above
    // τ=0.396 to any earlier-ranked same-cluster member. τ is
    // gap-verified at both verification scales (see semDedupSql).
    // k SCALES with the corpus — max(8, ⌈n/512⌉) — so the per-cell pair
    // volume (the quadratic term) stays ~constant as the corpus grows:
    // pair count ≈ n·512/2, linear in n. A FIXED k is the classic
    // SemDeDup scaling bug (cells grow with the corpus and the
    // within-cell join quadratically so — measured 122× time at 100×
    // data before this, sub-linear after). At both verification scales
    // (n = 500 / 2000) the formula yields k = 8, the proven model; the
    // oracle twin computes the same k from count(*).
    Q("dedup_semantic",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val k = graft.operators.Ivf.cellsFor(emb.count())
        val cents = cachedModel(s"ivf|${embKey(d)}|k=$k|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = k, iters = 2) }
        graft.operators.SemDedup
          .markDuplicates(emb, "vec_id", "embedding", cents, tau = 0.396)
          .orderBy("vec_id")
      },
      Some(semDedupSql)),

    // Brute-force cosine top-k ANN baseline (query = vec_id 0). Ranking
    // gaps ≥ 3e-4 at sf0.01 — stable under FP noise.
    Q("sim_topk_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
          .select("vec_id")
      },
      Some("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0), dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id) SELECT vec_id FROM dd ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10")))

  /** Filtered vector search + hybrid retrieval — the two capability
    * classes vector stores name as first-class features.
    */
  private val hybrid = Seq(
    // Filtered ANN: metadata predicate + top-k cosine. The label filter
    // is a scan-level pushed filter (locked in PlanSpec) — at 100 TB on
    // a label-partitioned corpus it becomes partition pruning, so the
    // vector scan only touches the filtered slice.
    Q("sim_filtered_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        emb.filter(col("label") <= 3 && col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10).select("vec_id")
      },
      Some("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0 AND label <= 3), " +
        "dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id) " +
        "SELECT vec_id FROM dd ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10")),

    // Hybrid retrieval via reciprocal-rank fusion: fuse the TOP-50
    // candidate lists of a term-frequency text search and a cosine
    // vector search (1/(60+rank) each, the standard RRF constant). The
    // global windows rank ≤50 rows AFTER a distributed top-k — never the
    // corpus (the single-task-window trap); fusing bounded candidate
    // lists is also how hybrid search actually deploys.
    Q("sim_hybrid_rrf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val tf = docs.select(col("doc_id"),
            size(filter(split(lower(col("text")), " "), w => w === "spark"))
              .cast("long").as("tf"))
          .filter(col("tf") > 0)
          .orderBy(col("tf").desc, col("doc_id")).limit(50)
        val tRank = tf.select(col("doc_id"),
          row_number().over(Window.orderBy(col("tf").desc, col("doc_id")))
            .cast("long").as("rt"))
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val vs = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(50)
        val vRank = vs.select(col("doc_id"),
          row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long").as("rv"))
        tRank.join(vRank, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10).select("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS rt FROM " +
        "(SELECT doc_id, tf FROM (SELECT doc_id, CAST(len(list_filter(string_split(lower(text), ' '), w -> w = 'spark')) AS BIGINT) AS tf FROM documents) WHERE tf > 0 ORDER BY tf DESC, doc_id LIMIT 50)), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0), " +
        "dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id), " +
        "v AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rv FROM " +
        "(SELECT vec_id AS doc_id, dot / sqrt(nx) AS s FROM dd ORDER BY s DESC, vec_id LIMIT 50)) " +
        "SELECT doc_id FROM (SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id, " +
        "COALESCE(CAST(1 AS DOUBLE) / (60 + rt), 0) + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0) AS rrf " +
        "FROM t FULL OUTER JOIN v ON t.doc_id = v.doc_id) ORDER BY rrf DESC, doc_id LIMIT 10")))

  /** Batch ANN: top-3 neighbors for each of 5 query vectors in ONE pass —
    * the query set broadcasts, the corpus is scanned once (never the
    * reverse). Ranking gaps verified ≥3e-4 at sf0.01, far above FP noise.
    */
  private val batchAnn = Seq(
    Q("sim_batch_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))
        emb.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("qid", "vec_id")
          .orderBy("qid", "vec_id")
      },
      Some("WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), u AS (SELECT qid, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> qid), dd AS (SELECT qid, vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY qid, vec_id), r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM dd) SELECT qid, vec_id FROM r WHERE rn <= 3 ORDER BY qid, vec_id")),

    // Prototype/outlier filtering (the DataComp/CLIP-filtering cousin of
    // SemDeDup): reuse the corpus-scaled IVF clustering, rank every
    // vector per cluster by distance to its OWN centroid, flag the
    // farthest 10% per cluster as outliers (likely noise/off-distribution
    // — the slice a curation pipeline drops or down-weights). The flag is
    // RANK-based (row_number ≤ ⌊n/10⌋ per cluster), never an FP
    // threshold, so no gap analysis is needed: both engines compute the
    // identical IEEE score tree and the identical integer ranks.
    // Scale: assignment shuffles n rows (broadcast model), the rank
    // window is cluster-bounded (≤ ~512 rows/cell by the k formula).
    Q("emb_outliers",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val k = graft.operators.Ivf.cellsFor(emb.count())
        val cents = cachedModel(s"ivf|${embKey(d)}|k=$k|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = k, iters = 2) }
        val asg = graft.operators.Ivf
          .assignScoresByJoin(emb, "vec_id", "embedding", cents)
        val w = Window.partitionBy("centroid_id")
        asg
          .withColumn("rn",
            row_number().over(w.orderBy(col("score").asc, col("vec_id"))))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"),
            (col("rn") <= expr("n div 10")).as("is_outlier"))
          .orderBy("vec_id")
      },
      Some("WITH " + ivfModelCtes + ", " +
        s"cj AS (SELECT a.vec_id, a.cid, ((2 * ${ivfDotL("a.v", "c.c")} - ${ivfDotL("a.v", "a.v")}) - ${ivfDotL("c.c", "c.c")}) AS s " +
        "FROM asg3 a JOIN c2 c USING (cid)), " +
        "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid ORDER BY s ASC, vec_id) AS rn, count(*) OVER (PARTITION BY cid) AS n FROM cj) " +
        "SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id, rn <= n // 10 AS is_outlier FROM r ORDER BY vec_id")))


  /** The persisted-index queries — how the inline `sim_*_ann` operators
    * actually DEPLOY ([[graft.operators.IvfIndex]]): train once, store
    * centroids + partitioned posting lists as managed tables, search
    * with ZERO Lloyd rounds in the plan, grow by assigning new batches
    * to the existing (stale) model. Index builds are once-per-session
    * per corpus fingerprint (the j13 amortization pattern — distinct
    * prefixes keep the two entries free of shared mutable tables under
    * Verify's concurrent evaluation).
    */
  private def ensureIndex(s: SparkSession, d: String, prefix: String,
      incremental: Boolean,
      payloadCols: Seq[String] = Nil): graft.operators.IvfIndex.Names = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.names(prefix, fp)
    // cachedModel's computeIfAbsent serializes same-key builders, so two
    // catalog entries SHARING an index prefix (e.g. the recall pricing
    // row reusing the filtered/batch indexes) can never race a build
    // under Verify's concurrent evaluation — the first arrival builds,
    // the rest wait and reuse.
    cachedBuild(s"ivfidx|$prefix|$fp") {
      if (!IvfIndex.exists(s, n)) {
        val emb = Tables.embeddings(s, d)
        if (incremental) {
          // the ingest boundary: vec_id < 250 was indexed at build time
          // (model trained on it), >= 250 arrives later and is ASSIGNED,
          // never retrained on — the dedup_incremental split applied to ANN
          val old = emb.filter(col("vec_id") < 250)
          IvfIndex.build(old, "vec_id", "embedding", n,
            k = graft.operators.Ivf.cellsFor(old.count()))
          IvfIndex.appendBatch(s, n,
            emb.filter(col("vec_id") >= 250), "vec_id", "embedding")
        } else buildFull(s, d, emb, n, payloadCols)
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build `n` on the full corpus with the corpus-scaled cell count. A
    * quantized layout takes its coarse + PQ models from the session
    * model cache (shared with the inline IVF-PQ/recall queries —
    * identical deterministic artifacts) and posts CODES only.
    */
  private def buildFull(s: SparkSession, d: String, emb: DataFrame,
      n: graft.operators.IvfIndex.Layout, payloadCols: Seq[String] = Nil): Unit = {
    import graft.operators.{Ivf, IvfIndex, Pq}
    val k = Ivf.cellsFor(emb.count())
    val models = n match {
      case _: IvfIndex.PqNames => Some(IvfIndex.Models(
        cachedModel(s"ivf|${embKey(d)}|k=$k|it=2") {
          Ivf.train(emb, "vec_id", "embedding", k = k, iters = 2) },
        cachedModel(s"pq|${embKey(d)}|m=4|k=4|it=2") {
          Pq.train(emb, "vec_id", "embedding", dim = 64, m = 4, k = 4, iters = 2) }))
      case _: IvfIndex.Names => None
    }
    IvfIndex.build(emb, "vec_id", "embedding", n, k = k,
      payloadCols = payloadCols, models = models)
  }

  /** Build-once wrapper for the QUANTIZED persisted index ([[buildFull]]). */
  private def ensurePqIndex(s: SparkSession, d: String, prefix: String,
      payloadCols: Seq[String] = Nil): graft.operators.IvfIndex.PqNames = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.pqNames(prefix, fp)
    cachedBuild(s"ivfidx_pq|$prefix|$fp") {
      if (!IvfIndex.exists(s, n)) buildFull(s, d, Tables.embeddings(s, d), n, payloadCols)
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the TOMBSTONED index the deletion-lifecycle
    * queries share: full build, then a closed-form takedown list
    * (vec_id % 10 == 3 — 10% of the corpus, arriving as a bounded id
    * list the way PII/dedup drops do) lands in the tombstone table.
    */
  private def ensureDeletedIndex(s: SparkSession,
      d: String): graft.operators.IvfIndex.Names = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.names("ivd", fp)
    cachedBuild(s"ivfidx|ivd|$fp") {
      if (!IvfIndex.exists(s, n)) {
        val emb = Tables.embeddings(s, d)
        buildFull(s, d, emb, n)
        // DataFrame-face delete: the takedown set is a corpus fraction
        // (10% of vec_ids) — it must never transit the driver
        IvfIndex.delete(s, n, "vec_id",
          emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for a REBUILT index of either layout: build on
    * the full corpus ([[buildFull]]) → delete the standing takedown set
    * (the health signal fires at 10% tombstones) →
    * [[graft.operators.IvfIndex.rebuild]] ACTS on it — retrain every
    * model on the live rows (the quantized layout fetches their vectors
    * from the corpus by id), rewrite the index, fold the tombstones away.
    */
  private def ensureRebuilt[N <: graft.operators.IvfIndex.Layout](
      s: SparkSession, d: String, prefix: String)(names: (String, String) => N): N = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = names(prefix, fp)
    // COMPLETION marker, not IvfIndex.exists: a prior JVM that died
    // between build and rebuild leaves exists=true with no tombstone
    // table — indistinguishable from a finished rebuild — so gating on
    // exists would silently serve the never-rebuilt index. The marker
    // table is written only after the rebuild lands; every partial
    // state short of it re-runs the (idempotent) delete+rebuild chain:
    // re-deleting ids the rebuild already folded tombstones absent
    // rows (the anti-join no-ops) and a re-rebuild retrains on the
    // same live slice → the same deterministic models.
    val markT = s"${prefix}_done_$fp"
    cachedBuild(s"ivfidx|$prefix|$fp") {
      if (!s.catalog.tableExists(markT)) {
        val emb = Tables.embeddings(s, d)
        if (!IvfIndex.exists(s, n)) buildFull(s, d, emb, n)
        // DataFrame-face delete: the takedown set is a corpus fraction
        // (10% of vec_ids) — it must never transit the driver
        IvfIndex.delete(s, n, "vec_id",
          emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
        IvfIndex.rebuild(s, n, "vec_id", "embedding", source = Some(emb))
        graft.sources.Warehouse.writeTable(s.range(1).toDF("done"), markT)
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the persisted TEXT index
    * ([[graft.operators.TextIndex]]) — shared read-only by
    * `text_index_persist` and `sim_index_hybrid` after its
    * computeIfAbsent-serialized build (the ivp pattern: no mutation
    * after build, so sharing one prefix is safe under concurrent
    * Verify).
    */
  private def ensureTextIndex(s: SparkSession,
      d: String): graft.operators.TextIndex.Names = {
    import graft.operators.TextIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("documents"))
    val n = TextIndex.names("tix", fp)
    cachedBuild(s"textidx|tix|$fp") {
      if (!TextIndex.exists(s, n))
        TextIndex.build(Tables.documents(s, d), "doc_id", "text", n)
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the PAYLOAD-carrying text index (the
    * filtered-retrieval face): each posting row denormalizes the doc's
    * `label` (from the embeddings table — doc_id and vec_id share the
    * corpus id space), so a filtered bm25 predicates on the pruned
    * posting scan itself, never a side-table join per query. Docs
    * without a vector carry a null label (left join) and are dropped
    * by any payload predicate — the ranking-exclusion contract.
    */
  private def ensureFilteredTextIndex(s: SparkSession,
      d: String): graft.operators.TextIndex.Names = {
    import graft.operators.TextIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("documents", "embeddings"))
    val n = TextIndex.names("tixl", fp)
    cachedBuild(s"textidx|tixl|$fp") {
      if (!TextIndex.exists(s, n)) {
        val docs = Tables.documents(s, d).select("doc_id", "text")
          .join(Tables.embeddings(s, d)
            .select(col("vec_id").as("doc_id"), col("label")),
            Seq("doc_id"), "left")
        TextIndex.build(docs, "doc_id", "text", n, payloadCols = Seq("label"))
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the GROWN text index: built on the
    * pre-ingest slice (doc_id < 250 — the standing boundary), then the
    * rest appends retrain-free via [[graft.operators.TextIndex
    * .appendBatch]]. Exact by construction (see the operator doc), so
    * `text_index_incremental` shares `text_index_persist`'s oracle.
    */
  private def ensureTextIndexInc(s: SparkSession,
      d: String): graft.operators.TextIndex.Names = {
    import graft.operators.TextIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("documents"))
    val n = TextIndex.names("tixi", fp)
    // COMPLETION marker, not TextIndex.exists: a JVM that died between
    // build and appendBatch leaves exists=true with the >= 250 slice
    // missing — indistinguishable from a finished grow — so gating on
    // exists would serve the partial index forever. The marker lands
    // only after the append; any partial state re-runs the chain
    // (build drops the old tables, so the re-run is from-scratch clean).
    val markT = s"tixi_done_$fp"
    cachedBuild(s"textidx|tixi|$fp") {
      if (!s.catalog.tableExists(markT)) {
        val docs = Tables.documents(s, d)
        TextIndex.build(docs.filter(col("doc_id") < 250), "doc_id", "text", n)
        TextIndex.appendBatch(s, n,
          docs.filter(col("doc_id") >= 250), "doc_id", "text")
        graft.sources.Warehouse.writeTable(s.range(1).toDF("done"), markT)
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the TOMBSTONED text index: full build, then
    * the standing takedown set (doc_id % 10 = 3) deleted — the
    * pre-compaction serving state `text_index_delete` verifies.
    */
  private def ensureTextIndexDel(s: SparkSession,
      d: String): graft.operators.TextIndex.Names = {
    import graft.operators.TextIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("documents"))
    val n = TextIndex.names("tixd", fp)
    cachedBuild(s"textidx|tixd|$fp") {
      if (!s.catalog.tableExists(TextIndex.tombstoneTable(n))) {
        val docs = Tables.documents(s, d)
        if (!TextIndex.exists(s, n))
          TextIndex.build(docs, "doc_id", "text", n)
        // DataFrame-face delete: corpus-fraction takedown, no driver hop
        TextIndex.delete(s, n,
          docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the COMPACTED text index: build → delete
    * the standing takedown set → [[graft.operators.TextIndex.compact]]
    * folds tombstones into the affected bucket partitions and refreshes
    * the stats. Completion-marker gated (the tombstone table is gone
    * after a successful fold, so its absence can't gate a rerun).
    */
  private def ensureTextIndexCom(s: SparkSession,
      d: String): graft.operators.TextIndex.Names = {
    import graft.operators.TextIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("documents"))
    val n = TextIndex.names("tixc", fp)
    val markT = s"tixc_done_$fp"
    cachedBuild(s"textidx|tixc|$fp") {
      if (!s.catalog.tableExists(markT)) {
        val docs = Tables.documents(s, d)
        if (!TextIndex.exists(s, n))
          TextIndex.build(docs, "doc_id", "text", n)
        // DataFrame-face delete: corpus-fraction takedown, no driver hop
        TextIndex.delete(s, n,
          docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
        TextIndex.compact(s, n)
        graft.sources.Warehouse.writeTable(s.range(1).toDF("done"), markT)
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the COMPACTED index: build → delete the
    * same closed-form takedown set → [[graft.operators.IvfIndex
    * .compact]] folds the tombstones into a dynamic partition
    * overwrite of only the affected cells and drops the tombstone
    * table — the post-compaction physical state the `sim_index_compact`
    * row verifies.
    */
  private def ensureCompactedIndex(s: SparkSession,
      d: String): graft.operators.IvfIndex.Names = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.names("ivc", fp)
    cachedBuild(s"ivfidx|ivc|$fp") {
      if (!IvfIndex.exists(s, n)) {
        val emb = Tables.embeddings(s, d)
        buildFull(s, d, emb, n)
        // DataFrame-face delete: the takedown set is a corpus fraction
        // (10% of vec_ids) — it must never transit the driver
        IvfIndex.delete(s, n, "vec_id",
          emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
        IvfIndex.compact(s, n, "vec_id")
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  /** Build-once wrapper for the GROWN quantized index: models trained
    * on the pre-ingest slice (vec_id < 250 — the stale coarse model is
    * the SAME artifact `sim_recall_matrix`'s ivf_stale row prices),
    * then the new slice is encoded with the existing codebooks and
    * appended — never a re-train of either quantizer.
    */
  private def ensurePqIncIndex(s: SparkSession,
      d: String): graft.operators.IvfIndex.PqNames = {
    import graft.operators.IvfIndex
    val fp = graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))
    val n = IvfIndex.pqNames("ivqi", fp)
    cachedBuild(s"ivfidx_pq|ivqi|$fp") {
      if (!IvfIndex.exists(s, n)) {
        val emb = Tables.embeddings(s, d)
        val old = emb.filter(col("vec_id") < 250)
        val k = graft.operators.Ivf.cellsFor(old.count())
        val coarse = cachedModel(s"ivf_stale|${embKey(d)}|k=$k|it=2") {
          graft.operators.Ivf.train(old, "vec_id", "embedding", k = k, iters = 2) }
        val books = cachedModel(s"pq_stale|${embKey(d)}|m=4|k=4|it=2") {
          graft.operators.Pq.train(old, "vec_id", "embedding",
            dim = 64, m = 4, k = 4, iters = 2) }
        IvfIndex.build(old, "vec_id", "embedding", n, k = k,
          models = Some(IvfIndex.Models(coarse, books)))
        IvfIndex.appendBatch(s, n,
          emb.filter(col("vec_id") >= 250), "vec_id", "embedding")
      }
      java.lang.Boolean.TRUE
    }
    n
  }

  private val persistedIndex = Seq(
    // Search the PERSISTED index: the plan is posting-scan (partition-
    // pruned to the probed cells) → codegen DotProduct → distributed
    // top-k — no aggregate, no Lloyd round anywhere (locked in
    // PlanSpec). The oracle re-derives the identical model from the
    // corpus (fixed-point Lloyd + exact parquet round-trip) and checks
    // each hit's POSTING LIST too (centroid_id), so a hash match proves
    // the persisted assignment — not just the final ranking.
    Q("sim_index_persist",
      (s, d) => {
        val n = ensureIndex(s, d, "ivp", incremental = false)
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfPersistAnnSql)),

    // FILTERED search over the persisted index — the first-class
    // vector-store feature on the deployed layout: the metadata the
    // predicate gates on (label) is a PAYLOAD column in the posting
    // lists, so the filter rides the same partition-pruned scan
    // (pushed to the posting files' row groups) instead of joining a
    // side table per query. Same probe set as the unfiltered search.
    Q("sim_index_filtered",
      (s, d) => {
        val n = ensureIndex(s, d, "ivfl", incremental = false,
          payloadCols = Seq("label"))
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)),
            payloadFilter = col("label") <= 3)
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfFilteredAnnSql)),

    // BATCH search over the persisted index — the nightly-scoring
    // shape: the query set (vec_id < 5) broadcasts with its probe
    // cells, the posting scan is pruned to the union of probed
    // partitions and joined on centroid_id, ranking is a per-qid
    // window over the probed slice. Still zero Lloyd rounds / zero
    // corpus aggregates in the plan (PlanSpec). Own index prefix so
    // concurrent Verify entries never race a build.
    Q("sim_index_batch",
      (s, d) => {
        val n = ensureIndex(s, d, "ivb", incremental = false)
        graft.operators.IvfIndex
          .searchBatch(s, n, "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L),
            k = 3, nprobe = 2, queryFrom = Some(Tables.embeddings(s, d)))
          .select("qid", "vec_id")
          .orderBy("qid", "vec_id")
      },
      Some(ivfBatchAnnSql)),

    // The QUANTIZED persisted index — the 100 TB memory story: posting
    // lists carry m=4 integer CODES per vector instead of the flat
    // 64-float vector (~64× less probe IO), search is ADC-first over
    // the pruned cells (m element_at lookups per row against broadcast
    // tables — zero arithmetic on any original vector) with the exact
    // re-rank fetching ONLY the 40-row pool's vectors from the source
    // table via an id-keyed broadcast join. Retrain-free like the flat
    // index (PlanSpec: no aggregate, partition-pruned); the oracle
    // re-derives coarse model + all 4 codebooks + ADC pool + re-rank
    // from the corpus and checks each hit's posting cell.
    Q("sim_index_pq",
      (s, d) => {
        val n = ensurePqIndex(s, d, "ivq")
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfPqPersistSql)),

    // S9: the persisted index on the SQL front end — one spark.sql
    // statement composes probe (centroids CTE ranked by the registered
    // native dot_product), pruned posting scan (the 2-row probe CTE
    // joins on the partition column, so DYNAMIC partition pruning does
    // in-plan what IvfIndex.search's driver-side probe does), and the
    // exact-cosine top-10 — a SQL-only user searches the index with
    // zero Scala. Same index tables as sim_index_persist (ivp prefix,
    // build-serialized); oracle is the standing persisted-search twin,
    // so the hash match proves SQL ≡ IvfIndex.search.
    Q("s9_sql_index_search",
      (s, d) => {
        graft.functions.Registry.registerSql(s)
        val n = ensureIndex(s, d, "ivp", incremental = false)
        Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
        s.sql(sqlIndexSearch(n.centroids, n.postings))
      },
      Some(ivfPersistAnnSql)),

    // Index-health report: per-cell posting volume + id envelope (the
    // balance view that decides when the quantizer is stale enough to
    // re-train). The oracle recomputes the FULL persisted assignment
    // cell by cell — a hash match proves every vector's posting list,
    // a far stronger statement than any single top-10.
    Q("sim_index_stats",
      (s, d) => {
        val n = ensureIndex(s, d, "ivs", incremental = false)
        graft.operators.IvfIndex.stats(s, n, "vec_id")
      },
      Some(ivfIndexStatsSql)),

    // DELETE-BY-ID on the persisted index — the takedown reality of a
    // curation pipeline (PII removal, dedup drops AFTER indexing):
    // deleted ids land in a bounded tombstone table every read path
    // anti-joins (broadcast — an index that never deleted pays zero),
    // so a search can never resurrect them; IvfIndex.compact later
    // folds tombstones into a rewrite of only the affected partitions.
    // The delete set removes 3 of the baseline top-10 at sf0.01, so
    // this row proves the exclusion AND the backfill, not just a
    // no-op filter. Probe stays partition-pruned (PlanSpec).
    Q("sim_index_delete",
      (s, d) => {
        val n = ensureDeletedIndex(s, d)
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfDeleteAnnSql)),

    // The rebuild DECISION over the tombstoned index
    // ([[graft.operators.IvfIndex.health]]): live/tombstone volume,
    // max/mean cell imbalance ×100, rebuild_due when tombstones ≥ 10%
    // or the hottest cell ≥ 3× the mean — the signal that closes the
    // index lifecycle (build → search → append → delete → rebuild).
    // All-integer math; with 10% deleted, rebuild_due lands true.
    Q("sim_index_rebuild",
      (s, d) => {
        val n = ensureDeletedIndex(s, d)
        graft.operators.IvfIndex.health(s, n, "vec_id")
      },
      Some(ivfHealthSql)),

    // The rebuild EXECUTED — acting on the signal the row above only
    // decides, closing the lifecycle's last arrow (observe → decide →
    // ACT): the takedown-tombstoned index retrained on its LIVE rows
    // (the one sanctioned Lloyd payment; the takedowns never shape the
    // new model), both tables rewritten, tombstones folded away. The
    // output is health-after-rebuild; the oracle re-derives the
    // live-slice Lloyd chain (seeds = first k live ids, k scaled to
    // the live count) and its closed-form health, so the hash match
    // pins the rebuilt model's entire partition structure.
    Q("sim_index_rebuild_exec",
      (s, d) => {
        val n = ensureRebuilt(s, d, "ivrr")(graft.operators.IvfIndex.names)
        graft.operators.IvfIndex.health(s, n, "vec_id")
      },
      Some(ivfRebuildExecSql)),

    // FILTERED search on the QUANTIZED index — at 100 TB the code
    // postings are the only index you have, so the payload predicate
    // must ride the pruned CODE scan exactly as it rides the flat
    // layout's (a side-table join per query would defeat both the
    // pruning and the 64× payload compression). Same probe set as the
    // unfiltered quantized search; ADC pool gated on the in-index
    // label, exact re-rank unchanged.
    Q("sim_index_pq_filtered",
      (s, d) => {
        val n = ensurePqIndex(s, d, "ivqf", payloadCols = Seq("label"))
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)),
            payloadFilter = col("label") <= 3)
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfPqFilteredSql)),

    // The QUANTIZED index GROWN without retraining — appendBatch on the
    // quantized layout: the new slice (vec_id >= 250) is encoded with the
    // EXISTING codebooks and assigned to the EXISTING coarse centroids
    // (both trained on the pre-ingest slice only), search spans old∪new
    // ADC-first through both stale models. The oracle re-derives the
    // stale coarse chain AND four stale codebook chains with
    // full-corpus final assignments — a hash match pins every grown
    // posting's cell and code path. is_new flags the ingest side.
    Q("sim_index_pq_incremental",
      (s, d) => {
        val n = ensurePqIncIndex(s, d)
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"),
            (col("vec_id") >= 250).as("is_new"))
      },
      Some(ivfPqIncrementalSql)),

    // The QUANTIZED rebuild EXECUTED — sim_index_rebuild_exec's last
    // asymmetry closed: at 100 TB the code layout IS the deployment, so
    // the health signal must point at an action it can take. The
    // takedown-tombstoned PQ index retrains coarse AND all four
    // codebooks on its live rows (IvfIndex.rebuild — live vectors
    // fetched from the source table by id, seeds rank-based over the
    // live slice), re-encodes, folds tombstones; the output is the
    // quantized search on the rebuilt artifacts, so the oracle's
    // live-slice coarse chain + four live codebook chains + ADC pool +
    // exact re-rank pin the ENTIRE rebuilt model, codes included —
    // strictly more than a health row (which never sees the codebooks).
    Q("sim_index_pq_rebuild",
      (s, d) => {
        val n = ensureRebuilt(s, d, "ivqr")(graft.operators.IvfIndex.pqNames)
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"))
      },
      Some(ivfPqRebuildSql)),

    // BATCH search on the QUANTIZED index — nightly scoring where the
    // code postings are the only index you have: the query set
    // broadcasts carrying each query's probe cells AND its m ADC
    // dot-lookup tables (the per-query half of Pq.adcCosine's
    // state; codeword norms are query-independent and ride as one
    // literal), the pruned code scan joins probes on centroid_id and
    // ADC-scores each posting row only against the queries probing its
    // cell, per-qid pools re-rank exactly via ONE id-keyed broadcast
    // fetch from the source table. Same build-once ivq index as
    // sim_index_pq; retrain-free (PlanSpec).
    Q("sim_index_pq_batch",
      (s, d) => {
        val n = ensurePqIndex(s, d, "ivq")
        graft.operators.IvfIndex
          .searchBatch(s, n, "vec_id", "embedding",
            Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select("qid", "vec_id")
          .orderBy("qid", "vec_id")
      },
      Some(ivfPqBatchSql)),

    // COMPACTION, driver-verified: the tombstoned index physically
    // rewritten (dynamic partition overwrite of only the affected
    // cells, emptied cells dropped, tombstone table gone) — the output
    // is the per-cell physical state AFTER the fold, and the oracle is
    // the full assignment minus the takedown set, so a hash match
    // proves the rewrite kept exactly the right rows in exactly the
    // right partitions. This closes the lifecycle loop the delete row
    // opens: tombstone-filtered reads, then the nightly fold.
    Q("sim_index_compact",
      (s, d) => {
        val n = ensureCompactedIndex(s, d)
        graft.operators.IvfIndex.stats(s, n, "vec_id")
      },
      Some(ivfCompactStatsSql)),

    // Grow WITHOUT retraining: the new batch (vec_id >= 250) is
    // assigned to the OLD model's centroids and appended into the
    // posting partitions; search then spans old∪new through the same
    // stale model. is_new flags which side of the ingest boundary each
    // hit came from; the recall ladder (ivf_stale row) prices the
    // staleness this introduces.
    Q("sim_index_incremental",
      (s, d) => {
        val n = ensureIndex(s, d, "ivi", incremental = true)
        graft.operators.IvfIndex
          .search(s, n, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(Tables.embeddings(s, d)))
          .select(col("vec_id"),
            col("centroid_id").cast("long").as("centroid_id"),
            (col("vec_id") >= 250).as("is_new"))
      },
      Some(ivfIncrementalSql)),

    // The persisted TEXT index — lexical retrieval's serving layout,
    // mirroring the vector index's design point: term-bucket-PARTITIONED
    // posting rows (a query's terms prune to ≤|terms| of 32 partitions —
    // the probe of text serving) carrying tf AND the doc length
    // denormalized, so BM25 is served from the pruned scan + one 1-row
    // broadcast stats table — the corpus text is NEVER read at query
    // time. The oracle re-derives BM25 from `documents` directly, so a
    // hash match proves index-served ≡ corpus-scan ranking including
    // each doc's matched-term count (the posting rows themselves).
    // Reference anchor: cache.py:145's indexless regex scan per search —
    // this layout is what that becomes at 100 TB.
    Q("text_index_persist",
      (s, d) => {
        val n = ensureTextIndex(s, d)
        graft.operators.TextIndex.bm25(s, n, bm25Terms, limit = 25)
      },
      Some(bm25IndexSql)),

    // HYBRID retrieval served from BOTH persisted indexes — the
    // RAG-serving capstone: the lexical arm is the persisted-postings
    // BM25 top-50 (pruned scan, doc 0 = the query slot excluded from
    // ranking but not from df), the vector arm is the persisted-IVF
    // probed search top-50 (partition-pruned, retrain-free), and the
    // fusion is reciprocal-rank 1/(60+r) over the two BOUNDED candidate
    // lists (the ≤50-row global windows rank AFTER distributed top-k —
    // sim_hybrid_rrf's deployment shape, now with zero corpus scans on
    // either arm). Output pins each hit's arm provenance.
    Q("sim_index_hybrid",
      (s, d) => {
        hybridFused(s, d)
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
          .select("doc_id", "has_text", "has_vec")
      },
      Some(hybridIndexRrfSql)),

    // FILTERED hybrid retrieval — the metadata predicate (label ≤ 3)
    // pushed into BOTH persisted arms: the text index denormalizes the
    // label into its posting rows (built once with payloadCols) and
    // bm25 gates candidates on the pruned posting scan; the vector
    // index carries the same label in its cell postings and the probed
    // search gates there (the sim_index_filtered machinery). Neither
    // arm joins a side table at query time; text-arm scoring statistics
    // stay corpus-wide (ranking exclusion — the excludeId/tombstone
    // contract), so a kept doc's score is byte-identical to the
    // unfiltered search's. RRF fusion unchanged.
    Q("sim_index_hybrid_filtered",
      (s, d) => {
        hybridFusedFiltered(s, d)
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
          .select("doc_id", "has_text", "has_vec")
      },
      Some(hybridIndexRrfFilteredSql)),

    // RAG context assembly — what the fused top-k is FOR: the retrieved
    // hits pack into a fixed token budget (400) in rank order with
    // stop-at-overflow semantics, and only THEN are the winning
    // documents fetched — a pushed `doc_id IN (…)` point read of ≤10
    // rows (the quantized search's re-rank economics: retrieval runs entirely on
    // the indexes, the corpus is touched exactly once for exactly the
    // context that ships). The budgeting window ranks ≤10 rows. Oracle
    // recomputes fusion + fetch + prefix-sum truncation closed-form.
    Q("rag_context_pack",
      (s, d) => {
        val top = hybridFused(s, d)
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
          .select("doc_id", "rrf")
          .collect()
        val ids = top.map(_.getLong(0)).toSeq
        val rrfs = top.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        import s.implicits._
        val fused = broadcast(rrfs.toDF("doc_id", "rrf"))
        val w = Window.orderBy(col("rrf").desc, col("doc_id"))
        Tables.documents(s, d)
          .filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id"),
            size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
          .join(fused, "doc_id")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("ctx_pos", row_number().over(w).cast("long"))
          .filter(col("cum_tokens") <= 400)
          .select("ctx_pos", "doc_id", "n_tokens", "cum_tokens")
          .orderBy("ctx_pos")
      },
      Some(ragContextSql)),

    // Grow the TEXT index without rebuilding — and unlike the vector
    // layouts' stale-quantizer growth, the append is EXACT: df
    // aggregates at query time from the pruned slice (now including
    // the new rows) and the stats fold is integer arithmetic, so the
    // oracle is the SAME from-scratch corpus twin as
    // text_index_persist's — the hash match proves grown ≡ rebuilt,
    // the strongest possible incremental-maintenance statement.
    Q("text_index_incremental",
      (s, d) => {
        val n = ensureTextIndexInc(s, d)
        graft.operators.TextIndex.bm25(s, n, bm25Terms, limit = 25)
      },
      Some(bm25IndexSql)),

    // Takedown on the text index: tombstoned docs stop RANKING
    // immediately while df / corpus stats drift until compaction (the
    // vector index's block-now/fold-later semantics). The oracle keeps
    // the full-corpus statistics and filters only the final fold, so
    // the hash match pins exactly that drift contract.
    Q("text_index_delete",
      (s, d) => {
        val n = ensureTextIndexDel(s, d)
        graft.operators.TextIndex.bm25(s, n, bm25Terms, limit = 25)
      },
      Some(bm25DeleteSql)),

    // Compaction folds the tombstones physically (dynamic partition
    // overwrite of only the affected buckets, emptied buckets dropped)
    // AND statistically (stats deltas, df via the rewritten slice):
    // afterwards the index serves EXACTLY the BM25 of the corpus minus
    // the deleted docs — the oracle re-derives the whole chain from the
    // filtered corpus, so the hash match proves the drift is repaid.
    Q("text_index_compact",
      (s, d) => {
        val n = ensureTextIndexCom(s, d)
        graft.operators.TextIndex.bm25(s, n, bm25Terms, limit = 25)
      },
      Some(bm25CompactSql)),

    // S11: the persisted TEXT index on the SQL front end — one
    // spark.sql statement composes the bucket-pruned posting slice,
    // slice-local exact df, the broadcast stats row and the
    // bit-portable BM25 tree: a SQL-only user searches the text index
    // with zero Scala (the s9_sql_index_search story for the lexical
    // arm). Same tix tables as text_index_persist (read-only after the
    // serialized build); the oracle is the standing corpus twin, so
    // the hash match proves SQL ≡ TextIndex.bm25.
    Q("s11_sql_text_search",
      (s, d) => {
        val n = ensureTextIndex(s, d)
        s.sql(sqlTextSearch(n.postings, n.stats))
      },
      Some(bm25IndexSql)),

    // Quoted-phrase search from the PERSISTED index: the posting rows
    // carry the positions ("p1|p2|…", the [[graft.operators.Postings]]
    // rendering) as a payload, so phrase matching is the same pruned
    // scan BM25 uses — positions decode with pure column ops and
    // successive words intersect on (doc, start), never a corpus
    // tokenization at query time (text_phrase_search's inline form pays
    // that on every query; this is its serving layout). The oracle IS
    // text_phrase_search's corpus twin, so the hash match proves
    // index-served ≡ corpus-scan phrase matching.
    Q("text_index_phrase",
      (s, d) => {
        val n = ensureTextIndex(s, d)
        graft.operators.TextIndex.phrase(s, n, Seq("table", "part"))
          .select(col("doc_id"), col("pos"))
          .orderBy("doc_id", "pos")
      },
      Some(phraseCorpusSql)),

    // S12: quoted-phrase search on the SQL front end — one spark.sql
    // statement over the SAME persisted posting slice BM25 prunes to:
    // the positions payload explodes with pure column ops and
    // successive words intersect on (doc, start). The "analyst with a
    // SQL prompt" face of text_index_phrase; the oracle IS that row's
    // corpus twin, so the hash match proves SQL ≡ TextIndex.phrase ≡
    // corpus-scan phrase matching.
    Q("s12_sql_phrase",
      (s, d) => {
        val n = ensureTextIndex(s, d)
        s.sql(sqlPhraseSearch(n.postings, Seq("table", "part")))
      },
      Some(phraseCorpusSql)),

    // S13: hybrid RRF retrieval on the SQL front end — ONE spark.sql
    // statement fuses both persisted indexes: the vector arm is the
    // S9 probe-CTE + dynamically-pruned posting scan widened to top-50
    // exact cosine, the text arm the S11 pruned BM25 top-50 with the
    // query-doc slot excluded from ranking only, RRF 1/(60+r) fusion.
    // Same tables as sim_index_hybrid (both read-only after their
    // serialized builds); the oracle is that row's standing twin, so
    // the hash match proves SQL ≡ the DataFrame hybrid ≡ the
    // cross-engine ground truth.
    Q("s13_sql_hybrid",
      (s, d) => {
        graft.functions.Registry.registerSql(s)
        val tn = ensureTextIndex(s, d)
        val vn = ensureIndex(s, d, "ivp", incremental = false)
        Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
        s.sql(sqlHybridSearch(vn.centroids, vn.postings,
          tn.postings, tn.stats))
      },
      Some(hybridIndexRrfSql)),

    // S14: the QUANTIZED index on the SQL front end — one spark.sql
    // statement searches the layout a 100 TB deployment actually
    // serves: probe CTE over the centroids model, an ADC lookup CTE
    // built by dotting each codebook row against the query's
    // sub-vector (the exact Pq.adcDotTables IEEE fold via the native
    // dot_product), the pruned code postings joined to it on the m
    // code columns (zero arithmetic on any original vector), and the
    // exact-cosine re-rank fetching ONLY the pool's vectors. Same ivq
    // tables as sim_index_pq (read-only after the serialized build);
    // the oracle is that row's standing twin, so the hash match proves
    // SQL ≡ IvfIndex.search ≡ the cross-engine ground truth.
    Q("s14_sql_pq_search",
      (s, d) => {
        graft.functions.Registry.registerSql(s)
        val n = ensurePqIndex(s, d, "ivq")
        Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
        s.sql(sqlPqSearch(n.centroids, n.codebooks, n.postings,
          m = 4, subLen = 16))
      },
      Some(ivfPqPersistSql)))

  /** DuckDB corpus twin shared by `text_index_phrase` and
    * `s12_sql_phrase`: tokenize `documents` positionally, adjacent-join
    * on (doc, pos+1) for the fixture phrase "table part".
    */
  private lazy val phraseCorpusSql: String =
    "WITH tok AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents), LATERAL unnest(generate_series(1, len(ws))) AS t(i)) " +
      "SELECT a.doc_id, CAST(a.pos AS BIGINT) AS pos FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
      "WHERE a.w = 'table' AND b.w = 'part' ORDER BY 1, 2"

  /** The shared hybrid fusion: BM25 top-50 from the persisted text
    * index (doc 0 = the query slot, excluded from ranking) and exact-
    * cosine top-50 from the persisted IVF index, reciprocal-rank fused
    * (1/(60+r) per arm — both are bounded ≤50-row lists, so the global
    * rank windows run after distributed top-k). Returns (doc_id,
    * has_text, has_vec, rrf) for `sim_index_hybrid` (provenance view)
    * and `rag_context_pack` (budgeted packing).
    */
  private def hybridFused(s: SparkSession, d: String): DataFrame = {
    val tn = ensureTextIndex(s, d)
    val vn = ensureIndex(s, d, "ivp", incremental = false)
    hybridFusedFrom(s, d,
      graft.operators.TextIndex
        .bm25(s, tn, bm25Terms, limit = 50, excludeId = Some(0L)),
      graft.operators.IvfIndex
        .search(s, vn, "vec_id", "embedding", 0L, k = 50, nprobe = 2,
          queryFrom = Some(Tables.embeddings(s, d))))
  }

  /** [[hybridFused]] with the payload predicate (label ≤ 3) pushed
    * into BOTH arms: the text arm's bm25 gates its posting rows on the
    * label the index denormalizes ([[ensureFilteredTextIndex]]), the
    * vector arm's search gates its probed candidates on the payload
    * the IVF postings carry (the `sim_index_filtered` machinery) —
    * each arm's filter rides its own pruned scan, the fusion is
    * untouched.
    */
  private def hybridFusedFiltered(s: SparkSession, d: String): DataFrame = {
    val tn = ensureFilteredTextIndex(s, d)
    val vn = ensureIndex(s, d, "ivfl", incremental = false,
      payloadCols = Seq("label"))
    hybridFusedFrom(s, d,
      graft.operators.TextIndex
        .bm25(s, tn, bm25Terms, limit = 50, excludeId = Some(0L),
          payloadFilter = col("label") <= 3),
      graft.operators.IvfIndex
        .search(s, vn, "vec_id", "embedding", 0L, k = 50, nprobe = 2,
          queryFrom = Some(Tables.embeddings(s, d)),
          payloadFilter = col("label") <= 3))
  }

  /** The shared RRF fusion tail over the two arms' bounded top-50s. */
  private def hybridFusedFrom(s: SparkSession, d: String,
      textTop: DataFrame, vecTop: DataFrame): DataFrame = {
    val tRank = textTop
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score_u").desc, col("doc_id")))
          .cast("long").as("rt"))
    val vRank = vecTop
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("score").desc, col("vec_id")))
          .cast("long").as("rv"))
    tRank.join(vRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("rt").isNotNull.as("has_text"),
        col("rv").isNotNull.as("has_vec"),
        (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
  }

  /** The ANN quality ladder as a driver-verified fact: recall@10 of each
    * approximate method (LSH / IVF-Flat / IVF-SQ8 / PQ / IVF-PQ) against
    * the exact brute-force top-10 on the SAME corpus and query, with the
    * spec recall floors promoted to oracle constants. The floors
    * previously lived only in ScalaTest (SimilaritySpec/PqSpec); this row
    * makes the accuracy-vs-speed contract of the whole ladder
    * hash-matched by the driver. Scale: the shared coarse/PQ models train
    * once and broadcast to all consumers; each search scans only its
    * probed cells/buckets; the final join is a 50-row × 10-row broadcast.
    */
  private val recall = Seq(
    Q("sim_recall_matrix",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val kc = graft.operators.Ivf.cellsFor(emb.count())
        val coarse = cachedModel(s"ivf|${embKey(d)}|k=$kc|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = kc, iters = 2) }
        val books = cachedModel(s"pq|${embKey(d)}|m=4|k=4|it=2") {
          graft.operators.Pq.train(emb, "vec_id", "embedding",
            dim = 64, m = 4, k = 4, iters = 2) }
        def tagged(name: String, df: DataFrame): DataFrame =
          df.select(lit(name).as("method"), col("vec_id"))
        val ann = tagged("ivf", graft.operators.Ivf
            .search(emb, "vec_id", "embedding", coarse, 0L, k = 10, nprobe = 2)
            .select("vec_id"))
          .union(tagged("ivfpq", graft.operators.Pq
            .searchIvfPq(emb, "vec_id", "embedding", coarse, books, 0L,
              k = 10, nprobe = 2, poolFactor = 4)
            .select("vec_id")))
          .union(tagged("lsh", graft.operators.Similarity
            .topKLsh(emb, "vec_id", "embedding", 0L, 10, planes = 2)
            .select("vec_id")))
          .union(tagged("pq", graft.operators.Pq
            .search(emb, "vec_id", "embedding", books, 0L, k = 10, poolFactor = 8)
            .select("vec_id")))
          .union(tagged("sq8", graft.operators.Ivf
            .searchQuantized(emb, "vec_id", "embedding", coarse, 0L,
              k = 10, nprobe = 2, poolFactor = 4)
            .select("vec_id")))
          .union(tagged("ivf_stale", {
            // the sim_index_incremental staleness, PRICED: model trained
            // only on the pre-ingest slice (vec_id < 250), searched over
            // the full old∪new corpus — recall@10 of the grown-without-
            // retraining index vs the same exact ground truth
            val old = emb.filter(col("vec_id") < 250)
            val kS = graft.operators.Ivf.cellsFor(old.count())
            val stale = cachedModel(s"ivf_stale|${embKey(d)}|k=$kS|it=2") {
              graft.operators.Ivf.train(old, "vec_id", "embedding", k = kS, iters = 2) }
            graft.operators.Ivf
              .search(emb, "vec_id", "embedding", stale, 0L, k = 10, nprobe = 2)
              .select("vec_id")
          }))
        val brute = graft.operators.Similarity
          .topKBruteForce(emb, "vec_id", "embedding", 0L, 10)
          .select(col("vec_id"), lit(1).as("hit"))
        val floorCol = CatalogShared.recallFloors
          .foldLeft(lit(null).cast("long")) { case (acc, (m, f)) =>
            when(col("method") === m, lit(f)).otherwise(acc)
          }
        ann.join(broadcast(brute), Seq("vec_id"), "left")
          .groupBy("method")
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10).cast("long"))
          .withColumn("floor_pct", floorCol)
          .withColumn("meets_floor", col("recall_pct") >= col("floor_pct"))
          .orderBy("method")
      },
      Some(recallMatrixSql)))

  /** Recall floors for the persisted index's OPERATIONAL paths — the
    * quality ladder (`sim_recall_matrix`) applied to the deployed
    * layout: `sim_index_filtered`'s top-10 vs the exact-FILTERED
    * brute-force top-10 (the payload filter changes the candidate set,
    * so the unfiltered ground truth would be the wrong ruler), and
    * `sim_index_batch`'s per-qid top-3 vs each query's exact top-3
    * (hits out of 15, recall = ×100÷15 integer). Reuses the SAME
    * persisted indexes as those rows (build serialization via
    * cachedModel — no duplicate builds, no races); ground truths are
    * bounded broadcasts.
    */
  private val recallPaths = Seq(
    Q("sim_recall_paths",
      (s, d) => {
        import graft.operators.IvfIndex
        val emb = Tables.embeddings(s, d)
        val nf = ensureIndex(s, d, "ivfl", incremental = false,
          payloadCols = Seq("label"))
        val nb = ensureIndex(s, d, "ivb", incremental = false)
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val exactF = emb.filter(col("label") <= 3 && col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10).select(col("vec_id"), lit(1).as("hit"))
        val fr = IvfIndex
          .search(s, nf, "vec_id", "embedding", 0L, k = 10, nprobe = 2,
            queryFrom = Some(emb), payloadFilter = col("label") <= 3)
          .select("vec_id")
          .join(broadcast(exactF), Seq("vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
          .select(lit("index_filtered").as("method"), col("hits"),
            (col("hits") * 10).cast("long").as("recall_pct"))
        val qs = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))
        val exactB = emb.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("vec_id"), lit(1).as("hit"))
        val br = IvfIndex
          .searchBatch(s, nb, "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L),
            k = 3, nprobe = 2, queryFrom = Some(emb))
          .select("qid", "vec_id")
          .join(broadcast(exactB), Seq("qid", "vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
          .select(lit("index_batch").as("method"), col("hits"),
            expr("hits * 100 div 15").as("recall_pct"))
        val floorCol = CatalogShared.recallPathFloors
          .foldLeft(lit(null).cast("long")) { case (acc, (m, f)) =>
            when(col("method") === m, lit(f)).otherwise(acc)
          }
        fr.unionByName(br)
          .withColumn("floor_pct", floorCol)
          .withColumn("meets_floor", col("recall_pct") >= col("floor_pct"))
          .orderBy("method")
      },
      Some(recallPathsSql)))

  /** nprobe AUTO-TUNING over the persisted index — the deployment
    * decision every IVF operator makes before a config ships: search
    * the SAME build-once index (`ivb`, shared with sim_index_batch /
    * sim_recall_paths) at nprobe ∈ {1,2,3}, price each width's
    * recall@10 against the exact per-query top-10 (5 queries × 10
    * slots — all-integer recall), and choose the SMALLEST nprobe
    * meeting the target ([[CatalogShared.nprobeTarget]]): probe width
    * is the index's direct recall↔latency dial (each +1 nprobe is one
    * more partition scanned per query at 100 TB), so the tuned value
    * is the cheapest configuration that clears the quality bar. The
    * ladder is monotone by construction (probe sets are nested —
    * Ivf.probeSet's stable ranking), spec-asserted in IvfIndexSpec.
    */
  private val nprobeTune = Seq(
    Q("sim_nprobe_tune",
      (s, d) => {
        import graft.operators.IvfIndex
        val emb = Tables.embeddings(s, d)
        val nb = ensureIndex(s, d, "ivb", incremental = false)
        val qs = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))
        val exact = emb.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (Vectors.dot(col("embedding"), col("qv"))
              / Vectors.norm(col("embedding"))).as("score"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("vec_id"), lit(1).as("hit"))
        // 3-row ladder, materialized once so the min-nprobe choice
        // below doesn't re-run the three searches
        val ladder = Seq(1, 2, 3).map { np =>
          IvfIndex.searchBatch(s, nb, "vec_id", "embedding",
              Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = np,
              queryFrom = Some(emb))
            .select("qid", "vec_id")
            .join(broadcast(exact), Seq("qid", "vec_id"), "left")
            .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
            .select(lit(np.toLong).as("nprobe"), col("hits"),
              expr("hits * 100 div 50").as("recall_pct"))
        }.reduce(_ unionByName _).localCheckpoint()
        val best = ladder
          .filter(col("recall_pct") >= CatalogShared.nprobeTarget)
          .agg(min(col("nprobe")).as("best_np"))
        ladder
          .withColumn("meets_target",
            col("recall_pct") >= CatalogShared.nprobeTarget)
          .crossJoin(broadcast(best))
          .withColumn("chosen",
            col("nprobe") === coalesce(col("best_np"), lit(-1L)))
          .drop("best_np")
          .orderBy("nprobe")
      },
      Some(nprobeTuneSql)))

  /** Johnson–Lindenstrauss random projection 64 → 16 dims
    * ([[graft.functions.Vectors.randomProjection]]) — the
    * dimensionality-reduction front-end a billion-vector pipeline runs
    * before clustering/ANN (4× less memory and FLOPs per distance).
    * The sign matrix is the md5 [[Vectors.planeSign]] family, so the
    * oracle re-derives the exact planes ([[CatalogShared.lshProjSql]]
    * — the sim_lsh_ann machinery) and both engines run the identical
    * sequential-fold dot product and one division; per-row
    * deterministic IEEE trees, the house FP rule. Entirely map-side:
    * literal planes, codegen DotProduct, no shuffle but the output
    * sort. Distance-preservation (the JL guarantee) is spec-asserted
    * on the real corpus (VectorsSpec).
    */
  private val projection = Seq(
    Q("emb_random_projection",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        e.select(col("vec_id") +:
          Vectors.randomProjection(col("embedding"), 64, 16): _*)
          .orderBy("vec_id")
      },
      Some("SELECT vec_id, " +
        (0 until 16).map(j => s"${lshProjSql(j)} / 4 AS p$j").mkString(", ") +
        " FROM embeddings ORDER BY vec_id")))

  val all: Seq[Q] =
    vectors ++ hybrid ++ batchAnn ++ persistedIndex ++ recall ++
      recallPaths ++ nprobeTune ++ projection
}
