package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers shared across the per-family catalog files: the cents trick
  * and the DuckDB SQL fragments (minhash / simhash / LSH pair + ANN
  * twins) that several families' oracles compose.
  */
private[queries] object CatalogShared {

  /** floor(x*100 + 0.5) — exact cross-engine integer cents. */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  // --------------------------------------------------------------------
  // Shared SCD2 corpus derivations (`scd2_apply` + `stream_scd2`): the
  // customer-derived dimension attributes, the seeded v0/v1 dimension,
  // and the version-2 change batch — ONE definition so the batch and
  // streaming faces version the identical inputs.
  // --------------------------------------------------------------------

  /** Dimension attributes: integer cents + string/long columns only, so
    * every engine (and the JSONL stream feed) round-trips them exactly.
    */
  def scd2Base(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Tables.customer(s, d).select(
      col("c_custkey"), col("c_name"),
      col("c_nationkey").cast("long").as("c_nationkey"),
      cents(col("c_acctbal")).cast("long").as("cents"),
      col("c_mktsegment"))

  /** The seeded dimension: every key open at v0 (v1 for the %9==4 keys,
    * which also carry a closed LEGACY v0 history row).
    */
  def scd2Dim0(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = scd2Base(s, d)
    val k = col("c_custkey")
    val hist0 = base.filter(k % 9 === 4).select(
      k, col("c_name"), col("c_nationkey"),
      (col("cents") - 1000).as("cents"), lit("LEGACY").as("c_mktsegment"),
      lit(0L).as("valid_from"), lit(1L).as("valid_to"),
      lit(false).as("is_current"))
    base
      .withColumn("valid_from", when(k % 9 === 4, 1L).otherwise(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .unionByName(hist0)
  }

  /** DuckDB CTE chain computing the post-batch-2 dimension state
    * (`merged`) — the oracle core shared by `scd2_apply` and
    * `scd2_as_of` (and extended inline by `stream_scd2`'s two-batch
    * replay).
    */
  val scd2MergedCtes: String =
    "base AS (SELECT c_custkey AS k, c_name, CAST(c_nationkey AS BIGINT) AS nk, " +
      "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents, c_mktsegment AS seg FROM customer), " +
      "hist AS (SELECT k, c_name, nk, cents - 1000 AS cents, 'LEGACY' AS seg, " +
      "CAST(0 AS BIGINT) AS vf, CAST(1 AS BIGINT) AS vt, FALSE AS cur FROM base WHERE k % 9 = 4), " +
      "cur AS (SELECT k, c_name, nk, cents, seg, " +
      "CAST(CASE WHEN k % 9 = 4 THEN 1 ELSE 0 END AS BIGINT) AS vf, " +
      "CAST(NULL AS BIGINT) AS vt, TRUE AS cur FROM base), " +
      "chg AS (SELECT k, c_name, nk, cents, " +
      "CASE WHEN k % 7 = 2 THEN seg || '_V2' ELSE seg END AS seg FROM base WHERE k % 7 IN (2, 3) " +
      "UNION ALL SELECT k + 1000000, 'NEW#' || CAST(k AS VARCHAR), nk, 5000, 'NEW' " +
      "FROM base WHERE k % 13 = 5), " +
      "j AS (SELECT cur.k AS ck, cur.c_name AS cn, cur.nk AS cnk, cur.cents AS cc, cur.seg AS cs, " +
      "cur.vf AS cvf, cur.vt AS cvt, " +
      "chg.k AS gk, chg.c_name AS gn, chg.nk AS gnk, chg.cents AS gc, chg.seg AS gs, " +
      "(cur.cents IS DISTINCT FROM chg.cents OR cur.seg IS DISTINCT FROM chg.seg) AS differs " +
      "FROM cur FULL OUTER JOIN chg ON cur.k = chg.k), " +
      "merged AS (" +
      "SELECT k AS c_custkey, c_name, nk AS c_nationkey, cents, seg AS c_mktsegment, vf AS valid_from, vt AS valid_to, cur AS is_current FROM hist " +
      "UNION ALL SELECT ck, cn, cnk, cc, cs, cvf, cvt, TRUE FROM j WHERE ck IS NOT NULL AND (gk IS NULL OR NOT differs) " +
      "UNION ALL SELECT ck, cn, cnk, cc, cs, cvf, 2, FALSE FROM j WHERE ck IS NOT NULL AND gk IS NOT NULL AND differs " +
      "UNION ALL SELECT gk, gn, gnk, gc, gs, 2, CAST(NULL AS BIGINT), TRUE FROM j WHERE gk IS NOT NULL AND (ck IS NULL OR differs))"

  val scd2ApplyOracle: Option[String] =
    Some(s"WITH $scd2MergedCtes SELECT * FROM merged ORDER BY c_custkey, valid_from")

  /** The version-2 change batch: real segment changes (%7==2), no-op
    * re-sends (%7==3), and first-version inserts (%13==5, shifted keys).
    */
  def scd2Batch2(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = scd2Base(s, d)
    val k = col("c_custkey")
    base.filter(k % 7 === 2 || k % 7 === 3)
      .withColumn("c_mktsegment",
        when(k % 7 === 2, concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")))
      .unionByName(base.filter(k % 13 === 5).select(
        (k + 1000000L).as("c_custkey"),
        concat(lit("NEW#"), k.cast("string")).as("c_name"),
        col("c_nationkey"), lit(5000L).as("cents"),
        lit("NEW").as("c_mktsegment")))
  }

  /** Session-scoped MODEL cache for the inline ANN/clustering queries:
    * the k-means/PQ models are deterministic functions of (corpus
    * content, hyperparameters) — fixed-point Lloyd, fixed seeds — so
    * retraining them on every query invocation is pure waste (the
    * round-12 verdict's top finding; the persisted-index queries fix it
    * with managed tables, this fixes the INLINE family's repeat
    * invocations — bench passes 2+, re-runs in one session). Keys must
    * embed the corpus CONTENT fingerprint and every hyperparameter;
    * values are small driver-side arrays (k × dim doubles — bounded
    * model state, the IVF design point). computeIfAbsent serializes
    * same-key trainers, so concurrent Verify entries sharing a model
    * train it once.
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def cachedModel[T <: AnyRef](key: String)(train: => T): T =
    modelCache.computeIfAbsent(key, _ => train).asInstanceOf[T]

  /** Separate map for BUILD-ONCE wrappers (the ensure* index/store/model
    * builders): a builder routinely trains its models through
    * [[cachedModel]], and a NESTED computeIfAbsent on one
    * ConcurrentHashMap throws "Recursive update" whenever the outer and
    * inner keys land in the same bin (intermittent by hash). Two maps
    * make the nesting safe while keeping same-key build serialization —
    * an outer builder never calls another outer builder.
    */
  private val buildCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def cachedBuild[T <: AnyRef](key: String)(build: => T): T =
    buildCache.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** Cache key prefix for corpus `d`: content fingerprint of the
    * embeddings table (regenerated corpus → new key → retrain).
    */
  def embKey(d: String): String =
    graft.util.Paths.corpusFingerprint(d, Seq("embeddings"))

  /** DuckDB twin of [[graft.functions.Layout.spread16]] — the same
    * shift/mask chain, textually expanded (pure BIGINT ops, exact on
    * both engines).
    */
  def spreadSql(e: String): String = {
    val m = s"(($e) & 65535)"
    val a = s"(($m | ($m << 8)) & 16711935)"
    val b = s"(($a | ($a << 4)) & 252645135)"
    val d = s"(($b | ($b << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  /** DuckDB twin of [[graft.functions.Layout.morton2]]. */
  def mortonSql(x: String, y: String): String =
    s"(${spreadSql(x)} | (${spreadSql(y)} << 1))"

  /** One ANSI string, run verbatim by BOTH Spark SQL and the DuckDB
    * oracle (s7_sql_exists).
    */
  val SqlExists: String =
    "SELECT c_custkey FROM customer c WHERE EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) " +
      "ORDER BY c_custkey"

  /** The SQL front end reaching the curation primitives
    * (s8_sql_curation): one `spark.sql` statement composing the
    * [[graft.functions.Registry.registerSql]] functions like built-ins.
    * The messy URL is a deterministic function of doc_id (the
    * url_canonical_dedup construction), so the DuckDB oracle
    * ([[sqlCurationOracle]]) states its canonical form CLOSED-FORM and
    * re-derives simhash/minhash/qlog2 from their proven SQL twins — a
    * hash match proves the registered functions ≡ the Column API ≡ the
    * cross-engine ground truth. EXPLICIT CAP (no silent caps): the row
    * runs on doc_id < 1000 — the full corpus at both driver-verified
    * scales, a fixed slice beyond — because the SCALAR fingerprint
    * twins are per-row conveniences (interpreted HOF folds, one md5
    * per token/shingle), not the scale path: a corpus-sized run uses
    * the explode-based operators (dedup_minhash / dedup_simhash),
    * whose codegen aggregation this row deliberately bypasses to prove
    * the scalar faces.
    */
  val SqlCuration: String =
    "SELECT doc_id, " +
      "canonical_url(concat('HTTP://WWW.Site', cast(doc_id % 7 as string), " +
      "'.Example.COM:80/p/', cast(doc_id % 5 as string), '/?utm_source=x&id=', " +
      "cast(doc_id % 9 as string), '#f')) AS curl, " +
      "simhash16(text) AS simhash, " +
      "minhash_sig(text, '0') AS h0, " +
      "qlog2_fp20(doc_id + 1) AS ql " +
      "FROM documents WHERE doc_id < 1000 ORDER BY doc_id"

  lazy val sqlCurationOracle: String =
    s"WITH sh AS (${simhashSql(16)}), mh AS ($minhashSql) " +
      "SELECT d.doc_id, " +
      "'http://site' || (d.doc_id % 7) || '.example.com/p/' || (d.doc_id % 5) || '?id=' || (d.doc_id % 9) AS curl, " +
      "sh.simhash AS simhash, mh.h0 AS h0, " +
      graft.functions.ILog.qlogSqlDuck("(d.doc_id + 1)") + " AS ql " +
      "FROM documents d JOIN sh ON sh.doc_id = d.doc_id JOIN mh ON mh.doc_id = d.doc_id " +
      "WHERE d.doc_id < 1000 ORDER BY d.doc_id"

  /** LSH projection against md5-parity hyperplane `p`
    * ([[graft.functions.Vectors.planeSign]]) — ±1 components, so the
    * sequential list_sum is the exact twin of the codegen DotProduct
    * fold. Min |projection| measured 4.9e-5 at sf0.01 — five orders
    * above FP noise; the sign (and thus the bucket) cannot flip.
    */
  def lshProjSql(p: Int): String =
    s"list_sum([CAST(embedding[i+1] AS DOUBLE) * (CASE WHEN substr(md5('plane${p}_' || i), 1, 1) < '8' THEN 1.0 ELSE -1.0 END) for i in generate_series(0, len(embedding)-1)])"

  /** Full DuckDB twin of [[graft.operators.Similarity.topKLsh]] with
    * planes=2, probeHamming=1, query vec_id 0: bucket the corpus by the
    * two sign bits, probe the query's bucket plus its two 1-bit
    * neighbors (xor masks 0,1,2), rank candidates by exact cosine.
    */
  lazy val lshAnnSql: String =
    s"WITH b AS (SELECT vec_id, embedding, ((CASE WHEN ${lshProjSql(0)} >= 0 THEN 1 ELSE 0 END) + (CASE WHEN ${lshProjSql(1)} >= 0 THEN 2 ELSE 0 END)) AS bucket FROM embeddings), " +
      "q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0), " +
      "pr AS (SELECT xor(qb, m) AS pb, qe FROM q, unnest([0, 1, 2]) AS t(m)), " +
      "cand AS (SELECT b.vec_id, b.embedding, pr.qe FROM b JOIN pr ON b.bucket = pr.pb WHERE b.vec_id <> 0), " +
      "u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM cand), " +
      "dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id) " +
      "SELECT vec_id FROM dd ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"

  /** Full DuckDB twin of [[graft.operators.Ivf]] train(k=8, iters=2) +
    * search(nprobe=2, k=10, query vec_id 0): two unrolled Lloyd rounds.
    * Every cross-engine-sensitive number is exact — the centroid update
    * sums 2^24-scaled fixed-point longs (order-independent), the
    * centroid component is one division of two exact integers, and all

    * dot products are sequential list_sum folds matching the codegen
    * DotProduct's left-to-right loop.
    */
  private val ivfDim = 64

  /** Sequential list_sum dot-product fold — the exact twin of the codegen
    * [[graft.functions.DotProduct]] left-to-right loop.
    */
  def ivfDotL(a: String, b: String): String =
    s"list_sum([$a[i+1] * $b[i+1] for i in generate_series(0, ${ivfDim - 1})])"

  /** CTE chain learning the Ivf.train(k = max(8, ⌈n/512⌉), iters=2)
    * model and the final
    * assignment: `e` (vec_id, v double-widened), `c2` (cid, c — final
    * centroids), `asg3` (vec_id, v, cid — final assignment). Shared by
    * the ANN oracle and the semantic-dedup oracle, which both run the
    * SAME two unrolled Lloyd rounds.
    */
  lazy val ivfModelCtes: String = ivfModelCtesSeeded(
    "vec_id < (SELECT GREATEST(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) FROM e)")

  /** [[ivfModelCtes]] with a caller-chosen seed predicate. Both the
    * ANN and semantic-dedup twins scale k with the corpus
    * (GREATEST(8, ⌈count(*)/512⌉) — the Spark side's exact formula;
    * round-11 audit closed the ANN side's fixed-k gap).
    */
  def ivfModelCtesSeeded(seedPred: String): String =
    "e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      s"c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE $seedPred), " +
      ivfAssignCte("asg1", "e", "c0") + ", " + ivfUpdateCte("c1", "asg1", "c0") + ", " +
      ivfAssignCte("asg2", "e", "c1") + ", " + ivfUpdateCte("c2", "asg2", "c1") + ", " +
      ivfAssignCte("asg3", "e", "c2")

  // twin of Ivf.assign: argmax by (score, cid) — array_max over structs
  // breaks score ties toward the LARGER centroid index. `src` is the
  // vector CTE being assigned (the full corpus, or a train slice).
  private def ivfAssignCte(name: String, src: String, cents: String): String = {
    def dotL = ivfDotL _
    // twin of Ivf.negSqDist: ((dot*2) - |v|²) - |c|²
    val nsd =
      s"((2 * ${dotL("e.v", "c.c")} - ${dotL("e.v", "e.v")}) - ${dotL("c.c", "c.c")})"
    s"$name AS (SELECT vec_id, v, cid FROM (SELECT e.vec_id, e.v, c.cid, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY $nsd DESC, c.cid DESC) AS rn " +
      s"FROM $src e CROSS JOIN $cents c) WHERE rn = 1)"
  }

  // twin of the fixed-point update in Ivf.train; empty cells keep the
  // previous centroid (the coalesce)
  private def ivfUpdateCte(name: String, asg: String, prev: String): String =
    s"$name AS (SELECT $prev.cid, coalesce(nc.c, $prev.c) AS c FROM $prev LEFT JOIN " +
      s"(SELECT cid, list(m ORDER BY pos) AS c FROM " +
      s"(SELECT cid, i AS pos, CAST(SUM(CAST(floor(v[i+1] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) * 16777216 AS DOUBLE) AS m " +
      s"FROM $asg, LATERAL unnest(generate_series(0, ${ivfDim - 1})) AS t(i) GROUP BY cid, i) GROUP BY cid) nc USING (cid))"

  /** The STALE-model CTE chain (sim_index_incremental / the ivf_stale
    * recall row): Lloyd trains ONLY on the old slice (`eo`, the rows
    * already indexed when the model was built — vec_id < 250, the
    * dedup_incremental split), then the FINAL assignment `asg3` covers
    * the FULL corpus — exactly what [[graft.operators.IvfIndex
    * .appendBatch]] persists when a new batch is assigned to existing
    * centroids without retraining. k follows the house formula over the
    * TRAIN slice (its prefix 0..k−1 is inside vec_id < 250 at every
    * verified scale, so the seed predicate stays `vec_id < k`).
    */
  lazy val ivfStaleCtes: String = {
    val k = "(SELECT GREATEST(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) FROM eo)"
    "e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      "eo AS (SELECT * FROM e WHERE vec_id < 250), " +
      s"c0 AS (SELECT vec_id AS cid, v AS c FROM eo WHERE vec_id < $k), " +
      ivfAssignCte("asg1", "eo", "c0") + ", " + ivfUpdateCte("c1", "asg1", "c0") + ", " +
      ivfAssignCte("asg2", "eo", "c1") + ", " + ivfUpdateCte("c2", "asg2", "c1") + ", " +
      ivfAssignCte("asg3", "e", "c2")
  }

  /** Generalized two-round Lloyd CTE chain — the [[ivfModelCtesSeeded]]
    * machinery parameterized by source CTE, dimensionality and a name
    * suffix, so the PQ oracle can learn one codebook PER SUBSPACE.
    * `eName` must provide (vec_id, v: DOUBLE list of `dim`). Emits
    * `c2$sfx` (cid, c — final centroids) and `asg3$sfx` (vec_id, v, cid
    * — final codes). `finalSrc` lets the FINAL assignment run over a
    * different (larger) source than training — the stale-model shape:
    * codebooks learned on the pre-ingest slice, codes assigned to the
    * full grown corpus ([[graft.operators.IvfIndex.appendBatch]] on the
    * quantized layout).
    */
  private def lloydCtes(sfx: String, eName: String, dim: Int,
      seedPred: String, finalSrc: Option[String] = None): String = {
    def dotL(a: String, b: String): String =
      s"list_sum([$a[i+1] * $b[i+1] for i in generate_series(0, ${dim - 1})])"
    def negSqDist(v: String, c: String): String =
      s"((2 * ${dotL(v, c)} - ${dotL(v, v)}) - ${dotL(c, c)})"
    def assignCte(name: String, src: String, cents: String): String =
      s"$name AS (SELECT vec_id, v, cid FROM (SELECT e.vec_id, e.v, c.cid, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${negSqDist("e.v", "c.c")} DESC, c.cid DESC) AS rn " +
        s"FROM $src e CROSS JOIN $cents c) WHERE rn = 1)"
    def updateCte(name: String, asg: String, prev: String): String =
      s"$name AS (SELECT $prev.cid, coalesce(nc.c, $prev.c) AS c FROM $prev LEFT JOIN " +
        s"(SELECT cid, list(m ORDER BY pos) AS c FROM " +
        s"(SELECT cid, i AS pos, CAST(SUM(CAST(floor(v[i+1] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) * 16777216 AS DOUBLE) AS m " +
        s"FROM $asg, LATERAL unnest(generate_series(0, ${dim - 1})) AS t(i) GROUP BY cid, i) GROUP BY cid) nc USING (cid))"
    s"c0$sfx AS (SELECT vec_id AS cid, v AS c FROM $eName WHERE $seedPred), " +
      assignCte(s"asg1$sfx", eName, s"c0$sfx") + ", " + updateCte(s"c1$sfx", s"asg1$sfx", s"c0$sfx") + ", " +
      assignCte(s"asg2$sfx", eName, s"c1$sfx") + ", " + updateCte(s"c2$sfx", s"asg2$sfx", s"c1$sfx") + ", " +
      assignCte(s"asg3$sfx", finalSrc.getOrElse(eName), s"c2$sfx")
  }

  /** DuckDB twin of [[graft.operators.Pq.search]] (sim_pq_ann): m=4
    * subspaces of 16 dims, k=4 codewords each, 2 Lloyd rounds per
    * subspace (the [[lloydCtes]] chains over SLICED vectors — Spark's
    * `slice(v, j·16+1, 16)` ≡ DuckDB's `embedding[j·16+1 : (j+1)·16]`),
    * ADC approximate cosine = Σ_j ⟨codeword_j, q_j⟩ / √(Σ_j |codeword_j|²)
    * over the final codes, top-80 pool, exact full-precision re-rank to
    * top-10. Every float op is the same IEEE tree Spark runs (list_sum
    * ≡ the driver-side sequential fold; fixed sum order j=0..3).
    */
  private val pqM = 4
  private val pqK = 4
  private def pqSub = ivfDim / pqM
  private def pqDotN(a: String, b: String, n: Int): String =
    s"list_sum([$a[i+1] * $b[i+1] for i in generate_series(0, ${n - 1})])"
  /** Subspace slices (e0..e3), their Lloyd chains (c2_j / asg3_j), and
    * query subvectors (q0..q3) — shared by the PQ and IVF-PQ oracles.
    */
  private lazy val pqChainsCtes: String = {
    val eDefs = (0 until pqM).map(j =>
      s"e$j AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding[${j * pqSub + 1}:${(j + 1) * pqSub}]] AS v FROM embeddings)")
      .mkString(", ")
    val chains = (0 until pqM).map(j =>
      lloydCtes(s"_$j", s"e$j", pqSub, s"vec_id < $pqK")).mkString(", ")
    val qs = (0 until pqM).map(j =>
      s"q$j AS (SELECT v AS qv FROM e$j WHERE vec_id = 0)").mkString(", ")
    eDefs + ", " + chains + ", " + qs
  }
  /** ADC approximate dot / |codeword|² sums over the final codes. */
  private def pqAd: String =
    (0 until pqM).map(j => pqDotN(s"co$j.c", s"q$j.qv", pqSub)).mkString(" + ")
  private def pqAn: String =
    (0 until pqM).map(j => pqDotN(s"co$j.c", s"co$j.c", pqSub)).mkString(" + ")
  /** Code join chain a0..a3 × c2_0..c2_3 (NO trailing cross-join CTEs). */
  private def pqJoins: String =
    "asg3_0 a0 JOIN c2_0 co0 ON a0.cid = co0.cid " +
      (1 until pqM).map(j =>
        s"JOIN asg3_$j a$j ON a$j.vec_id = a0.vec_id JOIN c2_$j co$j ON a$j.cid = co$j.cid ")
        .mkString

  /** [[pqChainsCtes]]'s STALE twin: subspace slices over the full
    * corpus (e0..e3), codebooks trained ONLY on the pre-ingest slice
    * (eo0..eo3, vec_id < 250 — the `sim_index_incremental` boundary),
    * final codes assigned to the FULL corpus — exactly what
    * [[graft.operators.IvfIndex.appendBatch]] persists when a new
    * batch is encoded with the existing codebooks.
    */
  private lazy val pqChainsStaleCtes: String = {
    val eDefs = (0 until pqM).map(j =>
      s"e$j AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding[${j * pqSub + 1}:${(j + 1) * pqSub}]] AS v FROM embeddings), " +
        s"eo$j AS (SELECT * FROM e$j WHERE vec_id < 250)")
      .mkString(", ")
    val chains = (0 until pqM).map(j =>
      lloydCtes(s"_$j", s"eo$j", pqSub, s"vec_id < $pqK",
        finalSrc = Some(s"e$j"))).mkString(", ")
    val qs = (0 until pqM).map(j =>
      s"q$j AS (SELECT v AS qv FROM e$j WHERE vec_id = 0)").mkString(", ")
    eDefs + ", " + chains + ", " + qs
  }

  /** Twin of `sim_index_pq_incremental` — the quantized index GROWN
    * without retraining: stale coarse model ([[ivfStaleCtes]] — trained
    * on vec_id < 250, full-corpus assignment) + stale PQ codebooks
    * ([[pqChainsStaleCtes]]), ADC pool + exact re-rank over old∪new,
    * hits flagged by ingest side.
    */
  lazy val ivfPqIncrementalSql: String = ivfPqStaleSearchSql("")

  /** Twin of `stream_index_pq_delete` — the quantized maintenance
    * STREAM's converged state: the [[ivfPqIncrementalSql]] stale-model
    * grow plus the streamed takedown set (pre-boundary ids with
    * vec_id % 10 = 3) tombstoned out of the ADC candidates, top-10
    * backfilling from live rows.
    */
  lazy val ivfPqStreamDeleteSql: String =
    ivfPqStaleSearchSql(" AND NOT (a0.vec_id % 10 = 3 AND a0.vec_id < 250)")

  /** Shared stale-model quantized-search twin (grown index: coarse +
    * codebooks trained on vec_id < 250 only, full-corpus assignment);
    * `finExtra` appends a candidate predicate (the streamed-takedown
    * exclusion).
    */
  private def ivfPqStaleSearchSql(finExtra: String): String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val qRefs = (0 until pqM).map(j => s"q$j").mkString(", ")
    "WITH " + ivfStaleCtes + ", " + pqChainsStaleCtes + ", " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a0.vec_id, ac.cid, ($pqAd) AS ad, ($pqAn) AS an2 FROM $pqJoins " +
      s"JOIN asg3 ac ON ac.vec_id = a0.vec_id JOIN pr ON ac.cid = pr.cid, $qRefs " +
      s"WHERE a0.vec_id <> 0$finExtra), " +
      "pool AS (SELECT vec_id, cid FROM fin ORDER BY ad / sqrt(an2) DESC, vec_id LIMIT 40), " +
      s"ds AS (SELECT e.vec_id, pool.cid, ${pqDotN("e.v", "q.qv", ivfDim)} AS dot, ${pqDotN("e.v", "e.v", ivfDim)} AS nx FROM e JOIN pool USING (vec_id), q) " +
      "SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id, vec_id >= 250 AS is_new " +
      "FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  lazy val pqAnnSql: String = {
    val qRefs = (0 until pqM).map(j => s"q$j").mkString(", ")
    "WITH " + pqChainsCtes + ", " +
      s"fin AS (SELECT a0.vec_id, ($pqAd) AS ad, ($pqAn) AS an2 FROM $pqJoins, $qRefs), " +
      "ef AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      "qf AS (SELECT v AS qv FROM ef WHERE vec_id = 0), " +
      "pool AS (SELECT vec_id FROM fin WHERE vec_id <> 0 ORDER BY ad / sqrt(an2) DESC, vec_id LIMIT 80), " +
      s"ds AS (SELECT ef.vec_id, ${pqDotN("ef.v", "qf.qv", ivfDim)} AS dot, ${pqDotN("ef.v", "ef.v", ivfDim)} AS nx FROM ef JOIN pool USING (vec_id), qf) " +
      "SELECT vec_id FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  /** DuckDB twin of [[graft.operators.Pq.searchIvfPq]] (sim_ivfpq_ann):
    * the coarse [[ivfModelCtes]] model gates which vectors the PQ codes
    * score — `fin` keeps only members of the 2 probed cells (the
    * ivfAnnSql probe CTE verbatim) — then the PQ ADC pool (k·4 = 40)
    * and exact re-rank run as in [[pqAnnSql]].
    */
  lazy val ivfPqAnnSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val qRefs = (0 until pqM).map(j => s"q$j").mkString(", ")
    "WITH " + ivfModelCtes + ", " + pqChainsCtes + ", " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a0.vec_id, ($pqAd) AS ad, ($pqAn) AS an2 FROM $pqJoins " +
      s"JOIN asg3 ac ON ac.vec_id = a0.vec_id JOIN pr ON ac.cid = pr.cid, $qRefs " +
      "WHERE a0.vec_id <> 0), " +
      "pool AS (SELECT vec_id FROM fin ORDER BY ad / sqrt(an2) DESC, vec_id LIMIT 40), " +
      s"ds AS (SELECT e.vec_id, ${pqDotN("e.v", "q.qv", ivfDim)} AS dot, ${pqDotN("e.v", "e.v", ivfDim)} AS nx FROM e JOIN pool USING (vec_id), q) " +
      "SELECT vec_id FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  /** The persisted-index search as ONE Spark SQL statement
    * (s9_sql_index_search) — the table-level SQL face of
    * [[graft.operators.IvfIndex.search]]: probe = a CTE ranking the
    * centroids model table by the SAME probe-score IEEE tree
    * (`dot_product` is the registered native [[graft.functions
    * .DotProduct]]), scan = the postings table joined to the 2-row
    * probe CTE (Spark's dynamic partition pruning turns that join into
    * the same unprobed-cells-never-open pruning the driver-side probe
    * achieves), rank = the same exact-cosine top-10. A SQL-only user
    * searches the index with no Scala at all; the oracle is the
    * standing [[ivfPersistAnnSql]], so a hash match proves
    * SQL ≡ IvfIndex.search ≡ the cross-engine ground truth.
    */
  def sqlIndexSearch(centT: String, postT: String): String =
    "WITH q AS (SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS qv " +
      "FROM embeddings WHERE vec_id = 0), " +
      "pr AS (SELECT cid FROM (SELECT c.cid, " +
      "-((dot_product(q.qv, q.qv) - 2 * dot_product(c.c, q.qv)) + dot_product(c.c, c.c)) AS s " +
      s"FROM $centT c, q) ORDER BY s DESC, cid LIMIT 2) " +
      "SELECT p.vec_id, CAST(p.centroid_id AS BIGINT) AS centroid_id " +
      s"FROM $postT p JOIN pr ON p.centroid_id = pr.cid, q " +
      "WHERE p.vec_id <> 0 " +
      "ORDER BY dot_product(p.embedding, q.qv) / sqrt(dot_product(p.embedding, p.embedding)) DESC, p.vec_id " +
      "LIMIT 10"

  /** The persisted TEXT index on the SQL front end: one Spark SQL
    * statement a SQL-only user runs — pruned posting slice (the bucket
    * literals come from [[graft.operators.TextIndex.bucketOf]], the
    * same numbers any client library would inline), slice-local exact
    * df, the 1-row stats cross join, and the bit-portable BM25 tree
    * with explicit `D` suffixes (a bare `0.5` parses as DECIMAL in
    * Spark SQL and would change every rounding step). Must reproduce
    * [[graft.operators.TextIndex.bm25]]'s exact IEEE tree so the row
    * hash-matches the same corpus oracle.
    */
  def sqlTextSearch(postT: String, statsT: String): String =
    s"WITH ${sqlBm25IndexCtes(postT, statsT)} " +
      "SELECT doc_id, sum(score_u) AS score_u, count(1) AS n_terms " +
      "FROM sc GROUP BY doc_id ORDER BY score_u DESC, doc_id LIMIT 25"

  /** The pruned-slice BM25 CTE chain over the PERSISTED index tables —
    * the Spark-SQL rendering of [[graft.operators.TextIndex.bm25]]'s
    * plan (bucket-pruned posting slice `p`, slice-local exact df `d`,
    * 1-row stats `s`, bit-portable per-term scores `sc`). Shared by
    * [[sqlTextSearch]] (S11) and the hybrid SQL face (S13).
    */
  private def sqlBm25IndexCtes(postT: String, statsT: String): String = {
    val bks = bm25Terms.map(graft.operators.TextIndex.bucketOf).distinct
    // SQL-escape the term literals (doubled quotes): the fixed
    // bm25Terms are safe as-is, but this helper is the template a
    // client library would reuse with arbitrary user terms
    def q(t: String) = s"'${t.replace("'", "''")}'"
    s"p AS (SELECT term, doc_id, tf, dl FROM $postT " +
      s"WHERE bucket IN (${bks.mkString(", ")}) " +
      s"AND term IN (${bm25Terms.map(q).mkString(", ")})), " +
      "d AS (SELECT term, CAST(count(DISTINCT doc_id) AS LONG) AS df FROM p GROUP BY term), " +
      s"s AS (SELECT n, tot FROM $statsT), " +
      "sc AS (SELECT doc_id, CAST(floor((n - df + 0.5D) / (df + 0.5D) * (tf * 2.25D) / " +
      "(tf + 1.25D * (0.25D + 0.75D * CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n))) * 1000000.0D + 0.5D) AS LONG) AS score_u " +
      "FROM p JOIN d USING (term) CROSS JOIN s)"
  }

  /** Quoted-phrase search from the PERSISTED text index as ONE Spark
    * SQL statement (s12_sql_phrase) — the SQL face of
    * [[graft.operators.TextIndex.phrase]]: the posting rows' positions
    * payload ("p1|p2|…") explodes with pure column ops on the same
    * bucket-pruned slice BM25 reads, and successive words intersect on
    * (doc, start) — never a corpus tokenization at query time. A
    * SQL-only user runs phrase queries with zero Scala.
    */
  def sqlPhraseSearch(postT: String, words: Seq[String]): String = {
    require(words.size >= 2, "phrase SQL face is for multi-word phrases")
    val ws = words.map(_.toLowerCase(java.util.Locale.ROOT))
    val bks = ws.distinct.map(graft.operators.TextIndex.bucketOf).distinct
    def q(t: String) = s"'${t.replace("'", "''")}'"
    val joins = ws.zipWithIndex.drop(1).map { case (w, i) =>
      s"JOIN tok t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i " +
        s"AND t$i.term = ${q(w)}"
    }.mkString(" ")
    s"WITH tok AS (SELECT doc_id, term, CAST(p AS BIGINT) AS pos " +
      s"FROM (SELECT doc_id, term, explode(split(pos_list, '\\\\|')) AS p " +
      s"FROM $postT WHERE bucket IN (${bks.mkString(", ")}) " +
      s"AND term IN (${ws.distinct.map(q).mkString(", ")}))) " +
      s"SELECT t0.doc_id, t0.pos FROM tok t0 $joins " +
      s"WHERE t0.term = ${q(ws.head)} ORDER BY t0.doc_id, t0.pos"
  }

  /** The QUANTIZED persisted index on the SQL front end
    * (s14_sql_pq_search) — the SQL face of the quantized
    * [[graft.operators.IvfIndex.search]], i.e. the index a 100 TB
    * deployment actually serves: probe = the S9 centroid-CTE rank,
    * ADC = a per-(subspace, codeword) lookup CTE built by dotting each
    * codebook row against the query's sub-vector (the same sequential
    * IEEE fold as [[graft.operators.Pq.adcDotTables]] — `dot_product`
    * is the registered native expression), pool = the approximate-
    * cosine top-(k·PoolFactor) over the PRUNED code postings (m
    * equi-joins on the code columns — zero arithmetic on any original
    * vector), re-rank = exact cosine over only the pool's vectors
    * fetched from the source table. A SQL-only analyst searches the
    * quantized layout with zero Scala.
    */
  def sqlPqSearch(centT: String, bookT: String, postT: String,
      m: Int, subLen: Int): String = {
    val adSum = (0 until m).map(j => s"qd$j.d").mkString(" + ")
    val n2Sum = (0 until m).map(j => s"qd$j.n2").mkString(" + ")
    val qdJoins = (0 until m).map(j =>
      s"JOIN qd qd$j ON qd$j.sub = $j AND qd$j.cid = p.code$j").mkString(" ")
    "WITH q AS (SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS qv " +
      "FROM embeddings WHERE vec_id = 0), " +
      "pr AS (SELECT cid FROM (SELECT c.cid, " +
      "-((dot_product(q.qv, q.qv) - 2 * dot_product(c.c, q.qv)) + dot_product(c.c, c.c)) AS s " +
      s"FROM $centT c, q) ORDER BY s DESC, cid LIMIT 2), " +
      "qd AS (SELECT cb.sub, cb.cid, " +
      s"dot_product(cb.c, slice(q.qv, cb.sub * $subLen + 1, $subLen)) AS d, " +
      s"dot_product(cb.c, cb.c) AS n2 FROM $bookT cb, q), " +
      // BROADCAST(qd): the lookup CTE is m·pqK rows (16) but derives
      // from a join, so the static estimator can't see it's tiny —
      // without the hint each code join becomes a SortMergeJoin that
      // SHUFFLES the pruned postings four times
      s"pool AS (SELECT /*+ BROADCAST(${(0 until m).map(j => s"qd$j").mkString(", ")}) */ p.vec_id, p.centroid_id FROM $postT p " +
      s"JOIN pr ON p.centroid_id = pr.cid $qdJoins " +
      s"WHERE p.vec_id <> 0 ORDER BY ($adSum) / sqrt($n2Sum) DESC, p.vec_id " +
      "LIMIT 40) " +
      "SELECT e.vec_id, CAST(pool.centroid_id AS BIGINT) AS centroid_id " +
      "FROM embeddings e JOIN pool ON e.vec_id = pool.vec_id, q " +
      "ORDER BY dot_product(e.embedding, q.qv) / " +
      "sqrt(dot_product(e.embedding, e.embedding)) DESC, e.vec_id LIMIT 10"
  }

  /** Hybrid RRF retrieval over BOTH persisted indexes as ONE Spark SQL
    * statement (s13_sql_hybrid) — the SQL face of `sim_index_hybrid`:
    * the vector arm is [[sqlIndexSearch]]'s probe-CTE + pruned posting
    * scan widened to top-50 exact cosine, the text arm is
    * [[sqlBm25IndexCtes]]'s pruned BM25 top-50 with the query-doc slot
    * excluded from RANKING only (doc 0 stays inside df — the bm25
    * excludeId contract), and the fusion is reciprocal-rank 1/(60+r)
    * over the two bounded lists. An analyst with a SQL prompt runs the
    * full RAG retrieval stack with zero Scala.
    */
  def sqlHybridSearch(centT: String, postT: String,
      tixPostT: String, tixStatsT: String): String =
    "WITH q AS (SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS qv " +
      "FROM embeddings WHERE vec_id = 0), " +
      "pr AS (SELECT cid FROM (SELECT c.cid, " +
      "-((dot_product(q.qv, q.qv) - 2 * dot_product(c.c, q.qv)) + dot_product(c.c, c.c)) AS s " +
      s"FROM $centT c, q) ORDER BY s DESC, cid LIMIT 2), " +
      "vtop AS (SELECT p.vec_id, " +
      "dot_product(p.embedding, q.qv) / sqrt(dot_product(p.embedding, p.embedding)) AS s " +
      s"FROM $postT p JOIN pr ON p.centroid_id = pr.cid, q " +
      "WHERE p.vec_id <> 0 ORDER BY s DESC, p.vec_id LIMIT 50), " +
      "vr AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS rv FROM vtop), " +
      sqlBm25IndexCtes(tixPostT, tixStatsT) + ", " +
      "bsum AS (SELECT doc_id, sum(score_u) AS score_u FROM sc " +
      "WHERE doc_id <> 0 GROUP BY doc_id), " +
      "btop AS (SELECT doc_id, score_u FROM bsum ORDER BY score_u DESC, doc_id LIMIT 50), " +
      "tr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rt FROM btop), " +
      "fus AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, " +
      "tr.doc_id IS NOT NULL AS has_text, vr.doc_id IS NOT NULL AS has_vec, " +
      "COALESCE(CAST(1 AS DOUBLE) / (60 + rt), 0D) + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0D) AS rrf " +
      "FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id) " +
      "SELECT doc_id, has_text, has_vec FROM fus ORDER BY rrf DESC, doc_id LIMIT 10"

  /** Twin of `sim_index_pq` ([[graft.operators.IvfIndex.search]]) —
    * the QUANTIZED persisted index: same coarse model ([[ivfModelCtes]])
    * and PQ chains as the inline IVF-PQ twin, but the output carries
    * WHICH posting cell each hit came from (centroid_id), proving the
    * persisted coarse assignment alongside the ADC pool + exact re-rank
    * ranking. Model/codebook doubles round-trip parquet bit-exactly, so
    * re-deriving both from the corpus is re-deriving the persisted
    * artifacts.
    */
  lazy val ivfPqPersistSql: String = ivfPqSearchSql("", "")

  /** Twin of `sim_index_pq_filtered`: the quantized search with the
    * payload predicate (label ≤ 3) applied inside the probed CODE
    * cells — same probe set, candidates additionally gated on the
    * metadata the index carries.
    */
  lazy val ivfPqFilteredSql: String = ivfPqSearchSql(
    "lab AS (SELECT vec_id, label FROM embeddings), ",
    " JOIN lab l ON l.vec_id = a0.vec_id AND l.label <= 3")

  /** Twin of `sim_index_pq_batch` ([[graft.operators.IvfIndex
    * .searchBatch]] on the quantized layout): the quantized search for EVERY query in one
    * statement — per-qid probe ranks over the coarse model, ADC scoring
    * of the rank-filtered code cells against each query's per-subspace
    * dot tables (qb0..qb3 joined on qid; codeword norms are
    * query-independent), per-qid approximate top-12 pool, per-qid exact
    * re-rank to top-3 from the source vectors.
    */
  lazy val ivfPqBatchSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val qbDefs = (0 until pqM).map(j =>
      s"qb$j AS (SELECT vec_id AS qid, v AS qv FROM e$j WHERE vec_id < 5)")
      .mkString(", ")
    val qbJoins = (0 until pqM).map(j =>
      s"JOIN qb$j ON qb$j.qid = p.qid").mkString(" ")
    val adB = (0 until pqM)
      .map(j => pqDotN(s"co$j.c", s"qb$j.qv", pqSub)).mkString(" + ")
    "WITH " + ivfModelCtes + ", " + pqChainsCtes + ", " + qbDefs + ", " +
      "qsf AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5), " +
      s"prs AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY $probeScore DESC, c.cid) AS rn FROM c2 c, qsf q) WHERE rn <= 2), " +
      s"fin AS (SELECT p.qid, a0.vec_id, ac.cid, ($adB) AS ad, ($pqAn) AS an2 FROM $pqJoins " +
      s"JOIN asg3 ac ON ac.vec_id = a0.vec_id JOIN prs p ON ac.cid = p.cid $qbJoins " +
      "WHERE a0.vec_id <> p.qid), " +
      "pool AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY ad / sqrt(an2) DESC, vec_id) AS rn FROM fin) WHERE rn <= 12), " +
      s"ds AS (SELECT pool.qid, e.vec_id, ${pqDotN("e.v", "qsf.qv", ivfDim)} AS dot, ${pqDotN("e.v", "e.v", ivfDim)} AS nx " +
      "FROM e JOIN pool ON e.vec_id = pool.vec_id JOIN qsf ON qsf.qid = pool.qid) " +
      "SELECT qid, vec_id FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM ds) WHERE rn <= 3 ORDER BY qid, vec_id"
  }

  /** Shared builder for the quantized-persisted-search twins:
    * `extraCtes` prepends CTEs, `finExtra` adds a join to the
    * candidate set (the payload filter of the filtered variant).
    */
  private def ivfPqSearchSql(extraCtes: String, finExtra: String): String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val qRefs = (0 until pqM).map(j => s"q$j").mkString(", ")
    "WITH " + ivfModelCtes + ", " + pqChainsCtes + ", " + extraCtes +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a0.vec_id, ac.cid, ($pqAd) AS ad, ($pqAn) AS an2 FROM $pqJoins " +
      s"JOIN asg3 ac ON ac.vec_id = a0.vec_id JOIN pr ON ac.cid = pr.cid$finExtra, $qRefs " +
      "WHERE a0.vec_id <> 0), " +
      "pool AS (SELECT vec_id, cid FROM fin ORDER BY ad / sqrt(an2) DESC, vec_id LIMIT 40), " +
      s"ds AS (SELECT e.vec_id, pool.cid, ${pqDotN("e.v", "q.qv", ivfDim)} AS dot, ${pqDotN("e.v", "e.v", ivfDim)} AS nx FROM e JOIN pool USING (vec_id), q) " +
      "SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  lazy val ivfAnnSql: String = ivfSearchSql(ivfModelCtes, "vec_id")

  /** Probe + posting-scan + exact-rank tail shared by the IVF model
    * variants (fresh / persisted / stale): given a CTE chain emitting
    * `e` (vec_id, v), `c2` (final centroids) and `asg3` (final
    * assignment), search query vec_id 0 with nprobe 2, k 10. The probe
    * score is the twin of Ivf.queryAndProbes — −((|q|² − 2·c·q) + |c|²),
    * ties toward the SMALLER cid (Scala's stable sortBy keeps
    * ascending-cid order). `sel` picks output columns from the scored
    * CTE `ds` (vec_id, cid, dot, nx); `finExtra` appends a candidate
    * predicate (the tombstone exclusion of the delete twin).
    */
  private def ivfSearchSql(modelCtes: String, sel: String,
      finExtra: String = ""): String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    "WITH " + modelCtes + ", " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a.vec_id, a.cid, a.v FROM asg3 a JOIN pr ON a.cid = pr.cid WHERE a.vec_id <> 0$finExtra), " +
      s"ds AS (SELECT f.vec_id, f.cid, ${dotL("f.v", "q.qv")} AS dot, ${dotL("f.v", "f.v")} AS nx FROM fin f, q) " +
      s"SELECT $sel FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  /** Twin of `sim_index_delete`: the persisted search with the takedown
    * set (vec_id % 10 = 3 — 10% of the corpus, closed-form) tombstoned
    * out of the candidates. Same model, same probe set — deleted ids can
    * never rank, and the top-10 backfills from the live rows.
    */
  lazy val ivfDeleteAnnSql: String = ivfSearchSql(ivfModelCtes,
    "vec_id, CAST(cid AS BIGINT) AS centroid_id", " AND a.vec_id % 10 <> 3")

  /** Twin of `sim_index_rebuild_exec` — [[graft.operators.IvfIndex
    * .health]] AFTER [[graft.operators.IvfIndex.rebuild]] acted on the
    * signal: the coarse model retrained on the LIVE slice
    * (vec_id % 10 <> 3 — the standing takedown set), seeds = the first
    * k live ids by rank (Ivf.train's first-k-by-id over the live
    * corpus; k = GREATEST(8, ⌈live/512⌉)), final assignment over live
    * rows only, tombstones folded (0 by construction). The health
    * numbers are cid-LABEL-independent (counts + max-cell only, and
    * the oracle's seed-id cids map to Spark's 0..k-1 by a monotone
    * relabeling that preserves the larger-cid tie-break), so the hash
    * match pins the rebuilt model's whole partition structure.
    */
  lazy val ivfRebuildExecSql: String = {
    val kExpr = "(SELECT GREATEST(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) FROM el)"
    "WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      "el AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 3), " +
      "elr AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk FROM el), " +
      lloydCtes("_rb", "elr", ivfDim, s"rk <= $kExpr") + ", " +
      "cells AS (SELECT cid, count(*) AS nc FROM asg3_rb GROUP BY cid), " +
      "a AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(SUM(nc) AS BIGINT) AS n_live, CAST(MAX(nc) AS BIGINT) AS max_cell FROM cells) " +
      "SELECT n_cells, n_live, CAST(0 AS BIGINT) AS n_tombstones, CAST(0 AS BIGINT) AS tomb_pct, " +
      "CAST(max_cell * 100 * n_cells // n_live AS BIGINT) AS imbalance_x100, " +
      "(max_cell * 100 * n_cells // n_live) >= 300 AS rebuild_due FROM a"
  }

  /** Twin of `sim_index_pq_rebuild` — [[graft.operators.IvfIndex
    * .rebuild]] acted on the takedown signal, then the quantized
    * search ran on the rebuilt artifacts: coarse model AND all four PQ
    * codebooks retrained on the LIVE slice (vec_id % 10 <> 3; seeds =
    * first-k/first-4 live ids BY RANK — a deleted low id never seeds,
    * the ivfRebuildExecSql seeding), codes re-assigned over live rows
    * only, ADC pool + exact re-rank as in the standing PQ search.
    * Output carries each hit's posting cell; the oracle's seed-id cell
    * labels map to Spark's 0..k−1 by the monotone `rel` relabeling
    * (ascending seed id ↔ ascending Spark index — same ordering
    * Ivf.train's first-k-by-id init induces), which also preserves both
    * tie-break directions.
    */
  lazy val ivfPqRebuildSql: String = {
    def dotL = ivfDotL _
    val kExpr = "(SELECT GREATEST(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) FROM el)"
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val eDefs = (0 until pqM).map(j =>
      s"er$j AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk FROM " +
        s"(SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding[${j * pqSub + 1}:${(j + 1) * pqSub}]] AS v " +
        "FROM embeddings WHERE vec_id % 10 <> 3))").mkString(", ")
    val chains = (0 until pqM).map(j =>
      lloydCtes(s"_$j", s"er$j", pqSub, s"rk <= $pqK")).mkString(", ")
    val qs = (0 until pqM).map(j =>
      s"q$j AS (SELECT v AS qv FROM er$j WHERE vec_id = 0)").mkString(", ")
    val qRefs = (0 until pqM).map(j => s"q$j").mkString(", ")
    "WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      "el AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 3), " +
      "elr AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk FROM el), " +
      lloydCtes("_rb", "elr", ivfDim, s"rk <= $kExpr") + ", " +
      eDefs + ", " + chains + ", " + qs + ", " +
      "rel AS (SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT) AS ncid FROM c2_rb), " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2_rb c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a0.vec_id, ac.cid, ($pqAd) AS ad, ($pqAn) AS an2 FROM $pqJoins " +
      s"JOIN asg3_rb ac ON ac.vec_id = a0.vec_id JOIN pr ON ac.cid = pr.cid, $qRefs " +
      "WHERE a0.vec_id <> 0), " +
      "pool AS (SELECT vec_id, cid FROM fin ORDER BY ad / sqrt(an2) DESC, vec_id LIMIT 40), " +
      s"ds AS (SELECT e.vec_id, pool.cid, ${pqDotN("e.v", "q.qv", ivfDim)} AS dot, ${pqDotN("e.v", "e.v", ivfDim)} AS nx FROM e JOIN pool USING (vec_id), q) " +
      "SELECT ds.vec_id, rel.ncid AS centroid_id FROM ds JOIN rel ON ds.cid = rel.cid " +
      "ORDER BY dot / sqrt(nx) DESC, ds.vec_id LIMIT 10"
  }

  /** Twin of `sim_index_rebuild` ([[graft.operators.IvfIndex.health]])
    * over the same tombstoned index: live/tombstone volume, max/mean
    * cell imbalance ×100, and the rebuild decision — all integer math
    * (truncating div on both engines).
    */
  lazy val ivfHealthSql: String =
    "WITH " + ivfModelCtes + ", " +
      "live AS (SELECT vec_id, cid FROM asg3 WHERE vec_id % 10 <> 3), " +
      "cells AS (SELECT cid, count(*) AS nc FROM live GROUP BY cid), " +
      "a AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(SUM(nc) AS BIGINT) AS n_live, CAST(MAX(nc) AS BIGINT) AS max_cell FROM cells), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n_tombstones FROM asg3 WHERE vec_id % 10 = 3) " +
      "SELECT n_cells, n_live, n_tombstones, " +
      "n_tombstones * 100 // (n_live + n_tombstones) AS tomb_pct, " +
      "max_cell * 100 * n_cells // n_live AS imbalance_x100, " +
      "((n_tombstones * 100 // (n_live + n_tombstones)) >= 10 OR (max_cell * 100 * n_cells // n_live) >= 300) AS rebuild_due " +
      "FROM a, t"

  /** Twin of `sim_index_persist` ([[graft.operators.IvfIndex]]): the
    * persisted model IS Ivf.train over the full corpus (centroid
    * doubles round-trip parquet bit-exactly), so the oracle re-derives
    * it via [[ivfModelCtes]] and additionally checks WHICH posting list
    * each hit came from (centroid_id).
    */
  lazy val ivfPersistAnnSql: String =
    ivfSearchSql(ivfModelCtes, "vec_id, CAST(cid AS BIGINT) AS centroid_id")

  /** Twin of the stale-index search (the ivf_stale recall row): model
    * from [[ivfStaleCtes]] (trained on vec_id < 250 only), corpus =
    * everything.
    */
  lazy val ivfStaleAnnSql: String = ivfSearchSql(ivfStaleCtes, "vec_id")

  /** Twin of `sim_index_incremental`: stale model, full old∪new corpus,
    * hits flagged by which side of the ingest boundary they came from.
    */
  lazy val ivfIncrementalSql: String = ivfSearchSql(ivfStaleCtes,
    "vec_id, CAST(cid AS BIGINT) AS centroid_id, vec_id >= 250 AS is_new")

  /** Twin of `stream_index_delete` — the final state of a maintenance
    * STREAM that interleaved ingest and takedown micro-batches over an
    * index built on the pre-boundary slice: the stale model
    * ([[ivfStaleCtes]] — trained on vec_id < 250, never retrained by
    * any batch), postings = old ∪ new, tombstones = the streamed
    * takedown set (pre-boundary ids with vec_id % 10 = 3), excluded
    * from the candidates with the top-10 backfilling from live rows.
    * Batch boundaries are invisible by construction (disjoint add/del
    * id sets commute), so this closed form IS the converged state.
    */
  lazy val ivfStreamDeleteSql: String = ivfSearchSql(ivfStaleCtes,
    "vec_id, CAST(cid AS BIGINT) AS centroid_id, vec_id >= 250 AS is_new",
    " AND NOT (a.vec_id % 10 = 3 AND a.vec_id < 250)")

  /** Twin of `pipeline_publish_serving` — BOTH maintained serving
    * indexes recomputed FROM SCRATCH over the post-publish state, so a
    * hash match proves the classifier-driven incremental maintenance
    * (delete → compact → append on the text index; append + takedown
    * fold on the vector index) converged each index to exactly what a
    * full rebuild on tonight's corpus would serve. Text arm = the
    * [[bm25CorpusCtesFrom]] chain over the post-takedown corpus
    * (doc_id % 10 <> 3 — compaction repays the stats drift, so df/n/tot
    * all re-derive from the filtered corpus); vector arm = the stale
    * model ([[ivfStaleCtes]] — the published index's quantizer, trained
    * pre-boundary and never retrained by the publish) over old∪new
    * minus the folded takedown set.
    */
  lazy val publishServingSql: String = {
    val textCtes =
      bm25CorpusCtesFrom("(SELECT * FROM documents WHERE doc_id % 10 <> 3)")
    val text = s"WITH $textCtes SELECT 'text' AS arm, doc_id AS id, " +
      "CAST(sum(score_u) AS BIGINT) AS m1, CAST(count(*) AS BIGINT) AS m2 " +
      "FROM scq GROUP BY doc_id ORDER BY m1 DESC, id LIMIT 25"
    val vec = ivfSearchSql(ivfStaleCtes,
      "'vec' AS arm, vec_id AS id, CAST(cid AS BIGINT) AS m1, " +
        "CAST(vec_id >= 250 AS BIGINT) AS m2",
      " AND NOT (a.vec_id % 10 = 3 AND a.vec_id < 250)")
    s"SELECT arm, id, m1, m2 FROM (($text) UNION ALL ($vec)) t ORDER BY arm, id"
  }

  /** Twin of `sim_index_stats` ([[graft.operators.IvfIndex.stats]]):
    * the FULL persisted assignment, cell by cell — a hash match proves
    * every vector's posting list, a much stronger statement than any
    * single top-10.
    */
  lazy val ivfIndexStatsSql: String = ivfIndexStatsSqlWhere("")

  private def ivfIndexStatsSqlWhere(where: String): String =
    "WITH " + ivfModelCtes + " " +
      "SELECT CAST(cid AS BIGINT) AS centroid_id, CAST(count(*) AS BIGINT) AS n_vectors, " +
      "CAST(MIN(vec_id) AS BIGINT) AS min_id, CAST(MAX(vec_id) AS BIGINT) AS max_id " +
      s"FROM asg3 $where GROUP BY cid ORDER BY centroid_id"

  /** Twin of `stream_index_ingest`: the per-cell stats of an index
    * built on the pre-boundary slice and grown by STREAMED appends —
    * which is exactly the stale-model assignment of the full corpus
    * ([[ivfStaleCtes]]), independent of how the stream batched the new
    * rows.
    */
  lazy val ivfStaleStatsSql: String =
    "WITH " + ivfStaleCtes + " " +
      "SELECT CAST(cid AS BIGINT) AS centroid_id, CAST(count(*) AS BIGINT) AS n_vectors, " +
      "CAST(MIN(vec_id) AS BIGINT) AS min_id, CAST(MAX(vec_id) AS BIGINT) AS max_id " +
      "FROM asg3 GROUP BY cid ORDER BY centroid_id"

  /** Twin of `sim_index_compact`: the full persisted assignment MINUS
    * the folded takedown set, cell by cell — a hash match proves the
    * physical rewrite kept exactly the right rows in exactly the right
    * partitions (and dropped any cell the deletes emptied).
    */
  lazy val ivfCompactStatsSql: String =
    ivfIndexStatsSqlWhere("WHERE vec_id % 10 <> 3")

  /** Twin of `sim_index_filtered` — the persisted-index search with a
    * payload predicate (label ≤ 3) applied INSIDE the probed cells:
    * same probe set as the unfiltered search, candidates additionally
    * gated on the metadata the index carries.
    */
  lazy val ivfFilteredAnnSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    "WITH " + ivfModelCtes + ", " +
      "lab AS (SELECT vec_id, label FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      "fin AS (SELECT a.vec_id, a.cid, a.v FROM asg3 a JOIN pr ON a.cid = pr.cid " +
      "JOIN lab l ON l.vec_id = a.vec_id AND l.label <= 3 WHERE a.vec_id <> 0), " +
      s"ds AS (SELECT f.vec_id, f.cid, ${dotL("f.v", "q.qv")} AS dot, ${dotL("f.v", "f.v")} AS nx FROM fin f, q) " +
      "SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  /** Twin of `sim_index_batch` ([[graft.operators.IvfIndex
    * .searchBatch]]): per-query probe sets (ties toward the smaller
    * cid, Ivf.probeSet's stable sort), scoring restricted to each
    * query's probed cells, per-qid top-3.
    */
  lazy val ivfBatchAnnSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    "WITH " + ivfModelCtes + ", " +
      "qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5), " +
      s"prs AS (SELECT qid, cid FROM (SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY $probeScore DESC, c.cid) AS rn FROM c2 c, qs q) WHERE rn <= 2), " +
      "fin AS (SELECT p.qid, a.vec_id, a.v, q.qv FROM asg3 a JOIN prs p ON a.cid = p.cid JOIN qs q ON q.qid = p.qid AND a.vec_id <> q.qid), " +
      s"ds AS (SELECT qid, vec_id, ${dotL("v", "qv")} AS dot, ${dotL("v", "v")} AS nx FROM fin), " +
      "r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM ds) " +
      "SELECT qid, vec_id FROM r WHERE rn <= 3 ORDER BY qid, vec_id"
  }

  /** DuckDB twin of [[graft.operators.Ivf.searchQuantized]] (IVF-SQ8):
    * probe exactly like [[ivfAnnSql]], first-pass score the probed cells
    * on int8-quantized vectors (the emb_quantize house tree — one
    * 127/mx divide, multiply, +0.5, floor), keep the top-(k·poolFactor)
    * = 40 pool by approx score, exact-cosine re-rank to top-10.
    */
  lazy val sq8AnnSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    "WITH " + ivfModelCtes + ", " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      "fin AS (SELECT a.vec_id, a.v FROM asg3 a JOIN pr ON a.cid = pr.cid WHERE a.vec_id <> 0), " +
      s"qz AS (SELECT vec_id, v, [floor(v[i+1] * (127.0 / mx) + 0.5) for i in generate_series(0, ${ivfDim - 1})] AS q8 " +
      "FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS mx FROM fin)), " +
      s"pool AS (SELECT vec_id, v FROM (SELECT z.vec_id, z.v, ${dotL("z.q8", "q.qv")} / sqrt(${dotL("z.q8", "z.q8")}) AS a FROM qz z, q) ORDER BY a DESC, vec_id LIMIT 40), " +
      s"ds AS (SELECT p.vec_id, ${dotL("p.v", "q.qv")} AS dot, ${dotL("p.v", "p.v")} AS nx FROM pool p, q) " +
      "SELECT vec_id FROM ds ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
  }

  /** DuckDB twin of `sim_recall_matrix`: each ANN method's full oracle
    * (the five lazy SQLs above, verbatim as subqueries — DuckDB allows
    * WITH inside a derived table) left-joined against the brute-force
    * top-10, so recall@10 is recomputed end-to-end from the parquet
    * tables. The per-method floors are the SPEC floors
    * (SimilaritySpec/PqSpec) promoted to oracle constants — both
    * engines emit the identical literals, so `meets_floor` is part of
    * the hash.
    */
  /** Per-method recall@10 floors (spec floors promoted to oracle
    * constants). ivf_stale is the sim_index_incremental model — trained
    * on the pre-ingest half, searching the full corpus; measured 80/50/
    * 100 at sf0.001/0.01/0.1, so its floor (40) prices the documented
    * staleness cost: growing the index without retraining can HALVE
    * recall vs the fresh model (ivf ≥ 80) until a re-train lands.
    */
  lazy val recallFloors: Seq[(String, Long)] =
    Seq("ivf" -> 80L, "ivf_stale" -> 40L, "ivfpq" -> 60L, "lsh" -> 70L,
      "pq" -> 60L, "sq8" -> 80L)

  /** Recall floors for the persisted-index OPERATIONAL paths (the
    * sim_recall_matrix methodology applied to `sim_index_filtered` /
    * `sim_index_batch`): filtered search vs the exact-filtered top-10,
    * batch search vs the per-query exact top-3. Measured 100/90/90
    * (filtered) and 93/93/100 (batch, ×100÷15) at sf0.001/0.01/0.1 —
    * floors 80 price how the payload filter and the per-query probe
    * sets interact with nprobe=2.
    */
  lazy val recallPathFloors: Map[String, Long] =
    Map("index_filtered" -> 80L, "index_batch" -> 80L)

  lazy val recallPathsSql: String = {
    val exactF =
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0 AND label <= 3), " +
        "dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id) " +
        "SELECT vec_id FROM dd ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
    val exactB =
      "WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), " +
        "u AS (SELECT qid, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> qid), " +
        "dd AS (SELECT qid, vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY qid, vec_id), " +
        "r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM dd) " +
        "SELECT qid, vec_id FROM r WHERE rn <= 3"
    s"WITH fidx AS (SELECT vec_id FROM ($ivfFilteredAnnSql)), " +
      s"fex AS (SELECT vec_id, 1 AS hit FROM ($exactF)), " +
      s"bidx AS (SELECT qid, vec_id FROM ($ivfBatchAnnSql)), " +
      s"bex AS (SELECT qid, vec_id, 1 AS hit FROM ($exactB)), " +
      "fr AS (SELECT 'index_filtered' AS method, CAST(count(fex.hit) AS BIGINT) AS hits, CAST(count(fex.hit) * 10 AS BIGINT) AS recall_pct FROM fidx LEFT JOIN fex USING (vec_id)), " +
      "br AS (SELECT 'index_batch' AS method, CAST(count(bex.hit) AS BIGINT) AS hits, CAST(count(bex.hit) * 100 // 15 AS BIGINT) AS recall_pct FROM bidx LEFT JOIN bex ON bidx.qid = bex.qid AND bidx.vec_id = bex.vec_id) " +
      "SELECT method, hits, recall_pct, " +
      s"CAST(CASE method WHEN 'index_filtered' THEN ${recallPathFloors("index_filtered")} ELSE ${recallPathFloors("index_batch")} END AS BIGINT) AS floor_pct, " +
      s"recall_pct >= (CASE method WHEN 'index_filtered' THEN ${recallPathFloors("index_filtered")} ELSE ${recallPathFloors("index_batch")} END) AS meets_floor " +
      "FROM (SELECT * FROM fr UNION ALL SELECT * FROM br) ORDER BY method"
  }

  /** Recall target for the nprobe auto-tuner (`sim_nprobe_tune`): the
    * operational floor the chosen probe width must clear — shared
    * literal so Spark and the oracle emit the identical decision.
    */
  lazy val nprobeTarget: Long = 90L

  /** DuckDB twin of `sim_nprobe_tune`: the nprobe ladder re-derived end
    * to end — coarse model ([[ivfModelCtes]]), per-query probe RANKS
    * (≤ 3, [[graft.operators.Ivf.probeSet]]'s stable ordering), per-
    * nprobe top-10 over the rank-filtered cells, recall@10 against the
    * exact per-query top-10, and the min-nprobe-meeting-target choice.
    * All-integer recall (hits of 50) — no FP threshold anywhere.
    */
  lazy val nprobeTuneSql: String = {
    def dotL = ivfDotL _
    val probeScore = s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    val ladder = (1 to 3).map { np =>
      s"SELECT CAST($np AS BIGINT) AS nprobe, CAST(count(ex.hit) AS BIGINT) AS hits FROM " +
        s"(SELECT qid, vec_id FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM ds WHERE prn <= $np) WHERE rn <= 10) t " +
        "LEFT JOIN ex ON t.qid = ex.qid AND t.vec_id = ex.vec_id"
    }.mkString(" UNION ALL ")
    "WITH " + ivfModelCtes + ", " +
      "qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5), " +
      s"prs AS (SELECT qid, cid, rn FROM (SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY $probeScore DESC, c.cid) AS rn FROM c2 c, qs q) WHERE rn <= 3), " +
      "fin AS (SELECT p.qid, p.rn AS prn, a.vec_id, a.v, q.qv FROM asg3 a JOIN prs p ON a.cid = p.cid JOIN qs q ON q.qid = p.qid AND a.vec_id <> q.qid), " +
      s"ds AS (SELECT qid, prn, vec_id, ${dotL("v", "qv")} AS dot, ${dotL("v", "v")} AS nx FROM fin), " +
      s"exd AS (SELECT q.qid, a.vec_id, ${dotL("a.v", "q.qv")} AS dot, ${dotL("a.v", "a.v")} AS nx FROM asg3 a, qs q WHERE a.vec_id <> q.qid), " +
      "ex AS (SELECT qid, vec_id, 1 AS hit FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nx) DESC, vec_id) AS rn FROM exd) WHERE rn <= 10), " +
      s"lad AS ($ladder), " +
      s"best AS (SELECT min(CASE WHEN hits * 100 // 50 >= $nprobeTarget THEN nprobe END) AS b FROM lad) " +
      "SELECT nprobe, hits, CAST(hits * 100 // 50 AS BIGINT) AS recall_pct, " +
      s"hits * 100 // 50 >= $nprobeTarget AS meets_target, " +
      "nprobe = COALESCE(b, -1) AS chosen FROM lad, best ORDER BY nprobe"
  }

  lazy val recallMatrixSql: String = {
    val bruteSql =
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0), " +
        "dd AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx FROM u GROUP BY vec_id) " +
        "SELECT vec_id FROM dd ORDER BY dot / sqrt(nx) DESC, vec_id LIMIT 10"
    val methods = Seq(
      "ivf" -> ivfAnnSql, "ivf_stale" -> ivfStaleAnnSql,
      "ivfpq" -> ivfPqAnnSql, "lsh" -> lshAnnSql,
      "pq" -> pqAnnSql, "sq8" -> sq8AnnSql)
    val annUnion = methods.map { case (m, sql) =>
      s"SELECT '$m' AS method, vec_id FROM ($sql)"
    }.mkString(" UNION ALL ")
    val floorCase = "CASE method " +
      recallFloors.map { case (m, f) => s"WHEN '$m' THEN $f" }.mkString(" ") +
      " END"
    s"WITH brute AS (SELECT vec_id, 1 AS hit FROM ($bruteSql)), " +
      s"ann AS ($annUnion) " +
      "SELECT method, CAST(count(brute.hit) AS BIGINT) AS hits, " +
      "CAST(count(brute.hit) * 10 AS BIGINT) AS recall_pct, " +
      s"CAST($floorCase AS BIGINT) AS floor_pct, " +
      s"(count(brute.hit) * 10 >= $floorCase) AS meets_floor " +
      "FROM ann LEFT JOIN brute ON ann.vec_id = brute.vec_id " +
      "GROUP BY method ORDER BY method"
  }

  /** DuckDB twin of [[graft.operators.SemDedup.markDuplicates]] over the
    * shared k-means model ([[ivfModelCtes]]): rank within cluster by
    * ascending cosine-to-centroid, join each member against all
    * earlier-ranked same-cluster members, flag cosine > τ. τ = 0.396
    * sits in an empirically-verified gap of the within-cluster
    * pair-cosine distribution at BOTH verification scales (nearest pair
    * cosine ≥ 8.0e-4 away at sf0.01, ≥ 2.0e-4 at sf0.1 — and both
    * engines run the identical sequential-fold expression tree anyway).
    */
  lazy val semDedupSql: String = {
    def dotL = ivfDotL _
    "WITH " + ivfModelCtesSeeded(
      "vec_id < (SELECT GREATEST(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) FROM e)") + ", " +
      s"s AS (SELECT a.vec_id, a.v, a.cid, ${dotL("a.v", "c.c")} / (sqrt(${dotL("a.v", "a.v")}) * sqrt(${dotL("c.c", "c.c")})) AS csim FROM asg3 a JOIN c2 c USING (cid)), " +
      "r AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY cid ORDER BY csim, vec_id) AS rk FROM s), " +
      s"p AS (SELECT DISTINCT b.vec_id AS dup_id FROM r a JOIN r b ON a.cid = b.cid AND a.rk < b.rk WHERE ${dotL("a.v", "b.v")} / (sqrt(${dotL("a.v", "a.v")}) * sqrt(${dotL("b.v", "b.v")})) > 0.396) " +
      "SELECT r.vec_id, CAST(r.cid AS INTEGER) AS cid, (p.dup_id IS NOT NULL) AS dup " +
      "FROM r LEFT JOIN p ON r.vec_id = p.dup_id ORDER BY r.vec_id"
  }

  /** SimHash fingerprint SQL: votes per bit from md5 hex digits, packed
    * into one BIGINT — the exact twin of [[graft.operators.Dedup.simhash]].
    */
  def simhashSql(bits: Int): String = {
    val votes = (0 until bits).map(b =>
      s"SUM(CASE WHEN substr(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val pack = (0 until bits).map(b =>
      s"CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM (SELECT doc_id, $votes FROM (SELECT doc_id, md5(w) AS h FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)) GROUP BY doc_id)"
  }

  /** Shared minhash-signature SQL (DuckDB list comprehension = Spark
    * transform over 1-based element_at — verified aligned).
    */
  lazy val minhashSql: String = minhashSqlFrom("documents")

  /** [[minhashSql]] over an arbitrary (doc_id, text, …) source CTE,
    * with optional extra pass-through columns (e.g. the ingest-ledger
    * `epoch` in pipeline_incremental's oracle).
    */
  def minhashSqlFrom(src: String, extraCols: Seq[String] = Nil): String = {
    val ex = extraCols.map(_ + ", ").mkString
    s"SELECT doc_id, ${ex}list_aggregate([md5('0' || sh) for sh in shl], 'min') AS h0, " +
      "list_aggregate([md5('1' || sh) for sh in shl], 'min') AS h1, " +
      "list_aggregate([md5('2' || sh) for sh in shl], 'min') AS h2, " +
      "list_aggregate([md5('3' || sh) for sh in shl], 'min') AS h3 " +
      s"FROM (SELECT doc_id, $ex[ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws)-1)] AS shl " +
      s"FROM (SELECT doc_id, ${ex}string_split(lower(text), ' ') AS ws FROM $src))"
  }

  /** LSH band-join pair SQL over [[minhashSql]] signatures (shared by the
    * pair query and the clustering oracle).
    */
  lazy val lshPairsSql: String =
    "SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id " +
      "UNION SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id)"

  /** DuckDB twin of [[graft.operators.Bpe]]: the same `rounds` merge
    * rounds unrolled as CTEs (the k-means/PageRank oracle pattern). Each
    * round: adjacent-pair counts over the wrapped-symbol strings, top-1
    * by (cnt DESC, lft, rgt), one literal `replace` applying the merge —
    * `replace` is leftmost-first non-overlapping on both engines, so the
    * greedy merge order matches exactly. Returns the CTE prefix; callers
    * append a final SELECT over `m1..m<rounds>` (train) or `w<rounds>`
    * (encode).
    */
  def bpeCtes(rounds: Int): String = {
    val ss = "chr(1)||chr(1)"
    val base =
      "toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> regexp_matches(t, '^[a-z0-9]+$'))) AS word FROM documents), " +
        "v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1), " +
        "w0 AS (SELECT word, freq, chr(1) || array_to_string([word[i] for i in generate_series(1, length(word))], " + ss + ") || chr(1) AS w FROM v0)"
    val roundsSql = (1 to rounds).map { r =>
      s"p$r AS (SELECT sy[i] AS lft, sy[i+1] AS rgt, CAST(sum(freq) AS BIGINT) AS cnt " +
        s"FROM (SELECT string_split(substr(w, 2, length(w)-2), $ss) AS sy, freq FROM w${r - 1}), " +
        "LATERAL unnest(generate_series(1, len(sy)-1)) AS t(i) GROUP BY 1, 2), " +
        s"m$r AS (SELECT lft, rgt, cnt FROM p$r ORDER BY cnt DESC, lft, rgt LIMIT 1), " +
        // LEFT JOIN ON TRUE + CASE so an EMPTY m$r (merges exhausted before
        // `rounds` — Bpe.train stops early and keeps the final vocab) passes
        // w through unchanged instead of cross-join-annihilating every word.
        s"w$r AS (SELECT word, freq, CASE WHEN lft IS NULL THEN w ELSE " +
        s"replace(w, chr(1)||lft||$ss||rgt||chr(1), chr(1)||lft||rgt||chr(1)) END AS w " +
        s"FROM w${r - 1} LEFT JOIN m$r ON TRUE)"
    }.mkString(", ")
    s"WITH $base, $roundsSql"
  }

  /** Full DuckDB twin of the `text_bpe_train` merge table. */
  def bpeTrainSql(rounds: Int): String =
    bpeCtes(rounds) + " " +
      (1 to rounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, lft, rgt, cnt FROM m$r")
        .mkString(" UNION ALL ") +
      " ORDER BY round"

  /** Full DuckDB twin of the `text_bpe_encode` segmentation table. */
  def bpeEncodeSql(rounds: Int): String =
    bpeCtes(rounds) +
      s" SELECT word, CAST(len(sy) AS BIGINT) AS n_pieces, array_to_string(sy, ' ') AS pieces " +
      s"FROM (SELECT word, string_split(substr(w, 2, length(w)-2), chr(1)||chr(1)) AS sy FROM w$rounds) ORDER BY word"

  /** Twin of `text_bpe_persist`: the SAME `rounds` unrolled merge rounds
    * (the model is a deterministic function of the corpus, and merge
    * strings round-trip parquet exactly — re-deriving it IS re-deriving
    * the persisted table), then the final segmentation restricted to the
    * encode slice's words (doc_id % 3 == 0 — fresh input through the
    * deployed model, the tokenizer-inference shape).
    */
  def bpePersistEncodeSql(rounds: Int): String =
    bpeCtes(rounds) +
      ", sl AS (SELECT DISTINCT w AS word FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> regexp_matches(t, '^[a-z0-9]+$'))) AS w FROM documents WHERE doc_id % 3 = 0))" +
      s" SELECT word, CAST(len(sy) AS BIGINT) AS n_pieces, array_to_string(sy, ' ') AS pieces " +
      s"FROM (SELECT w$rounds.word, string_split(substr(w, 2, length(w)-2), chr(1)||chr(1)) AS sy FROM w$rounds JOIN sl USING (word)) ORDER BY word"

  /** Hub-capped band-join pair SQL (8 hubs per bucket) — the DuckDB twin
    * of [[graft.operators.Dedup.lshCandidatePairsBounded]]: only the 8
    * smallest ids of a bucket pair with the rest, bounding a hot bucket's
    * edge emission at O(8·b).
    */
  lazy val lshBoundedPairsSql: String = {
    def band(k1: String, k2: String): String =
      s"SELECT least(h.doc_id, s.doc_id) AS id_a, greatest(h.doc_id, s.doc_id) AS id_b " +
        s"FROM (SELECT doc_id, $k1, $k2, row_number() OVER (PARTITION BY $k1, $k2 ORDER BY doc_id) AS rn FROM sig) h " +
        s"JOIN sig s ON h.$k1 = s.$k1 AND h.$k2 = s.$k2 AND h.rn <= 8 AND h.doc_id <> s.doc_id"
    s"SELECT DISTINCT id_a, id_b FROM (${band("h0", "h1")} UNION ALL ${band("h2", "h3")})"
  }

  // --------------------------------------------------------------------
  // Persisted text index (BM25 serving) + hybrid persisted retrieval
  // --------------------------------------------------------------------

  /** The catalog's fixed lexical query-term set (text_bm25 /
    * text_index_persist / sim_index_hybrid share it, so the twins stay
    * literally comparable).
    */
  val bm25Terms: Seq[String] = Seq("join", "vector", "stream")

  /** BM25 scoring CTE chain from the documents CORPUS — the from-scratch
    * twin of [[graft.operators.TextIndex]]'s persisted serving layout.
    * Same fixed IEEE tree as text_bm25's oracle (TrainingAssembly);
    * CTE names are suffixed (tt/dld/stt/qt/tfq/dfq/scq) so the chain
    * composes with the IVF model CTEs (e/c0/asg…/q) in one statement.
    * Emits `scq` (doc_id, score_u — one micro-unit LONG per (doc,
    * query-term) posting).
    */
  lazy val bm25CorpusCtes: String = bm25CorpusCtesFrom("documents")

  /** [[bm25CorpusCtes]] with a caller-chosen source relation — the
    * post-compaction twin scores the corpus MINUS the deleted docs
    * (df, length normalization and priors all excluding them).
    */
  def bm25CorpusCtesFrom(src: String): String =
    s"tt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM $src), " +
      "dld AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tt GROUP BY doc_id), " +
      "stt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dld), " +
      s"qt AS (SELECT doc_id, term FROM tt WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})), " +
      "tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM qt GROUP BY doc_id, term), " +
      "dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY term), " +
      "scq AS (SELECT doc_id, CAST(floor((n - df + 0.5) / (df + 0.5) * (tf * 2.25) / " +
      "(tf + 1.25 * (0.25 + 0.75 * CAST(dld.dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n))) * 1000000.0 + 0.5) AS BIGINT) AS score_u " +
      "FROM tfq JOIN dfq USING (term) JOIN dld USING (doc_id) CROSS JOIN stt)"

  /** Twin of `text_index_persist` ([[graft.operators.TextIndex.bm25]]):
    * the persisted posting rows are exactly the corpus tokenization's
    * (term, doc, tf, dl) relation, so the oracle re-derives BM25 from
    * `documents` directly — a hash match proves index-served ranking ≡
    * corpus-scan ranking, including per-doc matched-term counts (the
    * posting rows themselves, not just the score sum).
    */
  lazy val bm25IndexSql: String = bm25ServeSql(bm25CorpusCtes, "")

  private def bm25ServeSql(ctes: String, where: String): String =
    s"WITH $ctes " +
      "SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u, CAST(count(*) AS BIGINT) AS n_terms " +
      s"FROM scq $where GROUP BY doc_id ORDER BY score_u DESC, doc_id LIMIT 25"

  /** Twin of `text_index_delete` — the tombstoned index's serving
    * semantics: the takedown set (doc_id % 10 = 3, the standing
    * closed form) stops RANKING but df / corpus stats still include it
    * (the documented drift-until-compaction), so the oracle filters
    * the per-(doc, term) score rows only at the final fold.
    */
  lazy val bm25DeleteSql: String =
    bm25ServeSql(bm25CorpusCtes, "WHERE doc_id % 10 <> 3")

  /** Twin of `stream_text_index` — the converged state of the text
    * maintenance stream: full-corpus statistics (the grown index IS the
    * full corpus — exact append), with the streamed takedown set
    * (pre-boundary ids, doc_id % 10 = 3) excluded from ranking only.
    */
  lazy val bm25StreamMaintainSql: String =
    bm25ServeSql(bm25CorpusCtes, "WHERE NOT (doc_id % 10 = 3 AND doc_id < 250)")

  /** Twin of `text_index_compact` — after the fold, the index serves
    * EXACTLY the BM25 of the corpus minus the deleted docs: the whole
    * chain (df, dl, n, tot) re-derives from the filtered corpus.
    */
  lazy val bm25CompactSql: String = bm25ServeSql(
    bm25CorpusCtesFrom("(SELECT * FROM documents WHERE doc_id % 10 <> 3)"), "")

  /** Twin of `sim_index_hybrid` — hybrid retrieval served from BOTH
    * persisted indexes, recomputed from scratch: the lexical arm is the
    * [[bm25CorpusCtes]] top-50 (doc 0 = the query slot, excluded from
    * RANKING but still inside df/corpus stats — the
    * [[graft.operators.TextIndex.bm25]] excludeId contract), the vector
    * arm is the persisted-IVF probed search ([[ivfModelCtes]], nprobe 2)
    * top-50 by exact cosine, and the fusion is reciprocal-rank 1/(60+r)
    * on each arm's integer ranks — two fixed IEEE divisions and one add
    * per row. Output pins each hit's arm provenance (has_text/has_vec),
    * not just membership.
    */
  lazy val hybridIndexRrfSql: String =
    s"WITH $hybridFusedCtes " +
      "SELECT doc_id, has_text, has_vec FROM fus ORDER BY rrf DESC, doc_id LIMIT 10"

  /** Twin of `sim_index_hybrid_filtered` — the fused retrieval with the
    * payload predicate (label ≤ 3) pushed into BOTH arms: the vector
    * arm gates its probed candidates (the [[ivfFilteredAnnSql]] join),
    * the text arm gates its posting rows at the score fold (the
    * [[graft.operators.TextIndex.bm25]] payloadFilter contract —
    * RANKING exclusion only; df and corpus stats stay corpus-wide, so
    * a kept doc's score is identical to the unfiltered search's).
    * Fusion itself is unchanged.
    */
  lazy val hybridIndexRrfFilteredSql: String =
    "WITH " + hybridFusedCtesFiltered(
      " JOIN lab lv ON lv.vec_id = a.vec_id AND lv.label <= 3",
      " JOIN lab lt ON lt.vec_id = scq.doc_id AND lt.label <= 3") + " " +
      "SELECT doc_id, has_text, has_vec FROM fus ORDER BY rrf DESC, doc_id LIMIT 10"

  /** The shared fusion CTE chain: both arms' ranked top-50 lists and the
    * `fus` CTE (doc_id, has_text, has_vec, rrf). Consumed by
    * [[hybridIndexRrfSql]] (provenance view) and [[ragContextSql]]
    * (budgeted context packing over the fused top-10).
    */
  lazy val hybridFusedCtes: String = hybridFusedCtesFiltered("", "")

  /** [[hybridFusedCtes]] with per-arm payload-filter hooks: `finJoin`
    * appends to the vector arm's probed-candidate CTE, `bsumJoin` to
    * the text arm's per-doc score fold. A `lab` CTE (vec_id, label) is
    * always in scope for both hooks.
    */
  def hybridFusedCtesFiltered(finJoin: String, bsumJoin: String): String = {
    def dotL = ivfDotL _
    val probeScore =
      s"-((${dotL("q.qv", "q.qv")} - 2 * ${dotL("c.c", "q.qv")}) + ${dotL("c.c", "c.c")})"
    ivfModelCtes + ", " +
      "lab AS (SELECT vec_id, label FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
      s"pr AS (SELECT cid FROM (SELECT c.cid, $probeScore AS s FROM c2 c, q) ORDER BY s DESC, cid LIMIT 2), " +
      s"fin AS (SELECT a.vec_id, a.v FROM asg3 a JOIN pr ON a.cid = pr.cid$finJoin WHERE a.vec_id <> 0), " +
      s"ds AS (SELECT f.vec_id, ${dotL("f.v", "q.qv")} AS dot, ${dotL("f.v", "f.v")} AS nx FROM fin f, q), " +
      "vtop AS (SELECT vec_id, dot / sqrt(nx) AS s FROM ds ORDER BY s DESC, vec_id LIMIT 50), " +
      "vr AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS rv FROM vtop), " +
      s"$bm25CorpusCtes, " +
      s"bsum AS (SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u FROM scq$bsumJoin WHERE doc_id <> 0 GROUP BY doc_id), " +
      "btop AS (SELECT doc_id, score_u FROM bsum ORDER BY score_u DESC, doc_id LIMIT 50), " +
      "tr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rt FROM btop), " +
      "fus AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, " +
      "tr.doc_id IS NOT NULL AS has_text, vr.doc_id IS NOT NULL AS has_vec, " +
      "COALESCE(CAST(1 AS DOUBLE) / (60 + rt), 0) + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0) AS rrf " +
      "FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)"
  }

  /** Twin of `rag_context_pack` — the fused top-10, each hit's document
    * fetched for its token count, packed into a 400-token context by
    * rank order with STOP-AT-OVERFLOW semantics (keep every rank whose
    * inclusive running total fits — prefix truncation, the
    * window-expressible form; greedy-skip would need an iterative
    * dependency). Explicit ROWS frame: engines' default RANGE frame
    * agrees here only because the ordering is unique — spell it out.
    */
  lazy val ragContextSql: String =
    s"WITH $hybridFusedCtes, " +
      "top AS (SELECT doc_id, rrf FROM fus ORDER BY rrf DESC, doc_id LIMIT 10), " +
      "wd AS (SELECT t.doc_id, t.rrf, CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens " +
      "FROM top t JOIN documents d USING (doc_id)), " +
      "c AS (SELECT doc_id, n_tokens, " +
      "CAST(SUM(n_tokens) OVER (ORDER BY rrf DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens, " +
      "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS ctx_pos FROM wd) " +
      "SELECT ctx_pos, doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 400 ORDER BY ctx_pos"
}
