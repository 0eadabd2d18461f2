package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Text, Vectors}

/** Dedup signature families (exact, MinHash+LSH, incremental, n-gram
  * Jaccard, SimHash) and the two bucketed ANN paths.
  */
private[queries] object DedupCoreQueries {
  import CatalogShared._

  // --------------------------------------------------------------------
  // Dedup family (beyond-reference north star)
  // --------------------------------------------------------------------

  private val dedup = Seq(
    // Exact dedup via content hash + group count.
    Q("dedup_exact",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("h"),
      Some("SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY md5(text) ORDER BY h")),

    // MinHash signatures over word-bigram shingles (4 portable md5 hashes).
    Q("dedup_minhash",
      (s, d) => graft.operators.Dedup
        .minhashSignatures(Tables.documents(s, d), "doc_id", "text", 4)
        .orderBy("doc_id"),
      Some(minhashSql + " ORDER BY doc_id")),

    // LSH banding: candidate pairs sharing band (h0,h1) OR band (h2,h3).
    // The signature table is materialized before the self-joins — inlined
    // signature expressions would be re-evaluated inside the join
    // (measured 100×: 102s → <1s at sf0.001).
    Q("dedup_lsh_pairs",
      (s, d) => graft.operators.Dedup
        .lshCandidatePairs(Tables.documents(s, d), "doc_id", "text", 4, 2)
        .orderBy("id_a", "id_b"),
      Some(s"WITH sig AS ($minhashSql) SELECT id_a, id_b FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id UNION SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id) ORDER BY id_a, id_b")),

    // Incremental dedup: the new batch (doc_id >= 250) band-joins against
    // the already-ingested index (doc_id < 250) ∪ itself — old-vs-old,
    // the quadrant a 100 TB history makes quadratically unaffordable,
    // never joins (locked in DedupSpec/PlanSpec). Band collision is a
    // function of the two signatures alone, so the oracle is closed-form:
    // the FULL corpus pair set minus its old-old pairs, with
    // is_cross ⇔ id_a on the old side (id_a < id_b and ≥1 side new force
    // exactly that) — a hash match proves the incremental run loses
    // nothing vs the global one.
    Q("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def sig(pred: Column) = graft.operators.Dedup
          .minhashSignatures(docs.filter(pred), "doc_id", "text", 4)
          .localCheckpoint()
        graft.operators.Dedup.incrementalLshPairs(
          sig(col("doc_id") >= 250), sig(col("doc_id") < 250), "doc_id", 4, 2)
          .orderBy("id_a", "id_b")
      },
      Some(s"WITH sig AS ($minhashSql), full_pairs AS ($lshPairsSql) " +
        "SELECT id_a, id_b, (id_a < 250) AS is_cross FROM full_pairs " +
        "WHERE NOT (id_a < 250 AND id_b < 250) ORDER BY id_a, id_b")),

    // Span-level "exact substring" dedup: 8-token spans repeated verbatim
    // across >= 2 distinct documents, reported per doc as flagged-position
    // counts. The oracle recomputes the same md5 span keys closed-form, so
    // a hash match proves the flag set — not just the totals — agrees.
    Q("dedup_substring",
      (s, d) => graft.operators.Dedup
        .repeatedNgramStats(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents), " +
        "g AS (SELECT doc_id, unnest([md5(array_to_string(ws[i:i+7], ' ')) for i in generate_series(1, len(ws)-7)]) AS h FROM t), " +
        "f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h) WHERE nd >= 2) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS total_spans, " +
        "CAST(count(*) FILTER (WHERE h IN (SELECT h FROM f)) AS BIGINT) AS dup_spans, " +
        "CAST(count(*) FILTER (WHERE h IN (SELECT h FROM f)) AS DOUBLE) / count(*) AS dup_ratio " +
        "FROM g GROUP BY doc_id ORDER BY doc_id")),

    // Span REMOVAL — the enforcement half of dedup_substring (Lee et
    // al. 2022): every token position covered by a cross-doc repeated
    // 8-gram is cut unless this doc is the span's min-id canonical
    // keeper; survivors reassemble in order. The oracle recomputes
    // keeper assignment, position coverage, and the reassembled STRING
    // closed-form — a hash match proves the exact scrubbed text, not
    // just the counts.
    Q("dedup_span_scrub",
      (s, d) => graft.operators.Dedup
        .scrubRepeatedSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents), " +
        "tok AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w FROM t, LATERAL unnest(generate_series(1, len(ws))) AS g(i)), " +
        "sp AS (SELECT doc_id, i - 1 AS start, md5(array_to_string(ws[i:i+7], ' ')) AS h FROM t, LATERAL unnest(generate_series(1, len(ws) - 7)) AS g(i)), " +
        "f AS (SELECT h, CAST(MIN(doc_id) AS BIGINT) AS keeper FROM (SELECT DISTINCT doc_id, h FROM sp) GROUP BY h HAVING count(*) >= 2), " +
        "cov AS (SELECT DISTINCT sp.doc_id, start + j AS pos FROM sp JOIN f USING (h), LATERAL unnest(generate_series(0, 7)) AS u(j) WHERE sp.doc_id <> f.keeper), " +
        "surv AS (SELECT tok.doc_id, tok.pos, tok.w FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos WHERE cov.pos IS NULL), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after, array_to_string(list(w ORDER BY pos), ' ') AS scrubbed FROM surv GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_before, " +
        "COALESCE(agg.n_after, 0) AS n_after, COALESCE(agg.scrubbed, '') AS scrubbed " +
        "FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id")),

    // All-pairs set-cosine ≥ τ with PREFIX FILTERING
    // ([[graft.operators.Dedup.allPairsCosine]], Bayardo et al. WWW
    // 2007) — the corpus-wide similarity self-join made tractable: docs
    // index only their |A| − ⌈τ|A|⌉ + 1 RAREST shingles (df-ascending
    // canonical order), so candidate pairs come from rare-token
    // postings instead of the full inverted-index join, and exact
    // overlap verifies candidates map-side via packed sorted-array
    // intersects. τ = 9/10 is RATIONAL: the acceptance test is the
    // all-integer cross-multiply 100·shared² ≥ 81·|A|·|B| — no FP
    // thresholds anywhere (τ=0.9 sits in the corpus's verified
    // similarity gap: the pair set is IDENTICAL from τ=0.5 through 0.9,
    // measured at both verification scales, while candidate volume
    // falls 5× vs 0.7). The oracle is the SEMANTIC all-pairs form over
    // the full token join, so a hash match proves prefix + size pruning
    // loses no pair. Candidate volume note: this synthetic corpus draws
    // every doc from ONE ~31-word vocabulary, so dfs are ~8% and
    // nothing is truly rare — candidate count is a data property (the
    // dedup_ngram_jaccard finding); on a zipfian crawl the rare-prefix
    // bound does far more work. EXPLICIT CAP (no silent caps): the
    // catalog entry runs on doc_id < 5000 — the full corpus at both
    // driver-verified scales, a fixed slice at sf10, where the
    // measured global form hits ~10^8 candidate pairs and >76 GB of
    // spill (the j10 disk-full class: pair volume here is a property
    // of the degenerate synthetic vocabulary, not of the plan — at
    // 100 TB this operator runs per-block after LSH/banding or on a
    // zipfian df distribution, both of which bound candidates).
    Q("dedup_allpairs_cosine",
      (s, d) => graft.operators.Dedup
        .allPairsCosine(
          Tables.documents(s, d).filter(col("doc_id") < 5000),
          "doc_id", "text", 9, 10)
        .orderBy("id_a", "id_b"),
      Some("WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents WHERE doc_id < 5000), " +
        "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS tok FROM t, LATERAL unnest(generate_series(1, len(ws)-1)) AS g(i)), " +
        "n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd FROM sh GROUP BY 1), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared " +
        "FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, shared, na.nd AS n_a, nb.nd AS n_b " +
        "FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b " +
        "WHERE 100 * shared * shared >= 81 * na.nd * nb.nd ORDER BY id_a, id_b")),

    // N-gram (bigram-shingle) Jaccard similarity for same-source pairs.
    // jaccard = shared / (na + nb - shared): single double division of exact
    // integers — deterministic cross-engine.
    Q("dedup_ngram_jaccard",
      (s, d) => graft.operators.Dedup
        .ngramJaccard(Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy("id_a", "id_b"),
      Some("WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents), w AS (SELECT DISTINCT doc_id, source, unnest([ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws)-1)]) AS sh FROM t), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd FROM w GROUP BY doc_id), p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared FROM w a JOIN w b ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) SELECT id_a, id_b, CAST(shared AS DOUBLE) / (na.nd + nb.nd - shared) AS jaccard FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b ORDER BY id_a, id_b")))

  /** SimHash fingerprints + segment-blocked near-dup pairs. md5-derived
    * bits (high bit of hex digit b+1) make both DuckDB-expressible; the
    * oracle's pair check is the semantic all-pairs form, so a hash-match
    * also proves the pigeonhole blocking loses no pair.
    */
  private val simhashQs = Seq(
    Q("dedup_simhash",
      (s, d) => graft.operators.Dedup
        .simhash(Tables.documents(s, d), "doc_id", "text", 16)
        .orderBy("doc_id"),
      Some(s"${simhashSql(16)} ORDER BY doc_id")),
    // 24 bits / radius 1: the synthetic docs share a small vocabulary, so
    // fingerprints cluster — wider fingerprints + tight radius keep the
    // pair set near-dup-sized (279k at sf0.1) instead of degenerate
    // (3.5M at 16 bits / radius 3).
    Q("dedup_simhash_pairs",
      (s, d) => graft.operators.Dedup
        .simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 1, bits = 24)
        .orderBy("id_a", "id_b"),
      Some(s"WITH sig AS (${simhashSql(24)}) SELECT id_a, id_b, hamming FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming FROM sig a JOIN sig b ON a.doc_id < b.doc_id) WHERE hamming <= 1 ORDER BY id_a, id_b")))

  /** The two bucketed ANN paths, oracled end-to-end (recall vs the exact
    * ground truth is additionally asserted in SimilaritySpec/IvfSpec).
    */
  private val dedupNoOracle = Seq(
    Q("sim_lsh_ann",
      (s, d) => graft.operators.Similarity
        .topKLsh(Tables.embeddings(s, d), "vec_id", "embedding", 0L, 10, planes = 2)
        .select("vec_id"),
      Some(lshAnnSql)),
    // nlist SCALES with the corpus (the SemDeDup k=8 lesson applied
    // proactively, round-10 audit item): k = max(8, ceil(n/512)) keeps
    // posting lists ~512 vectors however large the corpus, so the
    // nprobe-bounded scan stays O(nprobe · 512) per query instead of
    // silently degrading to n/8. Identical to today's k=8 at both
    // driver-verified scales (n ≤ 4096), so the oracle twin carries the
    // same GREATEST(8, ⌈n/512⌉) seed predicate the SemDeDup twin uses.
    Q("sim_ivf_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val k = graft.operators.Ivf.cellsFor(emb.count())
        val centroids = cachedModel(s"ivf|${embKey(d)}|k=$k|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = k, iters = 2) }
        graft.operators.Ivf.search(emb, "vec_id", "embedding", centroids, 0L, k = 10, nprobe = 2)
          .select("vec_id")
      },
      Some(ivfAnnSql)),

    // Product quantization ([[graft.operators.Pq]], Jégou et al. 2011):
    // m=4 subspace codebooks (k=4, the shared fixed-point Lloyd), ADC
    // lookup-table scoring for the top-80 pool, exact re-rank to top-10.
    // The memory-scale ANN representation: m bytes/vector instead of
    // 4·d — what a billion-vector index stores at 100 TB. The oracle
    // re-learns all four codebooks closed-form and must reproduce the
    // identical pool and final ranking.
    Q("sim_pq_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val books = cachedModel(s"pq|${embKey(d)}|m=4|k=4|it=2") {
          graft.operators.Pq.train(emb, "vec_id", "embedding",
            dim = 64, m = 4, k = 4, iters = 2) }
        graft.operators.Pq.search(emb, "vec_id", "embedding", books, 0L,
          k = 10, poolFactor = 8)
          .select("vec_id")
      },
      Some(pqAnnSql)),

    // IVF-PQ — the production composition ([[graft.operators.Pq
    // .searchIvfPq]]): the corpus-scaled coarse quantizer bounds WHAT
    // scans (nprobe/nlist posting lists), PQ codes bound what each
    // scanned row COSTS (m byte-lookups). The billion-vector layout at
    // 100 TB; both models ride the shared fixed-point Lloyd, so the
    // oracle re-learns coarse + 4 subspace codebooks and must reproduce
    // probe set, pool, and final ranking.
    Q("sim_ivfpq_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val kc = graft.operators.Ivf.cellsFor(emb.count())
        val coarse = cachedModel(s"ivf|${embKey(d)}|k=$kc|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = kc, iters = 2) }
        val books = cachedModel(s"pq|${embKey(d)}|m=4|k=4|it=2") {
          graft.operators.Pq.train(emb, "vec_id", "embedding",
            dim = 64, m = 4, k = 4, iters = 2) }
        graft.operators.Pq.searchIvfPq(emb, "vec_id", "embedding",
          coarse, books, 0L, k = 10, nprobe = 2, poolFactor = 4)
          .select("vec_id")
      },
      Some(ivfPqAnnSql)),

    // IVF-SQ8 ([[graft.operators.Ivf.searchQuantized]]): probe the
    // corpus-scaled coarse cells, first-pass score on int8-quantized
    // vectors (4× smaller — the representation the posting lists store
    // in memory at 100 TB), exact re-rank of the 40-candidate pool.
    // Sits between IVF-Flat (full floats) and IVF-PQ (m bytes) on the
    // memory/recall curve; the oracle mirrors quantization, pool, and
    // re-rank exactly.
    Q("sim_sq8_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val k = graft.operators.Ivf.cellsFor(emb.count())
        val centroids = cachedModel(s"ivf|${embKey(d)}|k=$k|it=2") {
          graft.operators.Ivf.train(emb, "vec_id", "embedding", k = k, iters = 2) }
        graft.operators.Ivf.searchQuantized(emb, "vec_id", "embedding",
          centroids, 0L, k = 10, nprobe = 2, poolFactor = 4)
          .select("vec_id")
      },
      Some(sq8AnnSql)))

  val all: Seq[Q] = dedup ++ simhashQs ++ dedupNoOracle
}
