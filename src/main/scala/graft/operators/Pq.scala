package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Product quantization (PQ) for ANN at memory scale (Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011): split each d-dim vector into `m` contiguous subvectors, learn
  * a tiny k-means codebook PER SUBSPACE, and store each vector as m
  * small integer codes. A 64-dim float vector (256 B) compresses to m=4
  * bytes — the representation that makes billion-vector indexes fit in
  * memory at 100 TB, one step beyond [[Ivf.searchQuantized]]'s int8
  * (4×) compression.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * full-precision; per subspace a k-entry lookup table of
  * ⟨codeword, query-subvector⟩ dots is computed ONCE (driver-side,
  * m·k doubles), and a candidate's approximate score is m table
  * lookups — `element_at` against broadcast literal arrays, zero
  * per-row arithmetic on the original vector. The top `k·poolFactor`
  * pool by approximate cosine is then re-ranked at full precision
  * (the standard PQ re-rank), so the output is exact ordering within
  * the approximate pool.
  *
  * Determinism: codebooks come from [[Ivf.train]]'s fixed-point Lloyd
  * (bit-identical cross-engine, any partitioning); lookup-table dots
  * are the same left-to-right IEEE folds the DuckDB twin's `list_sum`
  * computes; approximate and exact scores tie-break on vec_id. The
  * oracle re-learns all m codebooks closed-form and must produce the
  * identical pool and ranking.
  *
  * Scale shape: training is m small Lloyd runs (each k ≤ a few dozen —
  * the literal-assign design point); encoding is one map-side pass
  * (m argmax projections, no shuffle); search is a map-side scored
  * scan + TakeOrderedAndProject — the corpus never shuffles. At 100 TB
  * the encoded table (m bytes/vector) is what scans; original vectors
  * are fetched only for the k·poolFactor re-rank pool.
  */
object Pq {

  /** Learn m per-subspace codebooks: `codebooks(j)(c)` = centroid c of
    * subspace j. Subspace j covers vector elements [j·d/m, (j+1)·d/m).
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val sub = dim / m
    (0 until m).map { j =>
      Ivf.train(
        df.select(col(idCol), slice(col(vecCol), j * sub + 1, sub).as(vecCol)),
        idCol, vecCol, k, iters)
    }.toArray
  }

  /** Encode every vector to its m codes: adds `code0 .. code{m-1}`.
    * Map-side only — m literal argmax projections, no shuffle.
    */
  def encode(df: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    codebooks.zipWithIndex.foldLeft(df) { case (acc, (cb, j)) =>
      val sub = cb(0).length
      Ivf.assign(
          acc.withColumn("__sv", slice(col(vecCol), j * sub + 1, sub)),
          "__sv", cb)
        .withColumnRenamed("centroid_id", s"code$j")
        .drop("__sv")
    }

  /** ADC top-k for the query vector at `idCol == queryId`: approximate
    * pool by per-subspace table lookups, exact cosine re-rank inside
    * the pool. Returns (idCol, score) rows, best first.
    */
  def search(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], queryId: Long,
      k: Int = 10, poolFactor: Int = 8): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(Vectors.toDouble(col(vecCol)))
      .collect().head.getSeq[Double](0).toArray
    adcRerank(df.filter(col(idCol) =!= queryId),
      idCol, vecCol, codebooks, q, k, poolFactor)
  }

  /** IVF-PQ — the production composition ([[Ivf]] coarse pruning on
    * top of PQ codes): assign the corpus to the coarse quantizer, keep
    * only the `nprobe` cells nearest the query, ADC-score just those
    * posting lists, exact-re-rank the pool. This is the billion-vector
    * layout — the coarse index bounds WHAT scans (nprobe/nlist of the
    * corpus), PQ bounds what each scanned row COSTS (m byte-code
    * lookups) — and both models ride the same fixed-point Lloyd, so
    * the whole path stays bit-identical cross-engine.
    */
  def searchIvfPq(df: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      queryId: Long, k: Int = 10, nprobe: Int = 2,
      poolFactor: Int = 4): DataFrame = {
    val (q, probed) = Ivf.queryAndProbes(df, idCol, vecCol, coarse, queryId, nprobe)
    val members = Ivf.assignAny(df, idCol, vecCol, coarse)
      .filter(col("centroid_id").isin(probed.toSeq: _*) && col(idCol) =!= queryId)
      .drop("centroid_id")
    adcRerank(members, idCol, vecCol, codebooks, q, k, poolFactor)
  }

  /** Per-subspace ADC dot-lookup tables for query `q`: `dotT(j)(c)` =
    * ⟨codeword c of subspace j, query subvector j⟩, each a sequential
    * left-to-right fold (the oracle's list_sum). THE single source of
    * truth for the per-query half of the ADC IEEE tree — the literal of
    * [[adcDotLit]] and the per-row column of [[IvfIndex.searchBatch]]'s
    * broadcast probe rows, so single and batch search can never drift
    * by an ulp.
    */
  private[operators] def adcDotTables(
      codebooks: Array[Array[Array[Double]]], q: Array[Double]): Array[Array[Double]] = {
    val offs = codebooks.scanLeft(0)(_ + _(0).length)
    codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) => x * q(offs(j) + i) }.sum)
    }
  }

  /** [[adcDotTables]] of one query as a literal column for [[adcCosine]]. */
  private[operators] def adcDotLit(
      codebooks: Array[Array[Array[Double]]], q: Array[Double]): Column =
    typedlit(adcDotTables(codebooks, q).map(_.toSeq).toSeq)

  /** The ADC approximate-cosine column over already-encoded rows
    * (`code0..code{m-1}` present): the m looked-up ⟨codeword, query⟩ dots
    * over the square root of the m looked-up codeword norms |codeword|²
    * (query-INDEPENDENT, the same sequential folds, one literal). `dotT`
    * holds the query's [[adcDotTables]]: a literal ([[adcDotLit]]) for
    * one query, a per-row column for a batch of them. ONE definition of
    * the ADC IEEE tree, shared by the inline searches here and both
    * searches of the persisted quantized index ([[IvfIndex]]), so they
    * can never drift by an ulp.
    */
  private[operators] def adcCosine(
      codebooks: Array[Array[Array[Double]]], dotT: Column): Column = {
    val n2T = typedlit(codebooks.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    def lookup(t: Column, j: Int): Column =
      element_at(element_at(t, j + 1), col(s"code$j").cast("int") + 1)
    val subs = codebooks.indices
    subs.map(lookup(dotT, _)).reduce(_ + _) / sqrt(subs.map(lookup(n2T, _)).reduce(_ + _))
  }

  /** Shared ADC pool + exact re-rank over an already-restricted
    * candidate set: approximate-cosine top `k·poolFactor`
    * ([[adcCosine]]), exact cosine top `k` inside the pool.
    */
  private def adcRerank(candidates: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], q: Array[Double],
      k: Int, poolFactor: Int): DataFrame = {
    val pool = encode(candidates, vecCol, codebooks)
      .select(col(idCol), col(vecCol),
        adcCosine(codebooks, adcDotLit(codebooks, q)).as("__as"))
      .orderBy(col("__as").desc, col(idCol))
      .limit(k * poolFactor)
    val v = col(vecCol)
    pool
      .select(col(idCol),
        (Vectors.dot(v, typedlit(q.toSeq)) / Vectors.norm(v)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
