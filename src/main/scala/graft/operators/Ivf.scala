package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** IVF (inverted-file) ANN index: k-means coarse quantizer + per-centroid
  * posting lists (the classic IVF-Flat layout).
  *
  * Training is Lloyd's algorithm expressed as DataFrame plans: assignment
  * is a map-side argmax over native [[graft.functions.DotProduct]]
  * projections against broadcast centroid literals (zero shuffle);
  * the update step is one grouped average per iteration. Centroids
  * (k × dim doubles) always fit on the driver — that is the design point
  * of IVF: the model is tiny, the corpus never moves.
  *
  * Search probes the `nprobe` nearest centroids and scores only their
  * posting lists: ~nprobe/k of the corpus per query at full recall within
  * the probed cells. At 100 TB the assigned corpus is written partitioned
  * by `centroid_id`, so a probe is partition pruning.
  */
object Ivf {

  /** Negative squared L2 distance to a literal centroid (argmax-friendly):
    * -(|v|² - 2·v·c + |c|²). |v|² is shared across centroids so it can be
    * dropped for argmax, but keeping it makes the score a true -distance².
    */
  private def negSqDist(v: Column, vNorm2: Column, c: Array[Double]): Column = {
    val cn2 = c.map(x => x * x).sum
    (Vectors.dot(v, typedlit(c.toSeq)) * 2 - vNorm2 - lit(cn2))
  }

  /** Assign each vector its nearest centroid: one projected column per
    * centroid, argmax via array_max over (score, idx) structs. Map-side
    * only.
    */
  def assign(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol)
    val vn2 = Vectors.dot(v, v)
    val scored = array(centroids.zipWithIndex.toSeq.map { case (c, i) =>
      struct(negSqDist(v, vn2, c).as("s"), lit(i).as("c"))
    }: _*)
    df.withColumn("centroid_id", array_max(scored).getField("c"))
  }

  /** Row-based twin of [[assign]] for LARGE k: the centroid model as a
    * k-row BROADCAST DataFrame, scored with one equi-structured
    * `max(struct(score, cid))` aggregation instead of a k-wide literal
    * expression array. [[assign]] inlines k × dim literals into ONE
    * generated expression — perfect map-side zero-shuffle code at the
    * IVF design point (k ≤ a few dozen), but at k in the hundreds-plus
    * (SemDeDup scales k with the corpus) the generated method explodes
    * past JIT limits and Catalyst optimization time grows with the tree.
    * Here the model stays data: n·k scored rows flow through a map-side
    * partial max, so the shuffle is n rows however large k grows.
    *
    * Bit-compatibility with [[assign]] is deliberate and load-bearing:
    * the score is the same left-to-right IEEE tree
    * `dot(v,c)·2 − |v|² − |c|²` (|c|² precomputed with the same Scala
    * left fold the literal path embeds), and `max(struct(s, c))` breaks
    * score ties toward the larger centroid id exactly like the literal
    * path's `array_max` — so both paths (and the DuckDB twin) yield the
    * identical assignment and either can serve any caller.
    */
  def assignByJoin(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.join(assignScoresByJoin(df, idCol, vecCol, centroids)
      .drop("score"), idCol)

  /** [[assignByJoin]] keeping the winning score: (idCol, centroid_id,
    * score) where score = −distance² to the OWN centroid — the quantity
    * prototype-filtering ranks on. Same broadcast-model shape (shuffle
    * stays n rows), same IEEE tree as both assign faces.
    */
  def assignScoresByJoin(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val cents = broadcast(centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }
      .toDF("__c", "__cv", "__cn2"))
    val v = col(vecCol)
    df.select(col(idCol), v, Vectors.dot(v, v).as("__vn2"))
      .crossJoin(cents)
      .select(col(idCol),
        struct((Vectors.dot(v, col("__cv")) * 2 - col("__vn2") - col("__cn2")).as("s"),
          col("__c").as("c")).as("__sc"))
      .groupBy(idCol).agg(max(col("__sc")).as("__m"))
      .select(col(idCol), col("__m.c").as("centroid_id"), col("__m.s").as("score"))
  }

  /** Coarse cells for a model over `rows` vectors: max(8, ⌈rows/512⌉).
    * Scaling k with the corpus keeps each cell near 512 vectors, so
    * per-cell work (a probe, a SemDeDup within-cell join) stays constant
    * as the corpus grows; at both verification scales it yields k = 8,
    * and the oracle twins compute the same k from count(*).
    */
  def cellsFor(rows: Long): Int = math.max(8L, (rows + 511) / 512).toInt

  /** Fixed-point scale for the centroid update: multiplying by a power
    * of two is EXACT in IEEE doubles, so `floor(x * 2^24 + 0.5)` is a
    * deterministic integer any engine reproduces bit-for-bit.
    */
  private[graft] val FixedScale = 1L << 24

  /** Lloyd's k-means: deterministic init (first k vectors by id), then
    * `iters` assign/average rounds. Returns the learned centroids.
    *
    * The update step is integer-exact: per-component sums run over
    * 2^24-scaled fixed-point values (long), so the sum is independent of
    * partitioning/merge order — a plain `avg` of doubles changes in the
    * last ulp with the shuffle's arrival order, which makes the learned
    * model (and any borderline assignment) nondeterministic run-to-run.
    * The centroid component is then ONE double division of two exact
    * integers: bit-identical everywhere, including the DuckDB oracle.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = df
      .orderBy(col(idCol)).limit(k)
      .select(Vectors.toDouble(col(vecCol)))
      .collect().map(_.getSeq[Double](0).toArray)
    (1 to iters).foreach { _ =>
      // dispatch on k (the two paths are documented + spec'd as
      // bit-identical): small-k IVF models keep the zero-shuffle
      // map-side literal [[assign]]; large-k (SemDeDup scales k with
      // the corpus) takes [[assignByJoin]], whose shuffle stays n rows
      // while the literal path's generated code blows past JIT limits
      val assigned = assignAny(df, idCol, vecCol, centroids)
      val means = assigned
        .select(col("centroid_id"), posexplode(Vectors.toDouble(col(vecCol))).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(sum(floor(col("x") * FixedScale + 0.5).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCid = means.groupBy(_.getInt(0))
      centroids = centroids.indices.map { cid =>
        byCid.get(cid) match {
          case Some(rows) => rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / (r.getLong(3) * FixedScale).toDouble)
          case None       => centroids(cid) // empty cell keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** IVF search: score only the posting lists of the `nprobe` centroids
    * nearest to the query vector.
    */
  def search(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], queryId: Long,
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    val (q, probed) = queryAndProbes(df, idCol, vecCol, centroids, queryId, nprobe)
    val v = col(vecCol)
    assignAny(df, idCol, vecCol, centroids)
      .filter(col("centroid_id").isin(probed.toSeq: _*) && col(idCol) =!= queryId)
      .select(col(idCol),
        (Vectors.dot(v, typedlit(q.toSeq)) / Vectors.norm(v)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-SQ8: probe like [[search]], but the first scoring pass runs on
    * int8-quantized vectors (4× smaller — at 100 TB the quantized
    * posting lists are what fits in memory/IO budget), keeping a
    * `k × poolFactor` candidate pool that is then rescored at full
    * precision. Cosine against the quantized vector needs no
    * dequantization: v ≈ q8·(mx/127), and the per-vector scale cancels
    * in dot(v,q)/|v|, so the approx score is dot(q8,q)/|q8|.
    */
  def searchQuantized(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], queryId: Long,
      k: Int = 10, nprobe: Int = 2, poolFactor: Int = 4): DataFrame = {
    val (q, probed) = queryAndProbes(df, idCol, vecCol, centroids, queryId, nprobe)
    val v = col(vecCol)
    val q8d = transform(col("q8"), x => x.cast("double"))
    val pool = assignAny(df, idCol, vecCol, centroids)
      .filter(col("centroid_id").isin(probed.toSeq: _*) && col(idCol) =!= queryId)
      .withColumn("q8",
        Vectors.quantizeInt8(v, Vectors.maxAbs(v)))
      .select(col(idCol), v.as("__v"),
        (Vectors.dot(q8d, typedlit(q.toSeq)) / Vectors.norm(q8d)).as("ascore"))
      .orderBy(col("ascore").desc, col(idCol))
      .limit(k * poolFactor)
    pool
      .select(col(idCol),
        (Vectors.dot(col("__v"), typedlit(q.toSeq)) / Vectors.norm(col("__v"))).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Assignment dispatch on k (the two paths are documented + spec'd as
    * bit-identical): small-k models keep the zero-shuffle map-side
    * literal [[assign]]; above a few dozen centroids (corpus-scaled
    * nlist, SemDeDup cells) the row-based [[assignByJoin]] takes over —
    * its shuffle stays n rows while the literal path's generated
    * expression grows with k past JIT method limits.
    */
  private[operators] def assignAny(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    if (centroids.length <= 32) assign(df, vecCol, centroids)
    else assignByJoin(df, idCol, vecCol, centroids)

  private[operators] def queryAndProbes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], queryId: Long,
      nprobe: Int): (Array[Double], Set[Int]) = {
    val q = df.filter(col(idCol) === queryId)
      .select(Vectors.toDouble(col(vecCol))).collect().head.getSeq[Double](0).toArray
    (q, probeSet(q, centroids, nprobe))
  }

  /** The `nprobe` centroids nearest to query vector `q` — the probe-set
    * math shared by the inline searches above and the persisted-index
    * search ([[IvfIndex]]). Scores are the same IEEE tree as
    * [[negSqDist]]; Scala's stable sortBy breaks score ties toward the
    * SMALLER centroid id (the documented oracle twin's `ORDER BY s
    * DESC, cid`).
    */
  private[operators] def probeSet(q: Array[Double],
      centroids: Array[Array[Double]], nprobe: Int): Set[Int] = {
    val qn2 = q.map(x => x * x).sum
    centroids.zipWithIndex
      .map { case (c, i) =>
        val dot = c.zip(q).map { case (a, b) => a * b }.sum
        (i, -(qn2 - 2 * dot + c.map(x => x * x).sum))
      }
      .sortBy(-_._2).take(nprobe).map(_._1).toSet
  }
}
