package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Warehouse

/** Persisted full-text index — the serving layout for lexical (BM25)
  * retrieval, mirroring [[IvfIndex]]'s design point for vectors: build
  * once, then every query is a PRUNED scan of persisted posting rows —
  * the corpus text is never touched again.
  *
  * Layout (the 100 TB shape):
  *  - postings: one row per (term, doc) carrying `tf` AND the doc length
  *    `dl` DENORMALIZED in (joining a corpus-sized doc-length side table
  *    per query would defeat the pruned scan — the same reasoning as
  *    [[IvfIndex]]'s payload columns), PARTITIONED BY a CRC32 term
  *    bucket. A query's terms map to ≤|terms| buckets, so the scan is
  *    partition-PRUNED exactly like the IVF probe, and the `term IN`
  *    predicate pushes to the surviving files' row groups.
  *    Rows inside each bucket are TERM-CLUSTERED at write time
  *    (`sortWithinPartitions(term, doc_id)` at build/append/compact),
  *    so every row group's min/max envelope on `term` is a tight
  *    range and the pushed predicate SKIPS the row groups that don't
  *    hold the query term — per-term cost is O(df(term)), not
  *    O(bucket) = O(corpus/32). `buckets` is therefore a pure
  *    PARALLELISM parameter (probe fan-out), not a capacity constant:
  *    per-bucket volume grows with the corpus, but the term-sorted
  *    layout keeps the scanned slice df-proportional at any bucket
  *    size (TextIndexSpec measures the skip on scan metrics).
  *  - stats: one row (n_docs, total_len) — the broadcast scalars BM25's
  *    length normalization needs.
  *
  * Per-term document frequency is aggregated AT QUERY TIME from the
  * pruned slice (every posting of a query term lives in that term's
  * bucket, so the slice-local countDistinct is the exact corpus df) —
  * df rows for the other ~|vocab| terms are never materialized per
  * query.
  *
  * Scoring is the catalog's bit-portable BM25 (text_bm25,
  * TrainingAssembly.scala): Robertson–Spärck Jones ODDS idf kept
  * unlogged, k1 = 1.25 / b = 0.75 as exact binary fractions, one fixed
  * IEEE expression tree per (doc, term), exact micro-unit LONG sums per
  * doc — so index-served ranking hash-matches a corpus-scan twin on any
  * engine.
  *
  * Reference anchor: the reference regex-scans every tweet text per
  * search with no index at all (cache.py:145 — SURVEY §2 "known hot
  * spots"); this layout is what that scan becomes at 100 TB.
  */
object TextIndex {

  /** Table-name pair for one persisted text index. */
  final case class Names(postings: String, stats: String) extends Tombstones.Index {
    def tables: Seq[String] = Seq(postings, stats)
  }

  def names(prefix: String, fingerprint: String): Names =
    Names(s"${prefix}_tpost_$fingerprint", s"${prefix}_tstat_$fingerprint")

  def exists(spark: SparkSession, n: Names): Boolean =
    spark.catalog.tableExists(n.postings) && spark.catalog.tableExists(n.stats)

  /** Term → partition bucket: CRC32 of the UTF-8 term mod `buckets`.
    * Chosen over hash()/xxhash64 because the SAME value is cheaply
    * computable driver-side ([[bucketOf]]) for the query-time pruning
    * literal — the index never has to be consulted to know where a
    * term lives.
    */
  val buckets = 32

  def bucketCol(term: Column): Column =
    pmod(crc32(term.cast("binary")), lit(buckets.toLong))

  /** Driver-side twin of [[bucketCol]] for query-term pruning. */
  def bucketOf(term: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, buckets.toLong)
  }

  /** Posting rows of `docs`: one row per (term, doc) with tf, the doc
    * length denormalized, and the POSITIONS rendered as the
    * [[Postings]] deterministic "p1|p2|…" string (ascending) — the
    * positional payload that serves quoted-phrase queries from the
    * same pruned scan BM25 uses. Shared by [[build]] and
    * [[appendBatch]] so growth and build have one definition.
    */
  private def postingRows(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "term")))
    val tf = tok.groupBy("doc_id", "term").agg(
      count(lit(1)).as("tf"),
      expr("array_join(transform(array_sort(collect_list(pos)), x -> cast(x as string)), '|')")
        .as("pos_list"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    (tf.join(dl, "doc_id")
      .withColumn("bucket", bucketCol(col("term")))
      .select("bucket", "term", "doc_id", "tf", "dl", "pos_list"),
      dl)
  }

  /** Build the persisted index from `docs` (idCol: bigint, textCol:
    * string): whitespace-tokenized (lower-cased) like every text_*
    * catalog row. One shuffle on (doc, term) for tf+positions, one on
    * doc for dl, one doc-keyed join to denormalize — the one-time build
    * cost; every [[bm25]] / [[phrase]] after it reads only pruned
    * posting rows.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, n: Names,
      payloadCols: Seq[String] = Nil): Unit = {
    // a rebuild under a name that previously deleted must not inherit
    // the old index's tombstones — they would silently exclude
    // re-indexed docs from every bm25/phrase after the rebuild
    Warehouse.dropWithLocation(docs.sparkSession, tombstoneTable(n))
    val (rows0, dl) = postingRows(docs, idCol, textCol)
    // payload columns DENORMALIZE into the posting rows (the IvfIndex
    // payload design): metadata a FILTERED bm25 predicates on must live
    // IN the index — joining a corpus-sized side table per query would
    // defeat the pruned scan
    val rows =
      if (payloadCols.isEmpty) rows0
      else rows0.join(
        docs.select((col(idCol).as("doc_id") +: payloadCols.map(col)): _*),
        "doc_id")
    Warehouse.writePartitioned(rows, n.postings, "bucket",
      sortCols = Seq("term", "doc_id"))
    // coalesce: SUM over zero rows is null — an empty build (and, more
    // realistically, an empty appendBatch: the no-new-docs night) must
    // write 0, or every later stats fold null-poisons n/tot
    Warehouse.writeTable(
      dl.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("tot")),
      n.stats)
  }

  /** Tombstone side-table ([[Tombstones.table]]). */
  def tombstoneTable(n: Names): String = Tombstones.table(n)

  /** Grow the index WITHOUT rebuilding: the batch's (term, doc, tf, dl)
    * rows append into the bucket partitions and the 1-row stats fold in
    * the batch's doc/token volume. UNLIKE the vector layouts (stale
    * coarse/PQ quantizers until rebuild), a text-index append is EXACT:
    * df aggregates at query time from the pruned slice (which now
    * includes the new rows) and the stats fold is integer arithmetic —
    * the grown index serves the identical ranking a from-scratch build
    * would. PRECONDITION: batch ids must be new to the index (appending
    * an already-indexed doc doubles its postings — same contract as
    * [[IvfIndex.appendBatch]]). A re-ingested id clears its tombstone
    * ([[Tombstones]]' re-ingest contract).
    */
  def appendBatch(spark: SparkSession, n: Names, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    appendRows(spark, n, docs, idCol, textCol)
    Tombstones.clearReingested(spark, n, "doc_id", docs.select(col(idCol).as("doc_id")))
  }

  /** [[appendBatch]]'s row append and stats fold alone, for the
    * streaming drain that proves no appended id is tombstoned.
    */
  private[graft] def appendRows(spark: SparkSession, n: Names, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (rows0, dl) = postingRows(docs, idCol, textCol)
    // a payload-built index grows like a bare one — the batch just has
    // to carry the payload columns (the IvfIndex.appendBatch contract)
    val payloadCols = spark.table(n.postings).columns
      .filterNot(Set("bucket", "term", "doc_id", "tf", "dl", "pos_list"))
    val missing = payloadCols.filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"batch is missing index payload column(s) ${missing.mkString(", ")}")
    val rows =
      if (payloadCols.isEmpty) rows0
      else rows0.join(
        docs.select((col(idCol).as("doc_id") +: payloadCols.map(col).toSeq): _*),
        "doc_id")
    Warehouse.appendInto(rows, n.postings, sortCols = Seq("term", "doc_id"))
    // coalesce: see build — an empty batch must fold +0, not null.
    // overwriteInto, not writeTable: the stats table exists (build wrote
    // it), so the fold replaces one data file in place instead of
    // paying DROP + delete-location + CREATE per appended batch
    val bstat = dl.agg(count(lit(1)).as("bn"),
      coalesce(sum(col("dl")), lit(0L)).as("btot"))
    Warehouse.overwriteInto(
      spark.table(n.stats).crossJoin(bstat)
        .select((col("n") + col("bn")).as("n"),
          (col("tot") + col("btot")).as("tot"))
        .localCheckpoint(),
      n.stats)
  }

  /** Delete documents by id — the takedown path: ids land in the
    * tombstone table that [[bm25]] and [[phrase]] anti-join AFTER the
    * df aggregation, so a tombstoned doc stops RANKING immediately while
    * the corpus statistics (df, n, tot) drift until [[compact]]
    * refreshes them — the same block-now/fold-later semantics as the
    * vector index's tombstones. Idempotent (distinct ids).
    */
  def delete(spark: SparkSession, n: Names, ids: Seq[Long]): Unit =
    Tombstones.delete(spark, n, "doc_id", ids)

  /** [[delete]] at DELTA scale: the takedown ids arrive as a DataFrame
    * (first column, cast to long) and never pass through the driver —
    * the form a nightly publish uses when the removed/changed set is a
    * corpus fraction, not a bounded takedown list. Idempotent; an
    * empty delta is a no-op night.
    */
  def delete(spark: SparkSession, n: Names, ids: DataFrame): Unit =
    Tombstones.delete(spark, n, "doc_id", ids)

  /** Fold the tombstones into the physical layout: the bucket
    * partitions holding tombstoned rows are rewritten term-clustered,
    * emptied buckets dropped ([[Tombstones.compact]]), and the stats
    * shrink by the deleted docs' (doc, token) volume. After compaction
    * the index serves EXACTLY the BM25 of the corpus minus the deleted
    * docs — df and length normalization included (the statistics drift
    * [[delete]] documents is repaid here).
    */
  def compact(spark: SparkSession, n: Names): Unit =
    if (spark.catalog.tableExists(tombstoneTable(n))) {
      // stats deltas BEFORE the rewrite (the tombstoned rows carry dl)
      val del = Tombstones.only(spark, n, "doc_id", spark.table(n.postings))
        .select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("dn"), coalesce(sum("dl"), lit(0L)).as("dtot"))
        .localCheckpoint()
      Tombstones.compact(spark, n, "doc_id", "bucket", Seq("term", "doc_id"))
      Warehouse.overwriteInto(
        spark.table(n.stats).crossJoin(del)
          .select((col("n") - col("dn")).as("n"),
            (col("tot") - col("dtot")).as("tot"))
          .localCheckpoint(),
        n.stats)
    }

  /** Positional phrase query served ENTIRELY from the persisted index —
    * the quoted-query consumer ([[Postings.phraseMatches]] semantics)
    * on the serving layout: the scan prunes to the phrase words'
    * buckets, positions decode from the rendered `pos_list` strings
    * (pure column ops), tombstoned docs are excluded, and successive
    * words intersect on (doc, start) exactly like rarest-first
    * posting-list merges. Returns (doc_id, pos) start positions.
    */
  def phrase(spark: SparkSession, n: Names, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "phrase must have at least one word")
    val ph = words.map(_.toLowerCase(java.util.Locale.ROOT))
    val bks = ph.distinct.map(bucketOf)
    val slice = Tombstones.exclude(spark, n, "doc_id", spark.table(n.postings)
      .filter(col("bucket").isin(bks: _*) && col("term").isin(ph.distinct: _*)))
    val tok = slice
      .select(col("doc_id"), col("term"),
        explode(split(col("pos_list"), "\\|")).as("pos_s"))
      .select(col("doc_id"), col("term"), col("pos_s").cast("long").as("pos"))
    val first = tok.filter(col("term") === ph.head).select("doc_id", "pos")
    ph.zipWithIndex.drop(1).foldLeft(first) { case (acc, (word, i)) =>
      val next = tok.filter(col("term") === word)
        .select(col("doc_id").as("d2"), (col("pos") - i).as("start"))
      acc.join(next,
          acc("doc_id") === next("d2") && acc("pos") === next("start"))
        .select(acc("doc_id"), acc("pos"))
    }
  }

  /** BM25 top-`limit` docs for `terms`, served ENTIRELY from the
    * persisted index: partition-pruned posting scan (the query terms'
    * buckets only) → slice-local exact df → broadcast 1-row stats →
    * fixed-IEEE per-term score → micro-unit long sum per doc →
    * distributed top-k. Zero reads of the source text. Returns
    * (doc_id, score_u, n_terms) — n_terms = how many query terms the
    * doc matched, pinning the per-term posting rows, not just the sum.
    *
    * `excludeId` drops one doc from RANKING (a query-doc slot, the
    * [[IvfIndex.search]] convention) — it still contributes to df and
    * the corpus stats, so every other doc's score is byte-identical to
    * the unexcluded search's.
    *
    * `payloadFilter` predicates on payload columns the index was built
    * with ([[build]]'s payloadCols) — the filtered-retrieval face. It
    * rides the SAME pruned posting scan (pushed to the surviving
    * files' row groups, never a side-table join per query) and gates
    * RANKING only: like excludeId and tombstones, filtered-out docs
    * still contribute to df and the corpus stats, so a doc's score is
    * identical under any predicate that keeps it.
    */
  def bm25(spark: SparkSession, n: Names, terms: Seq[String],
      limit: Int, excludeId: Option[Long] = None,
      payloadFilter: Column = lit(true)): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    // the index lowercases at build (postingRows) — normalize query
    // terms to the indexed form or a mixed-case term silently hashes
    // to the wrong bucket AND misses the term IN predicate
    val qts = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    val bks = qts.map(bucketOf).distinct
    val slice0 = spark.table(n.postings)
      .filter(col("bucket").isin(bks: _*) && col("term").isin(qts: _*))
    val dfq = slice0.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    // ranking exclusions (query-doc slot, tombstones) apply AFTER the
    // df aggregation: blocked docs stop ranking immediately, the corpus
    // statistics drift until compact() folds them (see [[delete]])
    val slice = Tombstones.exclude(spark, n, "doc_id",
      excludeId.fold(slice0)(id => slice0.filter(col("doc_id") =!= id))
        .filter(payloadFilter))
    val stats = spark.table(n.stats)
    slice.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot").cast("double") / col("n"))
      .withColumn("idf",
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("denom",
        col("tf") + lit(1.25) * (lit(0.25)
          + lit(0.75) * col("dl").cast("double") / col("avgdl")))
      .withColumn("score_u",
        floor(col("idf") * (col("tf") * lit(2.25)) / col("denom")
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("score_u")).as("score_u"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(limit)
  }
}
