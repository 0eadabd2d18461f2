package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** [[TextIndex]] — the persisted BM25 serving layout: index-served
  * ranking must equal the corpus-scan computation bit-for-bit, the
  * driver-side bucket function must match the Spark-side one (it IS the
  * query-time pruning literal), and excludeId must drop a doc from
  * ranking without perturbing anyone else's score.
  */
class TextIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("join", "vector", "stream")

  /** Every index the suite builds; the last test drops them all. */
  private val built = scala.collection.mutable.LinkedHashSet.empty[TextIndex.Names]
  private def track(n: TextIndex.Names): TextIndex.Names = { built += n; n }

  private lazy val names: TextIndex.Names = {
    val n = track(TextIndex.names("titest", "spec"))
    TextIndex.build(Tables.documents(spark, sf), "doc_id", "text", n)
    n
  }

  /** The corpus-scan BM25 twin (text_bm25's exact expression tree),
    * with the per-doc matched-term count.
    */
  private def corpusBm25(limit: Int) = {
    val docs = Tables.documents(spark, sf)
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val qt = tok.filter(col("term").isin(terms: _*))
    val tf = qt.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = qt.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfq), "term")
      .join(dl, "doc_id")
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
      .agg(sum(col("score_u")).as("score_u"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(limit)
  }

  test("driver-side bucketOf matches the Spark-side bucketCol on the whole vocabulary") {
    val buckets = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("term")).distinct()
      .select(col("term"), TextIndex.bucketCol(col("term")).as("b"))
      .collect()
    assert(buckets.nonEmpty)
    buckets.foreach { r =>
      val t = r.getString(0)
      assert(TextIndex.bucketOf(t) === r.getLong(1), s"term '$t'")
    }
  }

  test("index-served BM25 equals the corpus-scan ranking bit-for-bit") {
    val served = TextIndex.bm25(spark, names, terms, limit = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val scan = corpusBm25(25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === scan)
    assert(served.nonEmpty)
  }

  test("query-time df from the pruned slice equals the corpus df") {
    val fromIndex = spark.table(names.postings)
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromCorpus = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromIndex === fromCorpus)
    assert(fromIndex.keySet === terms.toSet)
  }

  test("excludeId drops the doc from ranking without changing any other score") {
    val full = TextIndex.bm25(spark, names, terms, limit = 1000)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val victim = full.keys.min
    val excl = TextIndex.bm25(spark, names, terms, limit = 1000,
        excludeId = Some(victim))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!excl.contains(victim))
    assert(excl === (full - victim))
  }

  test("appendBatch-grown index is byte-identical to a from-scratch build (exact growth)") {
    val docs = Tables.documents(spark, sf)
    val n2 = track(TextIndex.names("titest_inc", "spec"))
    TextIndex.build(docs.filter(col("doc_id") < 25), "doc_id", "text", n2)
    TextIndex.appendBatch(spark, n2,
      docs.filter(col("doc_id") >= 25), "doc_id", "text")
    def posting(nm: TextIndex.Names) = spark.table(nm.postings)
      .collect().map(r => (r.getAs[Long]("bucket"), r.getAs[String]("term"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("tf"), r.getAs[Long]("dl"),
        r.getAs[String]("pos_list")))
      .toSet
    assert(posting(n2) === posting(names))
    val (sGrown, sFull) = (spark.table(n2.stats).collect().head,
      spark.table(names.stats).collect().head)
    assert((sGrown.getLong(0), sGrown.getLong(1)) ===
      (sFull.getLong(0), sFull.getLong(1)))
    // and the serving output is therefore identical too
    assert(TextIndex.bm25(spark, n2, terms, 25).collect().toSeq ===
      TextIndex.bm25(spark, names, terms, 25).collect().toSeq)
  }

  test("compact folds tombstones: serving equals a fresh build on the filtered corpus") {
    val docs = Tables.documents(spark, sf)
    val n4 = track(TextIndex.names("titest_cmp", "spec"))
    TextIndex.build(docs, "doc_id", "text", n4)
    val takedown = docs.filter(col("doc_id") % 10 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, n4, takedown)
    TextIndex.compact(spark, n4)
    assert(!spark.catalog.tableExists(TextIndex.tombstoneTable(n4)))
    val fresh = track(TextIndex.names("titest_cmpf", "spec"))
    TextIndex.build(docs.filter(col("doc_id") % 10 =!= 3),
      "doc_id", "text", fresh)
    assert(TextIndex.bm25(spark, n4, terms, 1000).collect().toSeq ===
      TextIndex.bm25(spark, fresh, terms, 1000).collect().toSeq)
    val (sc, sf2) = (spark.table(n4.stats).collect().head,
      spark.table(fresh.stats).collect().head)
    assert((sc.getLong(0), sc.getLong(1)) === (sf2.getLong(0), sf2.getLong(1)))
  }

  test("compacting an entirely-deleted index drops every bucket and zeroes the stats") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10)
    val n5 = track(TextIndex.names("titest_all", "spec"))
    TextIndex.build(docs, "doc_id", "text", n5)
    TextIndex.delete(spark, n5,
      docs.select("doc_id").collect().map(_.getLong(0)).toSeq)
    TextIndex.compact(spark, n5)
    assert(spark.table(n5.postings).count() === 0L)
    val st = spark.table(n5.stats).collect().head
    assert((st.getLong(0), st.getLong(1)) === (0L, 0L))
    assert(TextIndex.bm25(spark, n5, terms, 10).count() === 0L)
  }

  test("index-served phrase search equals the corpus-scan matcher, and respects tombstones") {
    val docs = Tables.documents(spark, sf)
    val fromIndex = TextIndex.phrase(spark, names, Seq("table", "part"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromCorpus = Postings
      .phraseMatches(docs, "doc_id", "text", Seq("table", "part"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSet
    assert(fromIndex === fromCorpus)
    assert(fromIndex.nonEmpty)
    // a tombstoned doc's matches vanish from the served results
    val n6 = track(TextIndex.names("titest_ph", "spec"))
    TextIndex.build(docs, "doc_id", "text", n6)
    val victim = fromIndex.map(_._1).min
    TextIndex.delete(spark, n6, Seq(victim))
    val after = TextIndex.phrase(spark, n6, Seq("table", "part"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === fromCorpus.filterNot(_._1 == victim))
  }

  test("an empty appendBatch (the no-new-docs night) leaves the index and stats untouched") {
    val docs = Tables.documents(spark, sf)
    val n7 = track(TextIndex.names("titest_emp", "spec"))
    TextIndex.build(docs, "doc_id", "text", n7)
    val before = (spark.table(n7.postings).count(),
      spark.table(n7.stats).collect().head.toSeq)
    TextIndex.appendBatch(spark, n7,
      docs.filter(col("doc_id") < 0), "doc_id", "text")
    val after = (spark.table(n7.postings).count(),
      spark.table(n7.stats).collect().head.toSeq)
    // the stats fold must add exactly 0 — a null SUM here would poison
    // n/tot and silently break every later BM25 normalization
    assert(after === before)
    assert(TextIndex.bm25(spark, n7, terms, 25).collect().toSeq ===
      TextIndex.bm25(spark, names, terms, 25).collect().toSeq)
  }

  test("bm25 normalizes query-term case to the indexed (lowercased) form") {
    val mixed = TextIndex.bm25(spark, names, Seq("Join", "VECTOR", "Stream"),
      limit = 25).collect().toSeq
    val lower = TextIndex.bm25(spark, names, terms, limit = 25)
      .collect().toSeq
    assert(mixed === lower)
    assert(mixed.nonEmpty)
  }

  test("rebuilding under a name that previously deleted drops the stale tombstones") {
    val docs = Tables.documents(spark, sf)
    val n8 = track(TextIndex.names("titest_reb", "spec"))
    TextIndex.build(docs, "doc_id", "text", n8)
    val victims = TextIndex.bm25(spark, n8, terms, 5)
      .collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, n8, victims)
    // the rebuild re-indexes everything — the old index's tombstones
    // must not survive to silently exclude the re-indexed docs
    TextIndex.build(docs, "doc_id", "text", n8)
    assert(!spark.catalog.tableExists(TextIndex.tombstoneTable(n8)))
    assert(TextIndex.bm25(spark, n8, terms, 25).collect().toSeq ===
      TextIndex.bm25(spark, names, terms, 25).collect().toSeq)
  }

  test("payload-filtered bm25 gates ranking only: kept docs keep their unfiltered scores") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), (col("doc_id") % 7).as("label"))
    val n9 = track(TextIndex.names("titest_pay", "spec"))
    TextIndex.build(docs.filter(col("doc_id") < 25), "doc_id", "text", n9,
      payloadCols = Seq("label"))
    // a payload-built index grows like a bare one — the batch carries
    // the payload column and appendBatch denormalizes it
    TextIndex.appendBatch(spark, n9,
      docs.filter(col("doc_id") >= 25), "doc_id", "text")
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = byId(TextIndex.bm25(spark, n9, terms, 1000))
    // payload build + growth never perturb the unfiltered ranking
    assert(full === byId(TextIndex.bm25(spark, names, terms, 1000)))
    val filt = byId(TextIndex.bm25(spark, n9, terms, 1000,
      payloadFilter = col("label") <= 3))
    // exactly the predicate's docs survive, each with its UNFILTERED
    // score — df and corpus stats stay corpus-wide (ranking exclusion,
    // the excludeId/tombstone contract)
    assert(filt === full.filter { case (id, _) => id % 7 <= 3 })
    assert(filt.nonEmpty && filt.size < full.size)
  }

  test("term-clustered buckets SKIP row groups: a term's scan cost is O(df), not O(bucket)") {
    // The LayoutSpec z-order methodology applied to the serving layout:
    // the same posting rows written term-clustered (the build layout)
    // vs doc-clustered (term-scattered — the pre-clustering layout's
    // effective order), row groups forced small so each bucket file
    // holds many min/max envelopes, then ONE term's pruned query
    // measured on the scan's own numOutputRows — rows the parquet
    // reader actually surfaced after row-group/page pruning.
    // tiny row groups + no dictionary, scoped to THESE writes via
    // per-write options (never a mutation of the shared hadoop config
    // — a concurrent suite's writes must not inherit the layout)
    val tinyGroups = Map(
      "parquet.block.size" -> "8192",
      "parquet.enable.dictionary" -> "false")
    locally {
      // 8192 docs × 16 terms over a 2048-term vocabulary → each bucket
      // holds ~4096 postings of ~64 distinct terms; each term appears
      // in exactly 64 docs (df = 64 ≈ 1.6% of its bucket)
      val docs = spark.range(8192).select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(0, 15), " +
          "j -> concat('term', lpad(cast((id * 16 + j) % 2048 as string), 4, '0'))), ' ')")
          .as("text"))
      val source = track(TextIndex.names("tiskip_s", "spec"))
      TextIndex.build(docs, "doc_id", "text", source)
      val postCols = Seq("term", "doc_id", "tf", "dl", "pos_list", "bucket")
      // rewrite the SAME rows into both layouts with the tiny-row-group
      // writer options: term-clustered (the build's sort) vs
      // doc-clustered (term-scattered — the pre-clustering layout's
      // effective order)
      val clustered = track(TextIndex.Names("tiskip_c_post", source.stats))
      val scatteredT = track(TextIndex.Names("tiskip_u_post", source.stats))
      graft.sources.Warehouse.writePartitioned(
        spark.table(source.postings).select(postCols.map(col): _*),
        clustered.postings, "bucket", sortCols = Seq("term", "doc_id"),
        writerOptions = tinyGroups)
      graft.sources.Warehouse.writePartitioned(
        spark.table(source.postings).select(postCols.map(col): _*),
        scatteredT.postings, "bucket", sortCols = Seq("doc_id"),
        writerOptions = tinyGroups)
      def surfaced(table: String): Long = {
        val t = "term0042"
        val df = spark.table(table)
          .filter(col("bucket") === TextIndex.bucketOf(t) && col("term") === t)
        df.collect()
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
        assert(scans.head.metadata("PushedFilters").contains("EqualTo(term,"),
          scans.head.metadata("PushedFilters"))
        scans.map(_.metrics("numOutputRows").value).sum
      }
      val scattered = surfaced(scatteredT.postings)
      val sorted = surfaced(clustered.postings)
      // scattered: the term is in every row group → the whole ~4096-row
      // bucket surfaces; clustered: only the row groups holding the
      // term's 64 postings survive the pushed min/max check
      assert(scattered >= 3000L,
        s"doc-clustered layout unexpectedly skipped: $scattered")
      assert(sorted * 4 <= scattered,
        s"term-clustered read $sorted rows vs doc-clustered $scattered")
    }
  }

  test("stats table carries the corpus doc/token volume") {
    val st = spark.table(names.stats).collect().head
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    assert(st.getLong(0) === tok.select("doc_id").distinct().count())
    assert(st.getLong(1) === tok.count())
  }

  test("the suite drops every index it built: no titest_* or tiskip_* table remains") {
    built.foreach(Tombstones.drop(spark, _))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("titest_") || t.startsWith("tiskip_"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
