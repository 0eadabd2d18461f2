package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Persisted IVF index: build/search equivalence with the inline path,
  * retrain-free append, and the retrain-free + partition-pruned SEARCH
  * PLAN the layout exists for.
  */
class IvfIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.Tables.embeddings(spark, sf)

  /** Every index the suite builds; the last test drops them all. */
  private val built = scala.collection.mutable.LinkedHashSet.empty[IvfIndex.Layout]
  private def track[N <: IvfIndex.Layout](n: N): N = { built += n; n }
  private def flat(fp: String) = track(IvfIndex.names("ivxspec", fp))
  private def pq(fp: String) = track(IvfIndex.pqNames("ivxspec_pq", fp))
  /** Both layouts, under names no other test uses. */
  private def layouts(fp: String): Seq[IvfIndex.Layout] = Seq(flat(fp), pq(fp))
  private def label(n: IvfIndex.Layout) = n.getClass.getSimpleName
  private def top(n: IvfIndex.Layout, k: Int = 10, nprobe: Int = 2,
      from: Option[org.apache.spark.sql.DataFrame] = Some(emb)): Seq[Long] =
    IvfIndex.search(spark, n, "vec_id", "embedding", 0L, k = k, nprobe = nprobe,
      queryFrom = from).select("vec_id").collect().map(_.getLong(0)).toSeq

  private lazy val builtNames = {
    val n = flat("t1")
    IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
    n
  }

  test("persisted search ≡ the inline Ivf.search on the same model (bit-identical ranking)") {
    val n = builtNames
    val persisted = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSeq
    val cents = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val inline = Ivf.search(emb, "vec_id", "embedding", cents, 0L,
      k = 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(persisted === inline)
  }

  test("centroids round-trip parquet bit-exactly") {
    val n = builtNames
    val loaded = IvfIndex.loadCentroids(spark, n)
    val trained = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(loaded.length === trained.length)
    loaded.zip(trained).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
  }

  test("appendBatch grows the postings with the OLD model's assignment — no retrain") {
    val n = flat("t2")
    val old = emb.filter(col("vec_id") < 250)
    IvfIndex.build(old, "vec_id", "embedding", n, k = 8)
    IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") >= 250),
      "vec_id", "embedding")
    val stored = spark.table(n.postings)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // expected: every vector of the FULL corpus assigned to the
    // old-trained centroids (the stale-model semantics)
    val staleModel = Ivf.train(old, "vec_id", "embedding", k = 8, iters = 2)
    val expect = Ivf.assign(emb, "embedding", staleModel)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored === expect)
  }

  test("searchBatch ≡ per-query search over the same index (one pass, same answers)") {
    val n = builtNames
    val batch = IvfIndex.searchBatch(spark, n, "vec_id", "embedding",
      Seq(0L, 1L, 2L), k = 5, nprobe = 2)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val singles = Seq(0L, 1L, 2L).flatMap { qid =>
      IvfIndex.search(spark, n, "vec_id", "embedding", qid, k = 5, nprobe = 2)
        .select("vec_id").collect().map(r => qid -> r.getLong(0))
    }.toSet
    assert(batch === singles)
  }

  test("streamed index serving ≡ one batch search (micro-batch boundaries invisible)") {
    val n = builtNames
    val queries = emb.filter(col("vec_id") < 5)
    val streamed = graft.streaming.EventStream
      .drainIndexSearch(spark, n, queries, "vec_id", "embedding",
        k = 3, nprobe = 2, nFiles = 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = IvfIndex.searchBatch(spark, n, "vec_id", "embedding",
      Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 2, queryFrom = Some(emb))
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("recall@10 is monotone in nprobe (probe sets are nested)") {
    val n = builtNames
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = qids.flatMap { qid =>
      Similarity.topKBruteForce(emb, "vec_id", "embedding", qid, 10)
        .collect().map(r => qid -> r.getLong(0))
    }.toSet
    val hits = (1 to 3).map { np =>
      IvfIndex.searchBatch(spark, n, "vec_id", "embedding", qids,
        k = 10, nprobe = np, queryFrom = Some(emb))
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .count(exact.contains)
    }
    assert(hits.sliding(2).forall(p => p.head <= p.last), hits)
  }

  test("searchBatch returns the search contract columns — no internal rank column") {
    val n = builtNames
    val out = IvfIndex.searchBatch(spark, n, "vec_id", "embedding",
      Seq(0L), k = 3, nprobe = 2)
    assert(out.columns.toSeq === Seq("qid", "vec_id", "centroid_id", "score"))
  }

  test("appendBatch grows a payload-built index — payload columns ride the append") {
    val n = flat("t3")
    val old = emb.filter(col("vec_id") < 250)
    IvfIndex.build(old, "vec_id", "embedding", n, k = 8,
      payloadCols = Seq("label"))
    IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") >= 250),
      "vec_id", "embedding")
    // every corpus row is in the postings WITH its payload intact
    val stored = spark.table(n.postings).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored === expect)
    // and filtered search spans the appended rows through the payload
    val hits = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2, queryFrom = Some(emb),
      payloadFilter = col("label") <= 3)
      .join(emb.select("vec_id", "label"), "vec_id")
      .collect()
    hits.foreach(r => assert(r.getAs[Int]("label") <= 3))
  }

  test("appendBatch rejects a batch missing the index's columns (clear error, no mangled append)") {
    val n = flat("t4")
    IvfIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding", n,
      k = 8, payloadCols = Seq("label"))
    val bare = emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.appendBatch(spark, n, bare, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("label"))
  }

  test("quantized searchPq ≡ inline Pq.searchIvfPq on the same models (bit-identical ranking)") {
    val n = pq("t5")
    IvfIndex.build(emb, "vec_id", "embedding", n, k = 8, m = 4, pqK = 4)
    val persisted = top(n)
    val coarse = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val books = Pq.train(emb, "vec_id", "embedding", dim = 64, m = 4, k = 4, iters = 2)
    val inline = Pq.searchIvfPq(emb, "vec_id", "embedding", coarse, books,
      0L, k = 10, nprobe = 2, poolFactor = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(persisted === inline)
    // codebooks round-trip parquet bit-exactly
    val loaded = IvfIndex.loadCodebooks(spark, n)
    assert(loaded.length === books.length)
    loaded.zip(books).foreach { case (ls, bs) =>
      ls.zip(bs).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    }
    // the postings carry CODES only — no vector column in the quantized layout
    val cols = spark.table(n.postings).columns.toSeq
    assert(cols === Seq("vec_id", "code0", "code1", "code2", "code3", "centroid_id"))
  }

  test("searchBatchPq ≡ per-query searchPq over the same quantized index") {
    val n = pq("t19")
    IvfIndex.build(emb, "vec_id", "embedding", n, k = 8, m = 4, pqK = 4)
    val qids = Seq(0L, 1L, 2L)
    val batch = IvfIndex.searchBatch(spark, n, "vec_id", "embedding",
      qids, k = 5, nprobe = 2, queryFrom = Some(emb))
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val singles = qids.flatMap { qid =>
      IvfIndex.search(spark, n, "vec_id", "embedding", qid,
        k = 5, nprobe = 2, queryFrom = Some(emb))
        .select("vec_id").collect().map(r => qid -> r.getLong(0))
    }.toSet
    assert(batch === singles)
  }

  test("delete tombstones a ranking hit: search backfills, never resurrects") {
    val n = flat("t6")
    IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
    val before = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSeq
    val victim = before.head
    IvfIndex.delete(spark, n, "vec_id", Seq(victim))
    val after = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(!after.contains(victim))
    assert(after.size === 10, "top-10 backfills from live rows")
    // batch + stats exclude it too
    val batch = IvfIndex.searchBatch(spark, n, "vec_id", "embedding",
      Seq(0L), k = 10, nprobe = 2).select("vec_id").collect().map(_.getLong(0))
    assert(!batch.contains(victim))
    assert(IvfIndex.stats(spark, n, "vec_id").collect().map(_.getLong(1)).sum
      === emb.count() - 1)
    // post-delete search plan: still partition-pruned, still aggregate-free
    val p = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2).queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && p.contains("PartitionFilters"), p)
  }

  test("re-ingest clears the id's tombstone: its taken-down row serves again") {
    val n = flat("t7")
    IvfIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding", n, k = 8)
    IvfIndex.delete(spark, n, "vec_id", Seq(7L, 9L))
    // 7 comes back in a new batch; 9 stays tombstoned
    IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") === 7),
      "vec_id", "embedding")
    val live = IvfIndex.stats(spark, n, "vec_id")
      .collect().map(_.getLong(1)).sum
    // 250 rows built - 2 deleted + 1 re-ingested duplicate of id 7, and
    // id 7's BOTH physical rows are live again: tombstones are keyed by
    // id, so clearing one unblocks the taken-down row too (compact
    // before re-ingesting a taken-down id)
    val sevens = spark.table(n.postings).filter(col("vec_id") === 7).count()
    assert(sevens === 2)
    assert(live === 250 - 2 + 2)
    val hits = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 250, nprobe = 8).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(7L) && !hits.contains(9L))
  }

  test("compact folds tombstones into the layout: affected partitions rewritten, emptied cells dropped") {
    layouts("t8").foreach { n =>
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
      // empty one whole cell + delete one row of another
      val byCell = spark.table(n.postings).select("vec_id", "centroid_id")
        .collect().groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSeq).toMap
      // keep the query vector (vec_id 0) out of the emptied cell and the
      // single-row delete — deleting the query itself is a different test
      val (emptyCell, emptyIds) = byCell.filterNot(_._2.contains(0L)).minBy(_._2.size)
      val otherCell = byCell.keys.filter(_ != emptyCell).head
      val oneId = byCell(otherCell).filter(_ != 0L).head
      IvfIndex.delete(spark, n, "vec_id", emptyIds :+ oneId)
      // the flat layout reads the query vector off its own postings
      val from = if (n.isInstanceOf[IvfIndex.Names]) None else Some(emb)
      val preCompact = top(n, nprobe = 8, from = from)
      IvfIndex.compact(spark, n, "vec_id")
      // tombstone table gone, physical rows gone, emptied partition dropped
      assert(!spark.catalog.tableExists(IvfIndex.tombstoneTable(n)), label(n))
      assert(spark.table(n.postings).count() === emb.count() - emptyIds.size - 1, label(n))
      assert(spark.table(n.postings)
        .filter(col("centroid_id") === emptyCell).count() === 0, label(n))
      // reads are identical before and after the physical fold
      assert(top(n, nprobe = 8, from = from) === preCompact, label(n))
    }
  }

  test("rebuild acts on the health signal: retrain on live rows, tombstones folded, decision clears") {
    val live = emb.filter(col("vec_id") % 10 =!= 3)
    layouts("t12").zip(layouts("t13")).foreach { case (n, n2) =>
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
      val takedown = emb.filter(col("vec_id") % 10 === 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      IvfIndex.delete(spark, n, "vec_id", takedown)
      assert(IvfIndex.health(spark, n, "vec_id")
        .collect().head.getAs[Boolean]("rebuild_due"), label(n))
      IvfIndex.rebuild(spark, n, "vec_id", "embedding", source = Some(emb))
      val h = IvfIndex.health(spark, n, "vec_id").collect().head
      assert(h.getAs[Long]("n_tombstones") === 0L, label(n))
      assert(h.getAs[Long]("tomb_pct") === 0L, label(n))
      assert(!spark.catalog.tableExists(IvfIndex.tombstoneTable(n)), label(n))
      // the rebuilt index ≡ a fresh build on the live slice, search-for-search
      IvfIndex.build(live, "vec_id", "embedding", n2,
        k = Ivf.cellsFor(live.count()))
      assert(top(n) === top(n2), label(n))
      // and the takedowns are physically gone, not just filtered
      assert(spark.table(n.postings)
        .filter(col("vec_id") % 10 === 3).count() === 0L, label(n))
    }
  }

  test("health turns stats into the rebuild decision (integer-exact)") {
    val n = flat("t9")
    IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
    val clean = IvfIndex.health(spark, n, "vec_id").collect().head
    assert(clean.getAs[Long]("n_tombstones") === 0L)
    assert(clean.getAs[Long]("tomb_pct") === 0L)
    // delete 10% → tombstone share trips the rebuild signal
    val ids = emb.filter(col("vec_id") % 10 === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfIndex.delete(spark, n, "vec_id", ids)
    val dirty = IvfIndex.health(spark, n, "vec_id").collect().head
    assert(dirty.getAs[Long]("n_tombstones") === ids.size.toLong)
    assert(dirty.getAs[Long]("tomb_pct") >= 10L)
    assert(dirty.getAs[Boolean]("rebuild_due"))
    assert(dirty.getAs[Long]("n_live") === emb.count() - ids.size)
  }

  test("lifecycle parity on both layouts: append grows retrain-free ≡ the inline stale model; delete excludes from search") {
    val old = emb.filter(col("vec_id") < 250)
    layouts("t10").foreach { n =>
      IvfIndex.build(old, "vec_id", "embedding", n, k = 8)
      IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding")
      // grown index ≡ the inline stale composition: models trained on
      // the OLD slice, searched over the full corpus
      val persisted = top(n)
      val coarse = Ivf.train(old, "vec_id", "embedding", k = 8, iters = 2)
      val inline = (n match {
        case _: IvfIndex.Names =>
          Ivf.search(emb, "vec_id", "embedding", coarse, 0L, k = 10, nprobe = 2)
        case _: IvfIndex.PqNames =>
          Pq.searchIvfPq(emb, "vec_id", "embedding", coarse,
            Pq.train(old, "vec_id", "embedding", dim = 64, m = 4, k = 4, iters = 2),
            0L, k = 10, nprobe = 2, poolFactor = IvfIndex.PoolFactor)
      }).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(persisted === inline, label(n))
      // a tombstoned id never resurfaces; the top-k backfills
      val victim = persisted.head
      IvfIndex.delete(spark, n, "vec_id", Seq(victim))
      val after = top(n)
      assert(!after.contains(victim), label(n))
      assert(after.size === 10, label(n))
    }
  }

  test("rebuild carries payload columns through the retrain (filtered index rebuilds intact)") {
    val expect = emb.filter(!col("vec_id").isin(3L, 13L, 23L))
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    layouts("t17").foreach { n =>
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8,
        payloadCols = Seq("label"))
      IvfIndex.delete(spark, n, "vec_id", Seq(3L, 13L, 23L))
      IvfIndex.rebuild(spark, n, "vec_id", "embedding", source = Some(emb))
      val stored = spark.table(n.postings).select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(stored === expect, label(n))
    }
  }

  test("rebuild is idempotent: a second rebuild on the already-rebuilt index is a no-op") {
    layouts("t18").foreach { n =>
      IvfIndex.build(emb, "vec_id", "embedding", n, k = 8)
      IvfIndex.delete(spark, n, "vec_id", Seq(3L, 13L, 23L, 33L, 43L))
      IvfIndex.rebuild(spark, n, "vec_id", "embedding", source = Some(emb))
      def postings = spark.table(n.postings).orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
      val once = postings
      // the partial-run recovery story (the completion-marker wrappers):
      // re-running the rebuild must converge to the same deterministic
      // models and rows — live set unchanged, same seeds, same Lloyd
      IvfIndex.rebuild(spark, n, "vec_id", "embedding", source = Some(emb))
      assert(postings === once, label(n))
    }
  }

  test("rebuild of a fully-tombstoned index refuses loudly (drop decision, not an empty retrain)") {
    val slice = emb.filter(col("vec_id") < 64)
    layouts("t14").foreach { n =>
      IvfIndex.build(slice, "vec_id", "embedding", n, k = 8)
      IvfIndex.delete(spark, n, "vec_id",
        slice.select("vec_id").collect().map(_.getLong(0)).toSeq)
      // retraining on zero rows would write an empty model that health
      // then reports healthy — the guard must throw instead
      val e = intercept[IllegalArgumentException] {
        IvfIndex.rebuild(spark, n, "vec_id", "embedding", source = Some(emb))
      }
      assert(e.getMessage.contains("zero live rows"), e.getMessage)
    }
  }

  test("streamed serving of an EMPTY query stream returns the contract schema, not path-not-found") {
    val n = builtNames
    val out = graft.streaming.EventStream.drainIndexSearch(
      spark, n, emb.filter(col("vec_id") < 0), "vec_id", "embedding",
      k = 3, nprobe = 2, nFiles = 2)
    assert(out.columns.toSeq === Seq("qid", "vec_id", "centroid_id", "score"))
    assert(out.count() === 0L)
  }

  test("health on a fully-tombstoned index flags rebuild emphatically, never nulls") {
    val n = flat("t20")
    val slice = emb.filter(col("vec_id") < 64)
    IvfIndex.build(slice, "vec_id", "embedding", n, k = 8)
    IvfIndex.delete(spark, n, "vec_id",
      slice.select("vec_id").collect().map(_.getLong(0)).toSeq)
    val h = IvfIndex.health(spark, n, "vec_id").collect().head
    assert(h.getAs[Long]("n_live") === 0L)
    assert(h.getAs[Long]("tomb_pct") === 100L)
    assert(h.getAs[Boolean]("rebuild_due"))
  }

  test("stats reports every cell's posting volume (sums to the corpus)") {
    val n = builtNames
    val rows = IvfIndex.stats(spark, n, "vec_id").collect()
    assert(rows.map(_.getLong(1)).sum === emb.count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "min_id must not exceed max_id")
    }
  }

  test("search plan is retrain-free and partition-pruned (the index's reason to exist)") {
    val n = builtNames
    val p = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2).queryExecution.executedPlan.toString
    // zero Lloyd rounds / zero aggregates anywhere in the search plan
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    // distributed top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the probe reaches the scan as a PARTITION filter on centroid_id —
    // unprobed cells' files are never opened
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("centroid_id"), p)
  }

  test("the suite drops every index it built: no ivxspec_* table remains") {
    built.foreach(Tombstones.drop(spark, _))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("ivxspec_"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
