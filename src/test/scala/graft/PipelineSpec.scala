package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** End-to-end curation pipeline: the individual operators compose into
  * the full training-data flow a user of this engine would actually run —
  * quality gate → near-dup clustering → canonical selection → eval-set
  * decontamination → leakage-free split → sequence packing → shard
  * assignment — with the invariants each handoff must preserve.
  */
class PipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every index the suite builds; the last test drops them all. */
  private val built = scala.collection.mutable.LinkedHashSet.empty[Tombstones.Index]
  private def track[N <: Tombstones.Index](n: N): N = { built += n; n }

  test("gate → cluster → canonical → decontaminate → split → pack → shard composes") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()

    // 1. quality gate: drop too-short docs (the first Gopher-style rule)
    val gated = docs
      .withColumn("n_tokens", size(split(lower(col("text")), " ")).cast("long"))
      .filter(col("n_tokens") >= 5)
      .localCheckpoint()

    // 2. near-dup clustering over LSH star edges (linear in bucket size)
    val sig = Dedup.minhashSignatures(gated, "doc_id", "text", 4).localCheckpoint()
    val labeled = Components.clusters(
      gated, "doc_id", Dedup.lshStarEdges(sig, "doc_id", 4, 2), "id_a", "id_b")
      .localCheckpoint()

    // each gated doc gets exactly one cluster label
    assert(labeled.count() === gated.count())

    // 3. canonical selection: keep the cluster minimum (its own label)
    val kept = gated.join(
      labeled.filter(col("doc_id") === col("cluster_id")).select("doc_id"), "doc_id")
      .localCheckpoint()
    val nClusters = labeled.select("cluster_id").distinct().count()
    assert(kept.count() === nClusters) // exactly one doc per cluster

    // 4. decontamination: canonical docs sharing ≥3 shingles with the
    // stand-in benchmark (doc_id < 10) are dropped
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = kept.filter(col("doc_id") >= 10)
    val dirty = Dedup.contaminated(corpus, bench, "doc_id", "text", minShared = 3)
      .select("doc_id")
    val clean = corpus.join(dirty, Seq("doc_id"), "left_anti").localCheckpoint()
    assert(clean.count() === corpus.count() - dirty.count())

    // 5. leakage-free split keyed by CLUSTER id: near-dup docs of the
    // same cluster can never straddle splits — verify on the original
    // pair list (the property that matters for eval integrity)
    val splitDf = Sampling.splitByGroup(
      clean.join(labeled, "doc_id"), "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .localCheckpoint()
    // the leakage property is checked on the PRE-dedup population (after
    // canonical selection at most one endpoint of a pair survives, which
    // would make the check vacuous): split by cluster id ⇒ both ends of
    // every near-dup pair land in the same split
    val auxSplit = Sampling.splitByGroup(labeled, "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val pairs = Dedup.lshCandidatePairsFromSignatures(sig, "doc_id", 4, 2)
    val straddling = pairs
      .join(auxSplit.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(auxSplit.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    val pairCount = pairs
      .join(auxSplit.select(col("doc_id").as("id_a")), "id_a").count()
    assert(pairCount > 0L, "no pairs to check — the property would be vacuous")
    assert(straddling === 0L, "near-dup pair straddles train/val/test")

    // 6. sequence packing of the train split: bins are contiguous per
    // shard and offsets stay inside the budget
    val train = splitDf.filter(col("split") === "train")
    val packed = Pack.packSequences(train, "doc_id", "n_tokens", 512L, 2)
      .localCheckpoint()
    assert(packed.filter(col("bin_offset") < 0 || col("bin_offset") >= 512).count() === 0L)
    val binGaps = packed.select("shard", "bin").distinct()
      .groupBy("shard").agg(max("bin").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(binGaps === 0L, "bins are not contiguous 0..max within a shard")

    // 7. shard assignment is total and deterministic
    val sharded = packed.withColumn("out_shard", Shards.shardId(col("doc_id"), 4))
    assert(sharded.filter(col("out_shard").isNull || col("out_shard") < 0 || col("out_shard") >= 4).count() === 0L)

    // conservation: every original doc is accounted for exactly once
    val dropped = total - clean.count()
    assert(dropped ===
      (total - gated.count())          // gate drops
        + (gated.count() - nClusters)  // non-canonical dupes
        + kept.filter(col("doc_id") < 10).count() // canonical benchmark rows
        + dirty.count())               // contaminated
  }

  /** Per-partition file listing of a managed table — the byte-stability
    * probe: a partition whose file SET is unchanged was never rewritten.
    */
  private def partFiles(table: String): Map[String, Set[String]] = {
    val uri = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(
        table.toLowerCase(java.util.Locale.ROOT)))
    val root = java.nio.file.Paths.get(uri)
    val out = scala.collection.mutable.Map.empty[String, Set[String]]
    val walk = java.nio.file.Files.walk(root)
    try walk.forEach { f =>
      val name = f.getFileName.toString
      if (java.nio.file.Files.isRegularFile(f) && name.endsWith(".parquet")) {
        val part = f.getParent.getFileName.toString
        out(part) = out.getOrElse(part, Set.empty) + name
      }
    } finally walk.close()
    out.toMap
  }

  test("publish index maintenance is delta-only: unaffected cells/buckets byte-stable") {
    // The pipeline_publish_serving contract at the file level: appends
    // only ADD files, compaction rewrites ONLY partitions holding a
    // tombstoned row — everything else's files never move.
    val emb = Tables.embeddings(spark, sf)
    val vn = track(IvfIndex.names("pubspec_v", "spec"))
    val old = emb.filter(col("vec_id") < 250)
    IvfIndex.build(old, "vec_id", "embedding", vn, k = 8)
    val atBuild = partFiles(vn.postings)
    IvfIndex.appendBatch(spark, vn,
      emb.filter(col("vec_id") >= 250).localCheckpoint(),
      "vec_id", "embedding")
    val atAppend = partFiles(vn.postings)
    atBuild.foreach { case (cell, fs) =>
      assert(fs.subsetOf(atAppend.getOrElse(cell, Set.empty)),
        s"append rewrote files in $cell")
    }
    val takedown = old.filter(col("vec_id") % 10 === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val affectedCells = spark.table(vn.postings)
      .filter(col("vec_id").isin(takedown: _*))
      .select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.get(0)}").toSet
    IvfIndex.delete(spark, vn, "vec_id", takedown)
    IvfIndex.compact(spark, vn, "vec_id")
    val atCompact = partFiles(vn.postings)
    atAppend.keys.filterNot(affectedCells).foreach { cell =>
      assert(atCompact.getOrElse(cell, Set.empty) === atAppend(cell),
        s"compact touched unaffected $cell")
    }
    assert(affectedCells.nonEmpty)

    // text side: same contract on the term buckets
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val tn = track(TextIndex.names("pubspec_t", "spec"))
    TextIndex.build(docs.filter(col("doc_id") < 250), "doc_id", "text", tn)
    val tBuild = partFiles(tn.postings)
    import spark.implicits._
    val gone = docs.filter(col("doc_id") < 250 && col("doc_id") % 50 === 3)
      .select("doc_id")
    val affectedBuckets = spark.table(tn.postings)
      .join(gone, Seq("doc_id"), "left_semi")
      .select("bucket").distinct()
      .collect().map(r => s"bucket=${r.get(0)}").toSet
    TextIndex.delete(spark, tn, gone)
    TextIndex.compact(spark, tn)
    val tCompact = partFiles(tn.postings)
    tBuild.keys.filterNot(affectedBuckets).foreach { b =>
      assert(tCompact.getOrElse(b, Set.empty) === tBuild(b),
        s"compact touched unaffected $b")
    }
    assert(affectedBuckets.nonEmpty && tBuild.keys.exists(!affectedBuckets(_)),
      "fixture must leave at least one bucket unaffected for the check to bite")
    TextIndex.appendBatch(spark, tn,
      docs.filter(col("doc_id") >= 250), "doc_id", "text")
    val tAppend = partFiles(tn.postings)
    tCompact.foreach { case (b, fs) =>
      assert(fs.subsetOf(tAppend.getOrElse(b, Set.empty)),
        s"append rewrote files in $b")
    }
  }

  test("publish PQ maintenance is delta-only: codebooks untouched, appends add-only, compact scoped") {
    // The pipeline_publish_serving_pq contract at the file level: the
    // nightly never retrains either quantizer (centroids + codebooks
    // tables byte-stable), appendBatch only ADDS files, and the
    // takedown compact rewrites ONLY cells holding a tombstoned row.
    val emb = Tables.embeddings(spark, sf)
    val qn = track(IvfIndex.pqNames("pubspec_q", "spec"))
    val old = emb.filter(col("vec_id") < 250)
    IvfIndex.build(old, "vec_id", "embedding", qn, k = 8, m = 4, pqK = 4)
    val centsBuild = partFiles(qn.centroids)
    val booksBuild = partFiles(qn.codebooks)
    val atBuild = partFiles(qn.postings)
    IvfIndex.appendBatch(spark, qn,
      emb.filter(col("vec_id") >= 250).localCheckpoint(),
      "vec_id", "embedding")
    val atAppend = partFiles(qn.postings)
    atBuild.foreach { case (cell, fs) =>
      assert(fs.subsetOf(atAppend.getOrElse(cell, Set.empty)),
        s"appendBatch rewrote files in $cell")
    }
    // sparser fixture takedown than the catalog row's %10: with only 8
    // cells at spec scale a 10% set hits every cell and the
    // unaffected-cell check below can't bite
    val affectedCells = spark.table(qn.postings)
      .filter(col("vec_id") % 50 === 3 && col("vec_id") < 250)
      .select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.get(0)}").toSet
    IvfIndex.delete(spark, qn, "vec_id",
      old.filter(col("vec_id") % 50 === 3).select("vec_id"))
    IvfIndex.compact(spark, qn, "vec_id")
    val atCompact = partFiles(qn.postings)
    atAppend.keys.filterNot(affectedCells).foreach { cell =>
      assert(atCompact.getOrElse(cell, Set.empty) === atAppend(cell),
        s"compact touched unaffected $cell")
    }
    assert(affectedCells.nonEmpty &&
      atAppend.keys.exists(!affectedCells(_)),
      "fixture must leave at least one cell unaffected for the check to bite")
    // zero retrains: both model tables' files never moved all night
    assert(partFiles(qn.centroids) === centsBuild,
      "nightly publish retrained the coarse quantizer")
    assert(partFiles(qn.codebooks) === booksBuild,
      "nightly publish retrained the codebooks")
    // the folded index serves the post-publish corpus exactly
    val served = IvfIndex.search(spark, qn, "vec_id", "embedding", 0L,
      k = 10, nprobe = 2, queryFrom = Some(emb))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(
      old.filter(col("vec_id") % 50 === 3)
        .select("vec_id").collect().map(_.getLong(0)).toSet).isEmpty,
      "a folded takedown id resurfaced from the quantized search")
  }

  test("the suite drops every index it built: no pubspec_* table remains") {
    built.foreach(Tombstones.drop(spark, _))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("pubspec_"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
