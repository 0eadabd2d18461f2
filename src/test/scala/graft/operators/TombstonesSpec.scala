package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Tombstones]] — the one delete lifecycle of the flat, quantized and
  * text indexes, driven through each layout's public faces by one
  * table-driven case.
  */
class TombstonesSpec extends SparkSpec {

  /** 200 deterministic 64-dim float vectors. */
  private def emb = spark.range(200).select(col("id").as("vec_id"),
    array((0 until 64).map(j => sin(col("id") * (j + 1) * 0.37 + j).cast("float")): _*)
      .as("embedding"))
  /** 60 docs; three of every four hold a query term. */
  private def docs = spark.range(60).select(col("id").as("doc_id"),
    element_at(array(lit("join the stream"), lit("vector join"),
      lit("a stream of vector data"), lit("nothing here")),
      (col("id") % 4 + 1).cast("int")).as("text"))

  /** One layout's public lifecycle faces over a source corpus. */
  private case class Layout(label: String, n: Tombstones.Index, idCol: String,
      source: DataFrame, build: () => Unit, append: DataFrame => Unit,
      delete: Seq[Long] => Unit, deleteDf: DataFrame => Unit,
      served: () => Set[Long])

  private def layouts: Seq[Layout] = {
    val fl = IvfIndex.names("tombspec", "flat")
    val pq = IvfIndex.pqNames("tombspec", "pq")
    val tx = TextIndex.names("tombspec", "text")
    // every cell probed and k above the corpus: a search serves every
    // live row but the query
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    def ivf(label: String, n: IvfIndex.Layout) =
      Layout(label, n, "vec_id", emb,
        () => IvfIndex.build(emb, "vec_id", "embedding", n, k = 8),
        IvfIndex.appendBatch(spark, n, _, "vec_id", "embedding"),
        IvfIndex.delete(spark, n, "vec_id", _: Seq[Long]),
        IvfIndex.delete(spark, n, "vec_id", _: DataFrame),
        () => ids(IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
          k = 10000, nprobe = 8, queryFrom = Some(emb))))
    Seq(ivf("flat", fl), ivf("pq", pq),
      Layout("text", tx, "doc_id", docs,
        () => TextIndex.build(docs, "doc_id", "text", tx),
        TextIndex.appendBatch(spark, tx, _, "doc_id", "text"),
        TextIndex.delete(spark, tx, _: Seq[Long]),
        TextIndex.delete(spark, tx, _: DataFrame),
        () => ids(TextIndex.bm25(spark, tx, Seq("join", "vector", "stream"), 10000))))
  }

  test("delete, re-ingest and a repeated delete act alike on the flat, PQ and text layouts") {
    layouts.foreach { l =>
      def tomb = spark.table(Tombstones.table(l.n)).collect().map(_.getLong(0)).toSeq
      try {
        l.build()
        val before = l.served()
        val Array(a, b) = before.toArray.sorted.take(2)
        l.delete(Seq(a, b))
        assert(l.served() === before -- Set(a, b), l.label)
        // re-ingesting a clears its tombstone; b stays taken down
        l.append(l.source.filter(col(l.idCol) === a))
        assert(tomb === Seq(b), l.label)
        assert(l.served() === before - b, l.label)
        // b again, through the DataFrame face: still one tombstone row
        l.deleteDf(l.source.filter(col(l.idCol) === b).select(l.idCol))
        assert(tomb === Seq(b), l.label)
        assert(l.served() === before - b, l.label)
      } finally Tombstones.drop(spark, l.n)
    }
  }
}
