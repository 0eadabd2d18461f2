package graft.cache

import graft.SparkSpec

/** LRU + TTL semantics (reference cache.py:48-126, quirks fixed). */
class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def df(n: Int) = (1 to n).toDF("x")

  test("getOrElse memoizes: second probe is a hit, no recompute") {
    val cache = new ResultCache(maxSize = 4)
    var computes = 0
    def run = { computes += 1; df(3) }
    val a = cache.getOrElse("t", Seq("k" -> "1"))(run)
    val b = cache.getOrElse("t", Seq("k" -> "1"))(run)
    assert(a === b && computes === 1)
    assert(cache.hits.get() === 1 && cache.misses.get() === 1)
  }

  test("key is the full normalized param tuple (order-insensitive)") {
    val cache = new ResultCache(maxSize = 4)
    cache.getOrElse("t", Seq("a" -> "1", "b" -> "2"))(df(1))
    assert(cache.get("t", Seq("b" -> "2", "a" -> "1")).isDefined)
    assert(cache.get("t", Seq("a" -> "1", "b" -> "3")).isEmpty)
    assert(cache.get("u", Seq("a" -> "1", "b" -> "2")).isEmpty) // namespace isolation
  }

  test("keys escape their separators: values holding & = | % never share a key") {
    val cache = new ResultCache(maxSize = 8)
    cache.put("t", Seq("a" -> "1&b=2", "b" -> ""), df(1))
    assert(cache.get("t", Seq("a" -> "1", "b" -> "2&b=")).isEmpty)
    cache.put("t|a=1", Seq("b" -> "2"), df(1))
    assert(cache.get("t", Seq("a" -> "1|b=2")).isEmpty)
    cache.put("t", Seq("a" -> "%26"), df(1))
    assert(cache.get("t", Seq("a" -> "&")).isEmpty)
    // a key without those chars is stored as it always was, so an older
    // checkpoint of it still hits
    val plain = new ResultCache(maxSize = 2)
    plain.put("tweet", Seq("kw" -> "white house|casa", "ht" -> "a,b"), df(1))
    val path = tmpDir("cachekeys") + "/state"
    plain.checkpoint(spark, path)
    assert(plain.checkpointedKeys(spark, path) === Seq("tweet|ht=a,b&kw=white house|casa"))
  }

  test("LRU evicts the least-recently-used entry at capacity") {
    val cache = new ResultCache(maxSize = 2)
    cache.put("t", Seq("k" -> "1"), df(1))
    cache.put("t", Seq("k" -> "2"), df(1))
    cache.get("t", Seq("k" -> "1")) // touch 1 → 2 becomes LRU
    cache.put("t", Seq("k" -> "3"), df(1)) // evicts 2
    assert(cache.get("t", Seq("k" -> "1")).isDefined)
    assert(cache.get("t", Seq("k" -> "2")).isEmpty)
    assert(cache.get("t", Seq("k" -> "3")).isDefined)
  }

  test("TTL expires entries using the injected clock") {
    var now = 1000L
    val cache = new ResultCache(maxSize = 4, ttlSeconds = 10, clock = () => now)
    cache.put("t", Seq("k" -> "1"), df(1))
    now += 5000
    assert(cache.get("t", Seq("k" -> "1")).isDefined)
    now += 6000 // 11s total
    assert(cache.get("t", Seq("k" -> "1")).isEmpty)
  }

  test("checkpoint persists entry metadata to parquet") {
    val cache = new ResultCache(maxSize = 4)
    cache.put("t", Seq("k" -> "1"), df(5))
    val path = tmpDir("cacheckpt") + "/state"
    cache.checkpoint(spark, path)
    val state = spark.read.parquet(path).collect()
    assert(state.length === 1 && state.head.getAs[Long]("n_rows") === 5L)
  }

  test("restore rebuilds payloads: restart serves hits without recompute") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    val cache = new ResultCache(maxSize = 8)
    val rich = spark.createDataFrame(Seq(
      Row(1, java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
        "he said \"hi\" \\ back\\slash", Seq(Row("naïve café — 東京 😀", 0.5), Row(null, -1.25))),
      Row(2, null, null, null),
      Row(3, java.sql.Timestamp.valueOf("1999-12-31 23:59:59"), "", Seq.empty[Row]),
      Row(4, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "tab\tnewline\n{}", Seq(null))
    ).asJava, StructType.fromDDL(
      "id INT, ts TIMESTAMP, note STRING, tags ARRAY<STRUCT<name: STRING, w: DOUBLE>>"))
    // heterogeneous schemas across entries, entries sharing a schema, an
    // empty result, timestamps, nested array<struct>, nulls and escapes
    val put = Seq(
      ("t", Seq("k" -> "1"), df(5)),
      ("u", Seq("q" -> "x"), df(3).select(col("x"), concat(lit("v"), col("x")).as("s"))),
      ("t", Seq("k" -> "empty"), df(3).filter(col("x") > 99)),
      ("t", Seq("k" -> "2"), df(2)),
      ("u", Seq("q" -> "y"), df(2).select(col("x"), lit("q\"\\ü").as("s"))),
      ("r", Seq("k" -> "rich"), rich)
    ).map { case (ns, params, frame) => (ns, params, frame.schema, cache.put(ns, params, frame)) }
    val path = tmpDir("cacherestore") + "/state"
    cache.checkpoint(spark, path)

    // the payload format is Dataset.toJSON's, entry by entry
    val payloads = spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("key") -> r.getSeq[String](r.fieldIndex("payload")).toSeq).toMap
    put.foreach { case (ns, params, schema, rows) =>
      val key = ns + "|" + params.map { case (k, v) => s"$k=$v" }.mkString("&")
      assert(payloads(key) === spark.createDataFrame(rows.asJava, schema).toJSON.collect().toSeq, key)
    }

    val fresh = new ResultCache(maxSize = 8) // "restarted process"
    assert(fresh.restore(spark, path) === put.size)
    var computes = 0
    val rows = fresh.getOrElse("u", Seq("q" -> "x")) { computes += 1; df(1) }
    assert(computes === 0, "restored entry must serve without recompute")
    assert(rows.map(r => (r.getAs[Int]("x"), r.getAs[String]("s"))).sorted
      === Seq((1, "v1"), (2, "v2"), (3, "v3")))
    assert(fresh.get("t", Seq("k" -> "1")).get.map(_.getInt(0)).sorted === Seq(1, 2, 3, 4, 5))
    assert(fresh.get("t", Seq("k" -> "empty")).get.isEmpty)
    put.foreach { case (ns, params, _, original) =>
      assert(fresh.get(ns, params).get === original, s"$ns $params")
    }
    assert(fresh.hits.get() === 3 + put.size && fresh.misses.get() === 0)
  }

  test("restore respects capacity and keeps the newest entries") {
    val cache = new ResultCache(maxSize = 4)
    var now = 1000L
    val stamped = new ResultCache(maxSize = 4, clock = () => { now += 1000; now })
    (1 to 4).foreach(i => stamped.put("t", Seq("k" -> i.toString), df(i)))
    val path = tmpDir("cachecap") + "/state"
    stamped.checkpoint(spark, path)
    val small = new ResultCache(maxSize = 2)
    assert(small.restore(spark, path) === 2)
    // entries restored oldest-first into an LRU map → the 2 newest survive
    assert(small.get("t", Seq("k" -> "3")).isDefined)
    assert(small.get("t", Seq("k" -> "4")).isDefined)
  }

  test("restore keeps the most recently used entries, not the newest inserts") {
    var now = 1000L
    val cache = new ResultCache(maxSize = 4, clock = () => { now += 1000; now })
    Seq("A", "B", "C").foreach(k => cache.put("t", Seq("k" -> k), df(1)))
    cache.get("t", Seq("k" -> "A")) // touch A → B is least recently used
    val path = tmpDir("cachelru") + "/state"
    cache.checkpoint(spark, path)
    assert(cache.checkpointedKeys(spark, path) === Seq("t|k=B", "t|k=C", "t|k=A"))
    val small = new ResultCache(maxSize = 2)
    assert(small.restore(spark, path) === 2)
    assert(small.get("t", Seq("k" -> "A")).isDefined)
    assert(small.get("t", Seq("k" -> "C")).isDefined)
    assert(small.get("t", Seq("k" -> "B")).isEmpty)
  }

  test("put on a present key moves it to most-recent and evicts nothing") {
    val cache = new ResultCache(maxSize = 3)
    Seq("A", "B", "C", "B").foreach(k => cache.put("t", Seq("k" -> k), df(1)))
    assert(cache.size === 3, "re-putting a present key must not evict the LRU head")
    Seq("D", "E").foreach(k => cache.put("t", Seq("k" -> k), df(1))) // evict A, then C
    assert(cache.get("t", Seq("k" -> "B")).isDefined)
    assert(cache.get("t", Seq("k" -> "A")).isEmpty)
    assert(cache.get("t", Seq("k" -> "C")).isEmpty)
  }

  test("concurrent misses on one key compute once; a throw releases the waiter") {
    import java.util.concurrent.{CountDownLatch, Executors}
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val cache = new ResultCache(maxSize = 4)
      val computes = new AtomicInteger()
      /** Two callers miss `k`; the first one's thunk blocks until the
        * second is waiting, then yields `result`.
        */
      def race(k: String)(result: => org.apache.spark.sql.DataFrame) = {
        val entered = new CountDownLatch(1)
        val release = new CountDownLatch(1)
        def run = { computes.incrementAndGet(); entered.countDown(); release.await(); result }
        val missesBefore = cache.misses.get()
        val first = Future(cache.getOrElse("t", Seq("k" -> k))(run))
        entered.await()
        val second = Future(cache.getOrElse("t", Seq("k" -> k))(run))
        while (cache.misses.get() < missesBefore + 2) Thread.sleep(1)
        release.countDown()
        (first, second)
      }

      val (a, b) = race("ok")(df(3))
      val (ra, rb) = (Await.result(a, 30.seconds), Await.result(b, 30.seconds))
      assert(computes.get() === 1)
      assert(ra === rb && ra.map(_.getInt(0)) === Seq(1, 2, 3))

      computes.set(0)
      val (c, d) = race("boom")(throw new IllegalStateException("boom"))
      assert(intercept[IllegalStateException](Await.result(c, 30.seconds)).getMessage === "boom")
      assert(intercept[IllegalStateException](Await.result(d, 30.seconds)).getMessage === "boom")
      assert(computes.get() === 1)
      assert(cache.get("t", Seq("k" -> "boom")).isEmpty, "a failed computation must not be cached")
      assert(cache.getOrElse("t", Seq("k" -> "boom"))(df(2)).size === 2)
    } finally pool.shutdownNow()
  }

  test("checkpoint and restore run as many Spark jobs for 12 entries as for 2") {
    import org.apache.spark.sql.functions.col
    // one schema per entry: serializing per entry or per schema would
    // both show up as a count that grows with the entries
    val jobs = Seq(2, 12).map { n =>
      val cache = new ResultCache(maxSize = 16)
      (1 to n).foreach(i => cache.put("t", Seq("k" -> i.toString), df(i).select(col("x").as(s"c$i"))))
      val path = tmpDir("cachejobs") + "/state"
      val checkpointJobs = jobsDuring(cache.checkpoint(spark, path))
      val fresh = new ResultCache(maxSize = 16)
      val restoreJobs = jobsDuring(assert(fresh.restore(spark, path) === n))
      (checkpointJobs, restoreJobs)
    }
    assert(jobs(0) === jobs(1), "(checkpoint, restore) jobs for 2 entries vs 12")
  }
}
