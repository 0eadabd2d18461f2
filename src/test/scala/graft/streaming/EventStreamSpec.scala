package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Structured Streaming: file-arrival micro-batches must produce the same
  * windowed aggregates as the batch twin over the same data.
  */
class EventStreamSpec extends SparkSpec {

  private lazy val srcDir: String = {
    val dir = tmpDir("evstream")
    val lines = (0 until 100).map { i =>
      val ts = f"2024-01-01T0${i / 50}%d:${(i * 7) % 60}%02d:00.000Z"
      val et = Seq("view", "click", "error")(i % 3)
      s"""{"event_id": $i, "ts": "$ts", "user_id": ${i % 5}, "event_type": "$et", "value": ${i % 10}.25, "props": "{}"}"""
    }
    Files.write(Paths.get(dir, "batch-0.json"), lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("windowed streaming agg equals the batch twin") {
    val stream = EventStream.readJsonStream(spark, srcDir)
    val agg = EventStream.windowedAgg(stream, "1 hour", "2 hours")
    val q = agg.writeStream
      .format("memory").queryName("winagg")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("winagg")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))

      val batch = spark.read.schema(EventStream.eventSchema).json(srcDir)
      val expected = EventStream.windowedAgg(batch)
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
      assert(got === expected)
      assert(got.map(_._3).sum === 100L)
    } finally q.stop()
  }

  test("session windows group events within the gap per user") {
    val batch = spark.read.schema(EventStream.eventSchema).json(srcDir)
    val sessions = EventStream.sessionCounts(batch, gapMinutes = 60).collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum === 100L)
    assert(sessions.forall(_.getAs[Long]("n_events") > 0))
  }

  test("mapGroupsWithState accumulates per-user counts across micro-batches") {
    val dir = tmpDir("evstate")
    def writeBatch(name: String, ids: Range): Unit =
      Files.write(Paths.get(dir, name), ids.map(i =>
        s"""{"event_id": $i, "ts": "2024-01-01T00:00:0${i % 10 / 10}Z", "user_id": ${i % 3}, "event_type": "view", "value": 1.0, "props": "{}"}""")
        .mkString("\n").getBytes("UTF-8"))
    writeBatch("b0.json", 0 until 30)
    val q = EventStream.runningUserCounts(EventStream.readJsonStream(spark, dir))
      .writeStream.format("memory").queryName("ustate").outputMode("update").start()
    try {
      q.processAllAvailable()
      writeBatch("b1.json", 30 until 60)
      q.processAllAvailable()
      // state carried across batches: 60 events / 3 users = 20 each
      val m = spark.table("ustate")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m === Map(0L -> 20L, 1L -> 20L, 2L -> 20L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses re-deliveries across micro-batches") {
    val dir = tmpDir("evdedup")
    def writeBatch(name: String, ids: Seq[Int]): Unit =
      Files.write(Paths.get(dir, name), ids.map(i =>
        s"""{"event_id": $i, "ts": "2024-01-01T00:${f"${i % 60}%02d"}:00Z", "user_id": ${i % 3}, "event_type": "view", "value": 1.0, "props": "{}"}""")
        .mkString("\n").getBytes("UTF-8"))
    writeBatch("b0.json", Seq(1, 2, 3, 2)) // in-batch duplicate
    val q = EventStream.dedupWithinWatermark(EventStream.readJsonStream(spark, dir))
      .select("event_id")
      .writeStream.format("memory").queryName("evdedup").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeBatch("b1.json", Seq(3, 4, 1)) // cross-batch re-deliveries
      q.processAllAvailable()
      val got = spark.table("evdedup").collect().map(_.getLong(0)).sorted
      assert(got === Seq(1L, 2L, 3L, 4L)) // each id exactly once
    } finally q.stop()
  }

  test("streaming first-touch equals the batch rank-1-by-time twin") {
    // fixture in event-time order: arrival order = event order (the
    // watermark-correct-stream assumption firstTouch documents)
    val dir = tmpDir("evfirsttouch")
    val lines = (0 until 60).map { i =>
      val ts = f"2024-01-01T00:${i % 60}%02d:00Z" // monotone in i
      val et = Seq("view", "click")(i % 2)
      s"""{"event_id": $i, "ts": "$ts", "user_id": ${i % 4}, "event_type": "$et", "value": 1.0, "props": "{}"}"""
    }
    Files.write(Paths.get(dir, "b0.json"), lines.mkString("\n").getBytes("UTF-8"))
    val stream = EventStream.firstTouch(EventStream.readJsonStream(spark, dir))
      .select("user_id", "event_type", "event_id")
    val q = stream.writeStream.format("memory").queryName("evfirst")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("evfirst").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val want = spark.read.schema(EventStream.eventSchema).json(dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      assert(got === want)
    } finally q.stop()
  }

  test("stream-stream interval join pairs views with later purchases") {
    val vDir = tmpDir("evjoinv")
    val pDir = tmpDir("evjoinp")
    def line(id: Int, min: Int, uid: Int, et: String): String =
      s"""{"event_id": $id, "ts": "2024-01-01T00:${f"$min%02d"}:00Z", "user_id": $uid, "event_type": "$et", "value": 1.0, "props": "{}"}"""
    Files.write(Paths.get(vDir, "v.json"), Seq(
      line(1, 0, 7, "view"),    // purchase at +10 → pair
      line(2, 5, 8, "view"),    // purchase at +40 → outside 30 min
      line(3, 20, 9, "view")).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(pDir, "p.json"), Seq(
      line(100, 10, 7, "purchase"),
      line(101, 45, 8, "purchase"),
      line(102, 25, 9, "purchase")).mkString("\n").getBytes("UTF-8"))
    val joined = EventStream.viewToPurchase(
      EventStream.readJsonStream(spark, vDir),
      EventStream.readJsonStream(spark, pDir), maxGapMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("evjoin")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("evjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got === Seq((1L, 100L), (3L, 102L)))
    } finally q.stop()
  }

  test("watermark drops events that arrive after the horizon (append-mode agg)") {
    val dir = tmpDir("evlate")
    def line(id: Int, hhmm: String): String =
      s"""{"event_id": $id, "ts": "2024-01-01T$hhmm:00Z", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"}"""
    // batch 0: events up to 06:00 → watermark advances to 04:00 (2h wm);
    // windows before 04:00 close and emit
    Files.write(Paths.get(dir, "b0.json"),
      Seq(line(1, "00:30"), line(2, "01:30"), line(3, "06:00"))
        .mkString("\n").getBytes("UTF-8"))
    val agg = EventStream.windowedAgg(
      EventStream.readJsonStream(spark, dir), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("evlate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 1: a straggler for the long-closed 00:00 window — must be
      // dropped, not re-opened (bounded state depends on it)
      Files.write(Paths.get(dir, "b1.json"),
        Seq(line(4, "00:45")).mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      val counts = spark.table("evlate")
        .collect()
        .map(r => r.getTimestamp(0).toString.substring(11, 16) -> r.getLong(2)).toMap
      assert(counts.get("00:00") === Some(1L), s"late row must not re-open 00:00: $counts")
      assert(counts.get("01:00") === Some(1L), counts.toString)
    } finally q.stop()
  }

  test("drainLateAudit surfaces late input rows and dropped state groups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ev(id: Long, hhmm: String, et: String) =
      (id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 1L, et, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // on-time: max ts 18:00 → watermark 16:00; only the 12:00 window
    // (end 13:00 < 16:00) finalizes — 18:00's own window stays open
    val onTime = Seq(ev(1, "12:00", "view"), ev(2, "12:30", "view"),
      ev(3, "18:00", "view")).toDF(cols: _*)
    // late: 3 rows in 3 distinct (window, type) groups, all far below W
    val late = Seq(ev(4, "00:10", "view"), ev(5, "00:20", "click"),
      ev(6, "01:10", "view")).toDF(cols: _*)
    val (sink, lateRows, droppedGroups) =
      EventStream.drainLateAudit(spark, onTime, late)
    assert(lateRows === 3L)   // numInputRows: every late row delivered
    assert(droppedGroups === 3L) // numRowsDroppedByWatermark: post-merge groups
    val wins = sink.select(date_format($"window_start", "HH:mm"), $"cnt")
      .as[(String, Long)].collect().toMap
    assert(wins === Map("12:00" -> 2L), wins.toString)
  }

  test("upsert sink maintains a keyed snapshot across micro-batches (CDC apply)") {
    val dir = tmpDir("evupsrc")
    val snap = tmpDir("evupsnap") + "/state"
    val ckpt1 = tmpDir("evupckpt1")
    val ckpt2 = tmpDir("evupckpt2")
    def line(id: Int, uid: Int, min: Int, v: Double): String =
      s"""{"event_id": $id, "ts": "2024-01-01T00:${f"$min%02d"}:00Z", "user_id": $uid, "event_type": "state", "value": $v, "props": "{}"}"""
    def drain(ckpt: String): Unit = {
      val q = EventStream.upsertSink(
        EventStream.readJsonStream(spark, dir)
          .select("event_id", "ts", "user_id", "value"),
        "user_id", snap, ckpt).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    Files.write(Paths.get(dir, "b0.json"),
      Seq(line(1, 7, 1, 1.0), line(2, 8, 2, 2.0), line(3, 7, 3, 3.0))
        .mkString("\n").getBytes("UTF-8"))
    drain(ckpt1) // in-batch: user 7's later row (id 3) wins
    val s1 = spark.read.parquet(snap).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(s1 === Map(7L -> 3.0, 8L -> 2.0))
    Files.write(Paths.get(dir, "b1.json"),
      Seq(line(4, 8, 10, 9.0), line(5, 9, 11, 5.0))
        .mkString("\n").getBytes("UTF-8"))
    drain(ckpt2) // cross-batch: 8 updated, 9 inserted, 7 untouched
    val s2 = spark.read.parquet(snap).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(s2 === Map(7L -> 3.0, 8L -> 9.0, 9L -> 5.0))
    // version-aware merge: an OLDER change for user 8 arriving in a later
    // batch must NOT clobber the newer snapshot row (out-of-order /
    // re-delivered batches converge to the greatest-ts row per key)
    Files.write(Paths.get(dir, "b2.json"),
      Seq(line(6, 8, 4, 99.0)).mkString("\n").getBytes("UTF-8"))
    drain(tmpDir("evupckpt3"))
    val s3 = spark.read.parquet(snap).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(s3 === Map(7L -> 3.0, 8L -> 9.0, 9L -> 5.0))
  }

  test("drainUpsert: the end-to-end CDC drain equals the one-window batch oracle") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val changes = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00.000123"), 7L, 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00.000456"), 8L, 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00.000789"), 7L, 3.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:01:30.000001"), 9L, 4.0),
      (5L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30.000002"), 8L, 5.0))
      .toDF("event_id", "ts", "user_id", "value")
    val snap = EventStream.drainUpsert(spark, changes, "user_id", nFiles = 3)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    // greatest-ts per user regardless of which file/batch carried it
    assert(snap === Set((7L, 3L), (8L, 2L), (9L, 4L)))
  }

  test("stateless curation ops run unchanged on a stream (scrub + quality + sample)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = tmpDir("evcurate")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Files.write(Paths.get(dir, "docs.json"), Seq(
      """{"doc_id": 1, "text": "see https://x.test/a?id=999999 the quick brown fox and the lazy dog again"}""",
      """{"doc_id": 2, "text": "ok"}""",
      """{"doc_id": 3, "text": "a document with enough words that the stopword gate is happy here"}""")
      .mkString("\n").getBytes("UTF-8"))
    // the exact batch operators, applied to a readStream: scrub → token
    // gate → deterministic sample — all stateless column expressions
    val stream = spark.readStream.schema(docSchema).json(dir)
      .withColumn("text", graft.functions.Text.scrub(col("text")))
      .filter(size(split(lower(col("text")), " ")) >= 5)
    val sampled = graft.operators.Sampling.bernoulli(stream, "doc_id", 1.0)
    val q = sampled.writeStream.format("memory").queryName("evcurate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("evcurate").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet === Set(1L, 3L)) // doc 2 fails the length gate
      assert(rows(1L).contains("<URL>") && !rows(1L).contains("999999"))
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join; unknown keys pass through") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // users 0..4 in the fixture; the dim only knows 0..3 → user 4's
    // events must survive with a null segment (left join, no data loss)
    val dim = Seq((0L, "A"), (1L, "B"), (2L, "C"), (3L, "D"))
      .toDF("cust_id", "segment")
    val rows = spark.read.schema(EventStream.eventSchema).json(srcDir)
    val got = EventStream.drainEnrich(spark, rows, dim, "user_id", "cust_id", nFiles = 2)
      .select($"event_id", $"segment")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val want = rows.join(broadcast(dim), rows("user_id") === dim("cust_id"), "left")
      .select($"event_id", $"segment")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === want)
    assert(got.size === 100)
    // user 4 (event_id % 5 == 4) is unknown to the dim
    assert(got(4L) === None)
    assert(got(0L) === Some("A"))
  }

  test("parquet sink drains available data with AvailableNow") {
    val out = tmpDir("evout")
    val ckpt = tmpDir("evckpt")
    val stream = EventStream.readJsonStream(spark, srcDir)
    val q = EventStream.parquetSink(
      stream.select("event_id", "event_type"), out, ckpt).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.read.parquet(out).count() === 100L)
  }

  test("streamed index maintenance (interleaved ingest + takedown) equals the batch apply") {
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val takedown = emb.filter(col("vec_id") % 10 === 3 && col("vec_id") < 250)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    var streamed = Seq.empty[Long]
    val jobs = jobsDuring {
      streamed = EventStream.drainIndexMaintain(spark, emb,
        "vec_id", "embedding", splitId = 250L, deleteIds = takedown,
        queryId = 0L, k = 10, nprobe = 2, nFiles = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }
    // 34 jobs before the three maintenance drains shared one
    assert(jobs <= 34, s"drainIndexMaintain ran $jobs Spark jobs")
    // batch twin: build on the old slice, ONE append of the new slice,
    // ONE delete of the takedown set — micro-batch boundaries invisible
    val n = IvfIndex.names("ivxstream", "tb")
    try {
      val old = emb.filter(col("vec_id") < 250)
      IvfIndex.build(old, "vec_id", "embedding", n,
        k = graft.operators.Ivf.cellsFor(old.count()))
      IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding")
      IvfIndex.delete(spark, n, "vec_id", takedown)
      val batch = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
        k = 10, nprobe = 2, queryFrom = Some(emb))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(streamed === batch)
      assert(streamed.intersect(takedown).isEmpty)
      assert(streamed.size === 10)
    } finally graft.operators.Tombstones.drop(spark, n)
  }

  test("streamed TEXT-index maintenance (ingest + takedown) equals the batch apply") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextIndex
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("join", "vector", "stream")
    val takedown = docs.filter(col("doc_id") % 10 === 3 && col("doc_id") < 250)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    var streamed = Seq.empty[(Long, Long, Long)]
    val jobs = jobsDuring {
      streamed = EventStream.drainTextMaintain(spark, docs,
        "doc_id", "text", splitId = 250L, deleteIds = takedown,
        terms = terms, limit = 1000, nFiles = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // 58 jobs before the three maintenance drains shared one
    assert(jobs <= 58, s"drainTextMaintain ran $jobs Spark jobs")
    // batch twin: build on the old slice, ONE append, ONE delete —
    // micro-batch boundaries invisible. And since text growth is EXACT,
    // the batch twin itself equals a full build + delete.
    val n = TextIndex.names("txstream", "tb")
    try {
      TextIndex.build(docs.filter(col("doc_id") < 250), "doc_id", "text", n)
      TextIndex.appendBatch(spark, n, docs.filter(col("doc_id") >= 250),
        "doc_id", "text")
      TextIndex.delete(spark, n, takedown)
      val batch = TextIndex.bm25(spark, n, terms, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed === batch)
      assert(streamed.map(_._1).intersect(takedown).isEmpty)
      assert(streamed.nonEmpty)
    } finally graft.operators.Tombstones.drop(spark, n)
  }

  test("streamed QUANTIZED maintenance (ingest + takedown) equals the batch apply") {
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val takedown = emb.filter(col("vec_id") % 10 === 3 && col("vec_id") < 250)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    var streamed = Seq.empty[Long]
    val jobs = jobsDuring {
      streamed = EventStream.drainIndexMaintainPq(spark, emb,
        "vec_id", "embedding", splitId = 250L, deleteIds = takedown,
        queryId = 0L, k = 10, nprobe = 2, m = 4, pqK = 4, nFiles = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }
    // 59 jobs before the three maintenance drains shared one
    assert(jobs <= 59, s"drainIndexMaintainPq ran $jobs Spark jobs")
    val n = IvfIndex.pqNames("ivxstream", "tq")
    try {
      val old = emb.filter(col("vec_id") < 250)
      IvfIndex.build(old, "vec_id", "embedding", n,
        k = graft.operators.Ivf.cellsFor(old.count()), m = 4, pqK = 4)
      IvfIndex.appendBatch(spark, n, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding")
      IvfIndex.delete(spark, n, "vec_id", takedown)
      val batch = IvfIndex.search(spark, n, "vec_id", "embedding", 0L,
        k = 10, nprobe = 2, queryFrom = Some(emb))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(streamed === batch)
      assert(streamed.intersect(takedown).isEmpty)
      assert(streamed.size === 10)
    } finally graft.operators.Tombstones.drop(spark, n)
  }

  test("streamed NB scoring equals one batch scoring pass over the persisted model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.NbClassifier
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "car door car"),
      (3L, "apple car"), (4L, "banana banana door")
    ).toDF("doc_id", "text")
    val train = docs.select(col("doc_id"), (col("doc_id") <= 2).as("is_pos"),
      explode(split(lower(col("text")), " ")).as("w"))
    val (countsT, scalT) = ("nbstream_counts", "nbstream_scal")
    try {
      graft.sources.Warehouse.writeTable(NbClassifier.tokenClassCounts(train), countsT)
      graft.sources.Warehouse.writeTable(NbClassifier.modelScalars(train), scalT)
      val streamed = EventStream.drainNbScore(spark, docs, countsT, scalT, nFiles = 2)
        .orderBy("doc_id").collect().toSeq
      val tok = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
      val batch = NbClassifier.score(tok, spark.table(countsT), spark.table(scalT))
        .orderBy("doc_id").collect().toSeq
      assert(streamed === batch)
    } finally {
      graft.sources.Warehouse.dropWithLocation(spark, countsT)
      graft.sources.Warehouse.dropWithLocation(spark, scalT)
    }
  }
}
