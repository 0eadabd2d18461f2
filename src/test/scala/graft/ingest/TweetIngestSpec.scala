package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Ingest pipeline spec over a synthesized raw-JSONL fixture shaped like
  * the reference's capture (FIXTURES.md §1): originals, retweets (text
  * "RT …" + retweeted_status), a quote tweet, duplicate lines, and
  * malformed/non-status lines that the tolerant scan must skip.
  */
class TweetIngestSpec extends SparkSpec {

  private def user(id: String, name: String, followers: Int = 10): String =
    s"""{"id": $id, "id_str": "$id", "name": "$name", "screen_name": "sn_$name",
        "location": "loc", "description": "d", "verified": false,
        "followers_count": $followers, "friends_count": 5,
        "created_at": "Wed Mar 25 14:17:28 +0000 2020"}""".replaceAll("\n\\s*", " ")

  private def status(id: String, text: String, uid: String, uname: String,
      extra: String = ""): String =
    s"""{"id": $id, "id_str": "$id", "text": "$text",
        "created_at": "Sun Apr 12 16:48:01 +0000 2020", "lang": "en",
        "favorite_count": 3, "retweet_count": 2, "quote_count": 0,
        "reply_count": 1, "is_quote_status": false,
        "entities": {"hashtags": [{"text": "corona", "indices": [0, 6]}]},
        "user": ${user(uid, uname)}$extra}""".replaceAll("\n\\s*", " ")

  private lazy val rawPath: String = {
    val dir = tmpDir("rawtweets")
    val og = status("1001", "original tweet about corona", "501", "alice")
    val og2 = status("1002", "second original", "502", "bob")
    val quoted = status("1005", "quoted content", "505", "erin")
    val quote = status("1003", "quoting something", "503", "carol",
      s""", "quoted_status": $quoted""").replace("\"is_quote_status\": false", "\"is_quote_status\": true")
    val rt1 = status("2001", "RT @alice: original tweet about corona", "504", "dave",
      s""", "retweeted_status": ${status("1001", "original tweet about corona", "501", "alice")}""")
    val rt2 = status("2002", "RT @alice: original tweet about corona", "506", "frank",
      s""", "retweeted_status": ${status("1001", "original tweet about corona", "501", "alice")}""")
    // Retweet of a quote tweet: the quoted status (and its author grace)
    // exists ONLY nested inside retweeted_status — exercises the
    // add_users fourth position (reference cell 34) and the curated
    // quoted-doc emission from that path.
    val quotedInner = status("1006", "deep quoted content", "507", "grace")
    val quotedOg = status("1004", "quoting deeply", "509", "ivan",
      s""", "quoted_status": $quotedInner""")
      .replace("\"is_quote_status\": false", "\"is_quote_status\": true")
    val rt3 = status("2003", "RT @ivan: quoting deeply", "508", "heidi",
      s""", "retweeted_status": $quotedOg""")
    val lines = Seq(
      og, og2, quote, rt1, rt2, rt3,
      og, // duplicate line → dedup must collapse
      """{"delete": {"status": {"id": 99}}}""", // non-status control message
      """not json at all {{{""") // malformed
    Files.write(Paths.get(dir, "part-0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("tolerant scan keeps only well-formed status lines") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    assert(raw.count() === 7) // 6 distinct + 1 duplicate line
  }

  test("canonical tweets: dedup by id_str, retweets fold into parent") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    val tweets = TweetIngest.withRetweets(TweetIngest.canonicalTweets(raw), raw)
    // originals: 1001 (also arriving via 2 retweet lines), 1002, 1003,
    // 1004 (arriving ONLY via retweet line 2003)
    assert(tweets.count() === 4)
    val t1001 = tweets.filter(tweets("id_str") === "1001").collect().head
    val rts = t1001.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("retweets")
    assert(rts.map(_.getAs[String]("id_str")).sorted === Seq("2001", "2002"))
    // quote preserved as nested struct
    val t1003 = tweets.filter(tweets("id_str") === "1003").collect().head
    assert(t1003.getAs[org.apache.spark.sql.Row]("quoted_status")
      .getAs[String]("id_str") === "1005")
    assert(t1003.getAs[Boolean]("is_quote_status"))
    // quote nested inside a retweet: canonical 1004 carries quoted 1006
    val t1004 = tweets.filter(tweets("id_str") === "1004").collect().head
    assert(t1004.getAs[org.apache.spark.sql.Row]("quoted_status")
      .getAs[String]("id_str") === "1006")
    assert(t1004.getAs[Boolean]("is_quote_status"))
    assert(t1004.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("retweets")
      .map(_.getAs[String]("id_str")) === Seq("2003"))
  }

  test("users: authors of tweets, retweets and quotes, deduped, parsed timestamp") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    val us = TweetIngest.users(raw)
    // alice(501, also nested in 2 retweet lines), bob, carol, dave,
    // erin(quoted author), frank, heidi(rt3 author), ivan(retweeted
    // author), grace(author of the quote nested INSIDE retweet 2003)
    assert(us.count() === 9)
    // ids are unique: Engine's once-per-Engine author join relies on it
    assert(us.select("id").distinct().count() === us.count())
    val alice = us.filter(us("id") === "501").collect().head
    assert(alice.getAs[String]("screen_name") === "sn_alice")
    val ts = alice.getAs[java.sql.Timestamp]("created_at")
    assert(ts != null && ts.toInstant.toString.startsWith("2020-03-25T14:17:28"))
    // grace exists only at retweeted_status.quoted_status.user — the
    // author-enrichment join for the quoted doc emitted from that path
    // must not come back null (ADVICE r1, reference cell 34 add_users).
    assert(us.filter(us("id") === "507").count() === 1)
  }

  test("full run writes lang-partitioned tweets + users parquet") {
    val (tOut, uOut) = (tmpDir("tweets"), tmpDir("users"))
    val (nT, nU) = TweetIngest.run(spark, rawPath, tOut, uOut)
    assert(nT === 4 && nU === 9)
    assert(Files.list(Paths.get(tOut)).toArray.map(_.toString)
      .exists(_.contains("lang=en")))
  }

  test("single-pass curatedTweets equals the two-phase canonical+retweets path") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    val onePass = TweetIngest.curatedTweets(raw)
      .orderBy("id_str").collect().toSeq
    val twoPass = TweetIngest.withRetweets(TweetIngest.canonicalTweets(raw), raw)
      .orderBy("id_str").collect().toSeq
    assert(onePass === twoPass)
  }

  test("duplicate ids carry identical payloads (dedup winner is well-defined)") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    import org.apache.spark.sql.functions._
    val dupPayloads = raw.groupBy("id_str")
      .agg(countDistinct(struct(col("text"), col("lang"), col("user.id_str"))).as("n"))
      .filter(col("n") > 1)
    assert(dupPayloads.count() === 0)
  }

  test("golden shape: curated output schema matches FIXTURES.md §2 field-for-field") {
    // The cell-19 sample document shape (DataProcessing.ipynb:75625),
    // reproduced as TwitterSchemas.curatedTweetSchema. Nullability is
    // normalized: parquet round-trips and when()-wrapped structs make
    // everything nullable, and the reference's Mongo docs have no
    // nullability contract at all.
    import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
    def norm(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, norm(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
      case other => other
    }
    val raw = TweetIngest.readRaw(spark, rawPath)
    val got = norm(TweetIngest.curatedTweets(raw).schema)
    val want = norm(graft.schema.TwitterSchemas.curatedTweetSchema)
    assert(got === want, s"\ngot:  ${got.asInstanceOf[StructType].treeString}\nwant: ${want.asInstanceOf[StructType].treeString}")
  }

  test("golden sample doc: field values survive ingest end-to-end") {
    // Mirror of the cell-19 golden expectations (FIXTURES.md §5) on the
    // synthesized fixture: the doc for 1001 keeps its metric fields, its
    // author id, and exactly its two retweet elements in sorted order.
    val raw = TweetIngest.readRaw(spark, rawPath)
    val doc = TweetIngest.curatedTweets(raw)
      .filter(org.apache.spark.sql.functions.col("id_str") === "1001")
      .collect().head
    assert(doc.getAs[String]("_id") === "1001")
    assert(doc.getAs[String]("user_id") === "501")
    assert(doc.getAs[Long]("favorite_count") === 3L)
    assert(doc.getAs[Long]("retweet_count") === 2L)
    assert(doc.getAs[String]("created_at") === "Sun Apr 12 16:48:01 +0000 2020")
    val ents = doc.getAs[org.apache.spark.sql.Row]("entities")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hashtags")
    assert(ents.map(_.getAs[String]("text")) === Seq("corona"))
    val rts = doc.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("retweets")
    assert(rts.map(_.getAs[String]("id_str")) === Seq("2001", "2002"))
    assert(rts.forall(_.getAs[String]("user_id") != null))
  }

  test("c17 ratio invariants: originals + retweets + skipped partition the input") {
    import org.apache.spark.sql.functions._
    // The reference's cell-17 output partitions the capture into
    // originals / retweet lines / skipped lines; the same invariants must
    // hold here: every well-formed line is exactly one of (retweet,
    // original), and the curated table accounts for every retweet line.
    val totalLines = Files.readAllLines(Paths.get(rawPath, "part-0.json")).size
    val raw = TweetIngest.readRaw(spark, rawPath)
    val wellFormed = raw.count()
    val skipped = totalLines - wellFormed
    assert(skipped === 2) // delete control message + malformed line
    val rtLines = raw.filter(TweetIngest.isRetweet).count()
    val ogLines = raw.filter(!TweetIngest.isRetweet).count()
    assert(rtLines + ogLines === wellFormed)
    val curated = TweetIngest.curatedTweets(raw)
    // every distinct retweet id lands in exactly one retweets[] array
    val foldedRts = curated
      .select(explode(coalesce(col("retweets"), array())).as("rt"))
      .select(countDistinct(col("rt.id_str"))).collect().head.getLong(0)
    val distinctRtIds = raw.filter(TweetIngest.isRetweet)
      .select(countDistinct(col("id_str"))).collect().head.getLong(0)
    assert(foldedRts === distinctRtIds)
    // curated rows = distinct canonical ids (own id for originals,
    // retweeted id for retweet lines)
    val expectedCanonical = raw
      .filter(!TweetIngest.isRetweet || col("retweeted_status.id_str").isNotNull)
      .select(when(TweetIngest.isRetweet, col("retweeted_status.id_str"))
        .otherwise(col("id_str")).as("k"))
      .distinct().count()
    assert(curated.count() === expectedCanonical)
  }

  test("ingest is idempotent: re-reading produces identical id sets") {
    val raw = TweetIngest.readRaw(spark, rawPath)
    val a = TweetIngest.canonicalTweets(raw).select("id_str").collect().map(_.getString(0)).sorted
    val b = TweetIngest.canonicalTweets(TweetIngest.readRaw(spark, rawPath))
      .select("id_str").collect().map(_.getString(0)).sorted
    assert(a === b)
  }
}
