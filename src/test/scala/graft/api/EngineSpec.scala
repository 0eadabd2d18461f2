package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.{SparkSpec, TestFixtures}
import graft.TestFixtures.{Ents, TH, Tw}
import graft.operators.{Predicates, TweetSearch}

/** Engine facade: tables + cache wiring (≈ TwitterSearchApp surface). */
class EngineSpec extends SparkSpec {

  /** A tweet whose author is missing from the users table. */
  private val orphan =
    Tw("6", "u9", "zebra quiz", "Fri Apr 17 08:00:00 +0000 2020", "en", 2, 20, Ents(Seq(TH("corona"))))

  private lazy val paths: (String, String) = {
    import spark.implicits._
    val tPath = tmpDir("engtweets")
    val uPath = tmpDir("engusers")
    (TestFixtures.tweets :+ orphan).toDF().write.mode("overwrite").parquet(tPath)
    TestFixtures.users.toDF().write.mode("overwrite").parquet(uPath)
    (tPath, uPath)
  }

  private lazy val engine: Engine = new Engine(spark, paths._1, paths._2, cacheSize = 8)

  test("searchTweets returns enriched rows and memoizes") {
    val r1 = engine.searchTweets(keyword = Some("house"))
    assert(r1.size === 2)
    val misses = engine.cache.misses.get()
    val r2 = engine.searchTweets(keyword = Some("house"))
    assert(r2 === r1)
    assert(engine.cache.misses.get() === misses) // served from cache
  }

  test("user surfaces work end-to-end") {
    assert(engine.userByScreenName("alice").size === 1)
    assert(engine.tweetsForUser("bob").size === 2)
    assert(engine.topUsersByFollowers(2).head.getAs[String]("screen_name") === "bob")
    assert(engine.topTweetsByFavorites(1).head.getAs[String]("id_str") === "5")
  }

  test("topKeywords warm-up surface") {
    val kws = engine.topKeywords(3).map(_.getString(0))
    assert(kws.contains("house"))
  }

  test("cache checkpoint writes state and keys restore in LRU order") {
    val p = tmpDir("engckpt") + "/state"
    engine.searchTweets(keyword = Some("casa"))
    engine.checkpointCache(p)
    assert(spark.read.parquet(p).count() >= 1)
    val keys = engine.cache.checkpointedKeys(spark, p)
    assert(keys.nonEmpty && keys.exists(_.contains("kw=casa")))
  }

  test("cache restore after restart serves search hits without recompute") {
    val p = tmpDir("engrestore") + "/state"
    val r1 = engine.searchTweets(keyword = Some("house"))
    engine.checkpointCache(p)
    // "restarted" engine over the same tables, fresh empty cache
    val engine2 = new Engine(spark, paths._1, paths._2, cacheSize = 8)
    assert(engine2.restoreCache(p) >= 1)
    val misses = engine2.cache.misses.get()
    val r2 = engine2.searchTweets(keyword = Some("house"))
    assert(engine2.cache.misses.get() === misses, "restored cache must serve the hit")
    assert(r2.map(_.getAs[String]("id_str")).sorted === r1.map(_.getAs[String]("id_str")).sorted)
  }

  test("sql surface exposes the curated tables as views") {
    val rows = engine.sql(
      "SELECT t.id_str, u.screen_name FROM tweets t JOIN users u ON t.user_id = u.id " +
        "WHERE t.text RLIKE '(?i)house' ORDER BY t.id_str").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("2", "5"))
  }

  test("hashtag lists that differ only in where the commas are get different cache keys") {
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 8)
    assert(e.searchTweets(hashtags = Seq("casa,corona")).isEmpty) // no such tag
    val misses = e.cache.misses.get()
    val both = e.searchTweets(hashtags = Seq("casa", "corona"))
    assert(e.cache.misses.get() === misses + 1, "a different tag list must miss")
    assert(both.map(_.getAs[String]("id_str")) === Seq("2", "3", "6"))
  }

  /** The formulation the engine replaced: the bare tables, joined to the
    * users on every request.
    */
  private object PerRequestJoin {
    private def tweets: DataFrame = spark.read.parquet(paths._1)
    private def users: DataFrame = spark.read.parquet(paths._2)

    def search(keyword: Option[String], hashtags: Seq[String], lang: Option[String],
        dateRange: Option[(String, String)], limit: Int): Seq[Row] =
      TweetSearch.search(tweets, keyword, hashtags, lang, dateRange, limit)
        .join(broadcast(users.select(
          col("id").as("author_id"),
          col("name").as("author_name"),
          col("screen_name").as("author_screen_name"),
          col("followers_count").as("author_followers"))),
          col("user_id") === col("author_id"), "left")
        .drop("author_id")
        .collect().toSeq

    def tweetsForUser(screenName: String, keyword: Option[String], hashtags: Seq[String]): Seq[Row] =
      tweets
        .join(broadcast(users.filter(col("screen_name") === screenName).select(col("id").as("uid"))),
          col("user_id") === col("uid"), "left_semi")
        .filter(Predicates.searchPredicate(keyword, hashtags, None, None))
        .orderBy(col("retweet_count").desc, col("favorite_count").desc, col("id_str"))
        .collect().toSeq
  }

  test("answers equal the per-request join row by row; an unknown author reads null") {
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 64)
    val range = Some(("04/13/2020", "04/18/2020"))
    for {
      (kw, tags, lang, dates) <- Seq(
        (Some("e"), Nil, None, None),
        (Some("HOUSE"), Nil, Some("en"), None),
        (Some("e"), Nil, None, range),
        (None, Seq("corona"), None, None),
        (Some("white"), Seq("casa"), None, None),
        (None, Nil, None, None))
      limit <- Seq(2, TweetSearch.DefaultLimit)
    } {
      val got = e.searchTweets(kw, tags, lang, dates, limit)
      assert(got === PerRequestJoin.search(kw, tags, lang, dates, limit), s"search $kw $tags $lang $dates $limit")
      assert(got.nonEmpty)
    }
    val all = e.searchTweets()
    assert(all.head.schema.fieldNames.toSeq === e.tweets.columns.toSeq ++ TweetSearch.AuthorColumns)
    val lost = all.find(_.getAs[String]("id_str") == "6").get
    assert(TweetSearch.AuthorColumns.forall(c => lost.isNullAt(lost.fieldIndex(c))))

    for ((sn, kw, tags) <- Seq(("bob", None, Nil), ("alice", Some("HOUSE"), Nil),
        ("bob", None, Seq("casa")), ("bob", Some("white"), Seq("corona")), ("nobody", None, Nil))) {
      assert(e.tweetsForUser(sn, kw, tags) === PerRequestJoin.tweetsForUser(sn, kw, tags), s"user $sn $kw $tags")
    }
  }

  test("a search miss runs one Spark job; a user-tweets miss needs no job to find the user") {
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 16)
    e.topKeywords(3) // materializes the author-joined tweets
    def missJobs(call: => Seq[Row]): Int = {
      val misses = e.cache.misses.get()
      val jobs = jobsDuring(call)
      assert(e.cache.misses.get() === misses + 1)
      jobs
    }
    assert(missJobs(e.searchTweets(keyword = Some("house"))) === 1)
    assert(missJobs(e.searchTweets(hashtags = Seq("casa"))) === 1)
    assert(missJobs(e.searchTweets(keyword = Some("house"), lang = Some("en"))) === 1)
    assert(missJobs(e.searchTweets(keyword = Some("house"), dateRange = Some(("04/13/2020", "04/18/2020")))) === 1)
    // the global sort's sample, shuffle and result jobs; a per-request
    // join ran a fourth, the broadcast that resolved the screen name
    assert(missJobs(e.tweetsForUser("bob")) === 3)
  }

  test("a miss on a new keyword reuses the generated code of the last one") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 16)
    assert(e.searchTweets(keyword = Some("zebra")).map(_.getAs[String]("id_str")) === Seq("6"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(e.searchTweets(keyword = Some("qu.z")).map(_.getAs[String]("id_str")) === Seq("6"))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
  }
}
