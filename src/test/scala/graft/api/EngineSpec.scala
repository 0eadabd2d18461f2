package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.{SparkSpec, TestFixtures}
import graft.TestFixtures.{Ents, TH, Tw}
import graft.functions.Param
import graft.operators.{Predicates, TweetSearch, UserQueries}

/** Engine facade: tables + cache wiring (≈ TwitterSearchApp surface). */
class EngineSpec extends SparkSpec {

  /** A tweet whose author is missing from the users table. */
  private val orphan =
    Tw("6", "u9", "zebra quiz", "Fri Apr 17 08:00:00 +0000 2020", "en", 2, 20, Ents(Seq(TH("corona"))))
  /** A tweet with a null text, and one with a null hashtag list. */
  private val silent =
    Tw("7", "u3", null, "Sat Apr 18 07:00:00 +0000 2020", "en", 0, 0, Ents(Seq(TH("quiet"))))
  private val untagged =
    Tw("8", "u1", "a quiet note", "Sun Apr 19 12:00:00 +0000 2020", "fr", 0, 4, Ents(null))

  private lazy val paths: (String, String) = {
    import spark.implicits._
    val tPath = tmpDir("engtweets")
    val uPath = tmpDir("engusers")
    (TestFixtures.tweets ++ Seq(orphan, silent, untagged)).toDF().write.mode("overwrite").parquet(tPath)
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
        .filter(Predicates.searchPredicate(keyword.map(lit), Predicates.tags(hashtags), None, None))
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
    // one collect of the filtered rows, ordered on the driver (a global
    // sort ran 3: sample, shuffle, result; a per-request join a fourth)
    assert(missJobs(e.tweetsForUser("bob")) === 1)
  }

  test("a miss on a new keyword reuses the generated code of the last one") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 16)
    assert(e.searchTweets(keyword = Some("zebra")).map(_.getAs[String]("id_str")) === Seq("6"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(e.searchTweets(keyword = Some("qu.z")).map(_.getAs[String]("id_str")) === Seq("6"))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
  }

  /** The declarative formulations the engine's prepared scans must equal. */
  private object Declarative {
    private def users = spark.read.parquet(paths._2)
    private def joined = TweetSearch.withAuthors(spark.read.parquet(paths._1), users)

    def search(keyword: Option[String], hashtags: Seq[String], lang: Option[String],
        dateRange: Option[(String, String)], limit: Int): Seq[Row] =
      TweetSearch.search(joined, keyword, hashtags, lang, dateRange, limit).collect().toSeq

    def user(screenName: String): Seq[Row] =
      UserQueries.byScreenName(users, lit(screenName)).collect().toSeq

    def tweetsForUser(screenName: String, keyword: Option[String], hashtags: Seq[String]): Seq[Row] =
      UserQueries.tweetsForUser(joined, screenName, keyword, hashtags).collect().toSeq
  }

  /** Row by row, in order, and with the same schema on every row. */
  private def assertSame(got: Seq[Row], want: Seq[Row], what: String): Unit = {
    assert(got === want, what)
    assert(got.map(_.schema) === want.map(_.schema), what)
  }

  private val range = ("04/13/2020", "04/19/2020")

  /** Every search shape: each optional value present or not. */
  private val searchShapes: Seq[(Option[String], Seq[String], Option[String], Option[(String, String)])] =
    for {
      kw <- Seq(None, Some("e"))
      tags <- Seq(Nil, Seq("corona", "quiet"))
      lang <- Seq(None, Some("en"))
      dates <- Seq(None, Some(range))
    } yield (kw, tags, lang, dates)

  private val refinements: Seq[(Option[String], Seq[String])] =
    Seq((None, Nil), (Some("e"), Nil), (None, Seq("casa", "quiet")), (Some("White"), Seq("corona")))

  test("every search shape, the user lookup and every user-tweets refinement equal their declarative formulations") {
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 128)
    assert(searchShapes.size === 16)
    for ((kw, tags, lang, dates) <- searchShapes; limit <- Seq(2, TweetSearch.DefaultLimit)) {
      assertSame(e.searchTweets(kw, tags, lang, dates, limit),
        Declarative.search(kw, tags, lang, dates, limit), s"search $kw $tags $lang $dates $limit")
    }
    // the null text, the null hashtag list and the unknown author all answer
    assert(e.searchTweets(hashtags = Seq("quiet")).map(_.getAs[String]("id_str")) === Seq("7"))
    assert(e.searchTweets(keyword = Some("quiet"), hashtags = Seq("corona"))
      .map(_.getAs[String]("id_str")) === Seq("2", "3", "6", "8"))
    for (sn <- Seq("alice", "bob", "carol", "nobody")) {
      assertSame(e.userByScreenName(sn), Declarative.user(sn), s"user $sn")
      for ((kw, tags) <- refinements)
        assertSame(e.tweetsForUser(sn, kw, tags), Declarative.tweetsForUser(sn, kw, tags), s"user tweets $sn $kw $tags")
    }
    assert(e.userByScreenName("carol").head.getAs[java.sql.Timestamp]("created_at") ===
      java.sql.Timestamp.valueOf("2020-02-02 00:00:00"))
    assert(e.tweetsForUser("alice").map(_.getAs[String]("id_str")) === Seq("2", "1", "8"))
  }

  test("prepared scans answer the same when Spark generates no code") {
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val e = new Engine(spark, paths._1, paths._2, cacheSize = 32)
      for ((kw, tags, lang, dates) <- searchShapes.filter(s => s._1.nonEmpty && s._2.nonEmpty); limit <- Seq(2, 50))
        assertSame(e.searchTweets(kw, tags, lang, dates, limit),
          Declarative.search(kw, tags, lang, dates, limit), s"search $kw $tags $lang $dates $limit")
      for (sn <- Seq("alice", "bob"); (kw, tags) <- refinements)
        assertSame(e.tweetsForUser(sn, kw, tags), Declarative.tweetsForUser(sn, kw, tags), s"user tweets $sn $kw $tags")
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("concurrent misses on one shape each answer with their own values") {
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 256)
    val keywords = Seq("e", "house", "a", "zebra", "quiet", "s", "o", "i")
    // distinct (keyword, limit) pairs, so every call is a miss
    val calls = for (kw <- keywords; limit <- 1 to 6) yield (kw, limit)
    val want = calls.map { case (kw, limit) => Declarative.search(Some(kw), Nil, None, None, limit) }
    e.searchTweets(keyword = Some("white")) // prepares the shape
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Seq[Row])]] {
          def call(): Seq[(Int, Seq[Row])] = calls.indices.filter(_ % 4 == t).map { i =>
            i -> e.searchTweets(keyword = Some(calls(i)._1), limit = calls(i)._2)
          }
        })
      }
      val got = futures.flatMap(_.get()).toMap
      assert(got.size === calls.size)
      calls.indices.foreach(i => assertSame(got(i), want(i), s"call ${calls(i)}"))
    } finally pool.shutdownNow()
    assert(e.cache.misses.get() === calls.size + 1)
  }

  test("after one miss per shape, new values compile no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 64)
    def each(kw: String, tag: String, lang: String, dates: (String, String), sn: String): Unit = {
      e.searchTweets(keyword = Some(kw))
      e.searchTweets(hashtags = Seq(tag))
      e.searchTweets(keyword = Some(kw), lang = Some(lang))
      e.searchTweets(lang = Some(lang))
      e.searchTweets(keyword = Some(kw), dateRange = Some(dates))
      e.searchTweets(keyword = Some(kw), hashtags = Seq(tag), lang = Some(lang), dateRange = Some(dates))
      e.userByScreenName(sn)
      e.tweetsForUser(sn)
      e.tweetsForUser(sn, Some(kw), Seq(tag))
    }
    each("house", "corona", "en", ("04/13/2020", "04/18/2020"), "bob")
    val misses = e.cache.misses.get()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    each("zebra", "casa", "es", ("04/11/2020", "04/14/2020"), "alice")
    assert(e.cache.misses.get() === misses + 9, "every call of the second round must miss")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
  }

  test("a request leaves no parameter on its thread and keeps the caller's properties") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val sc = spark.sparkContext
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 16)
    def props(events: Seq[org.apache.spark.scheduler.SparkListenerEvent]) =
      events.collect { case j: SparkListenerJobStart => j.properties }
    e.searchTweets(keyword = Some("zebra"), lang = Some("en")) // prepares the shape
    sc.setLocalProperty("loopbench.req", "r1")
    try {
      val during = props(eventsDuring(e.searchTweets(keyword = Some("house"), lang = Some("en"))))
      assert(during.map(_.getProperty("loopbench.req")) === Seq("r1"))
      assert(during.map(_.getProperty(Param.Prefix + "kw")) === Seq("house"))
      intercept[Exception](e.searchTweets(keyword = Some("(bad"), lang = Some("en")))
      assert(sc.getLocalProperty("loopbench.req") === "r1")
      val after = props(eventsDuring(sc.parallelize(Seq(1), 1).count()))
      assert(after.map(_.getProperty("loopbench.req")) === Seq("r1"))
      assert(after.flatMap(_.stringPropertyNames.toArray.map(_.toString)).filter(_.startsWith("graft.")) === Nil)
    } finally sc.setLocalProperty("loopbench.req", null)
  }

  test("a parameter with no bound value throws instead of matching") {
    import spark.implicits._
    val texts = Seq("en" -> "a", "es" -> "b").toDF("lang", "text").repartition(2)
    for (pred <- Seq(Predicates.langEq(Param.column("lang")), Predicates.keywordMatch(Param.column("kw")))) {
      val err = intercept[Exception](texts.filter(pred).collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("has no bound value"))), err.toString)
    }
  }

  test("a miss on a prepared shape runs one job and no SQL execution") {
    import org.apache.spark.scheduler.SparkListenerJobStart
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val e = new Engine(spark, paths._1, paths._2, cacheSize = 32)
    e.searchTweets(keyword = Some("house"), hashtags = Seq("casa"))
    e.userByScreenName("bob")
    e.tweetsForUser("bob", Some("white"))
    for (call <- Seq[() => Seq[Row]](
        () => e.searchTweets(keyword = Some("zebra"), hashtags = Seq("corona")),
        () => e.userByScreenName("alice"),
        () => e.tweetsForUser("alice", Some("house")))) {
      val misses = e.cache.misses.get()
      val events = eventsDuring(call())
      assert(e.cache.misses.get() === misses + 1)
      assert(events.count(_.isInstanceOf[SparkListenerJobStart]) === 1)
      assert(events.count(_.isInstanceOf[SparkListenerSQLExecutionStart]) === 0)
    }
  }
}
