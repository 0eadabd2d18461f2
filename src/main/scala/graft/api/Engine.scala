package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.cache.ResultCache
import graft.operators.{Keywords, TweetSearch, UserQueries}

/** Engine facade ≈ the reference's `TwitterSearchApp`
  * (/root/reference/cache.py:19-67): wires a SparkSession, the curated
  * tables, and the result cache behind the reference's query surface.
  *
  * Differences by design (SURVEY §7.4#6): results come from single
  * declarative plans (no N+1 lookups), the cache keys on the full
  * normalized parameter tuple, and checkpointing is explicit.
  *
  * The tweet → author join runs once per Engine, not once per request:
  * [[tweetsWithAuthors]] is persisted, and a search or user-tweets miss
  * is one filtered scan of it (one Spark job for a search). Keyword
  * predicates keep the keyword out of the generated code
  * ([[graft.operators.Predicates.keywordMatch]]), so a new keyword reuses
  * the compiled scan.
  *
  * PRECONDITION: `users.id` is unique — `TweetIngest.users` dedups on it.
  * The join runs before each top-k, so a duplicated id would repeat its
  * tweets inside the top-k, not just next to it.
  */
final class Engine(
    val spark: SparkSession,
    tweetsPath: String,
    usersPath: String,
    cacheSize: Int = 100,
    cacheTtlSeconds: Double = Double.PositiveInfinity) {

  /** Curated users, persisted MEMORY_AND_DISK — with the tweets below, the
    * hot working set (the reference keeps them server-side in Mongo/MySQL).
    */
  lazy val users: DataFrame = spark.read.parquet(usersPath)
    .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every curated tweet left-joined to its author
    * ([[TweetSearch.withAuthors]]); the one persisted copy of the tweets.
    * The first request that reads it materializes it.
    */
  private lazy val tweetsWithAuthors: DataFrame =
    TweetSearch.withAuthors(spark.read.parquet(tweetsPath), users)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The curated tweets: [[tweetsWithAuthors]] without the author columns,
    * read from its cache.
    */
  lazy val tweets: DataFrame = tweetsWithAuthors.drop(TweetSearch.AuthorColumns: _*)

  val cache = new ResultCache(cacheSize, cacheTtlSeconds)

  /** §3.1 search surface (cache.py:70-162), memoized like search_cache. */
  def searchTweets(
      keyword: Option[String] = None,
      hashtags: Seq[String] = Nil,
      lang: Option[String] = None,
      dateRange: Option[(String, String)] = None,
      limit: Int = TweetSearch.DefaultLimit): Seq[Row] =
    cache.getOrElse("tweet", Seq(
      "kw" -> keyword.getOrElse(""),
      "ht" -> tagList(hashtags),
      "lang" -> lang.getOrElse(""),
      "range" -> dateRange.map(r => r._1 + ".." + r._2).getOrElse(""),
      "limit" -> limit.toString)) {
      TweetSearch.search(tweetsWithAuthors, keyword, hashtags, lang, dateRange, limit)
    }

  /** §3.2 user surface (cache.py:164-190). */
  def userByScreenName(screenName: String): Seq[Row] =
    cache.getOrElse("user", Seq("sn" -> screenName)) {
      UserQueries.byScreenName(users, screenName)
    }

  def tweetsForUser(screenName: String, keyword: Option[String] = None,
      hashtags: Seq[String] = Nil): Seq[Row] =
    cache.getOrElse("user_tweets", Seq(
      "sn" -> screenName,
      "kw" -> keyword.getOrElse(""),
      "ht" -> tagList(hashtags))) {
      UserQueries.tweetsForUser(tweetsWithAuthors, screenName, keyword, hashtags)
    }

  /** Cache-key form of a hashtag set: sorted, `,`-joined, each tag
    * escaped so that `Seq("a,b")` and `Seq("a", "b")` stay distinct.
    */
  private def tagList(hashtags: Seq[String]): String =
    hashtags.sorted.map(ResultCache.escape(_, ",")).mkString(",")

  /** Sidebars (app.py:156,170-171). */
  def topUsersByFollowers(k: Int = 5): Seq[Row] =
    cache.getOrElse("user", Seq("top" -> k.toString)) {
      UserQueries.topByFollowers(users, k)
    }

  def topTweetsByFavorites(k: Int = 5): Seq[Row] =
    cache.getOrElse("tweet", Seq("topfav" -> k.toString)) {
      TweetSearch.topTweetsByFavorites(tweets, k)
    }

  /** Warm-up ≈ cache_top_10_keywords at startup (cache.py:252-254). */
  def topKeywords(k: Int = 10): Seq[Row] =
    cache.getOrElse("hashtag", Seq("topkw" -> k.toString)) {
      Keywords.topKeywords(tweets, "text", k)
    }

  def checkpointCache(path: String): Unit = cache.checkpoint(spark, path)

  /** Restart warm-up ≈ `load_cache_from_mongodb` (cache.py:62-67):
    * reload the serialized cache so previously-answered queries are hits
    * with no recomputation. Returns the number of live entries.
    */
  def restoreCache(path: String): Int = cache.restore(spark, path)

  /** SQL surface: the curated tables as temp views, so every engine query
    * is also expressible as `engine.sql("SELECT ... FROM tweets ...")`.
    */
  def sql(query: String): DataFrame = {
    tweets.createOrReplaceTempView("tweets")
    users.createOrReplaceTempView("users")
    spark.sql(query)
  }
}
