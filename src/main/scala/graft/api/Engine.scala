package graft.api

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.from_json
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.storage.StorageLevel

import graft.cache.ResultCache
import graft.cache.ResultCache.Answer
import graft.functions.Param
import graft.operators.{Keywords, Predicates, TweetSearch, UserQueries}

/** Engine facade ≈ the reference's `TwitterSearchApp`
  * (/root/reference/cache.py:19-67): wires a SparkSession, the curated
  * tables, and the result cache behind the reference's query surface.
  *
  * Differences by design (SURVEY §7.4#6): results come from single
  * declarative plans (no N+1 lookups), the cache keys on the full
  * normalized parameter tuple, and checkpointing is explicit.
  *
  * The tweet → author join runs once per Engine, not once per request:
  * [[tweetsWithAuthors]] is persisted. A miss of [[searchTweets]],
  * [[userByScreenName]] or [[tweetsForUser]] is one Spark job over a scan
  * prepared once per request shape (which optional values are present:
  * 16 search shapes, the user lookup and 4 user-tweets refinements). On
  * the shape's first miss its filter — the same
  * [[graft.operators.Predicates]] the declarative formulations use, over
  * [[graft.functions.Param]]s — is analyzed, optimized, planned and
  * code-generated, and its `RDD[InternalRow]` kept; each request binds its
  * values as job-local properties and runs one job on it. A search keeps
  * a top-`limit` per partition and merges them on the driver in
  * [[TweetSearch.Order]]; a user-tweets request collects its rows and
  * orders them on the driver.
  *
  * PRECONDITIONS:
  *  - `users.id` is unique — `TweetIngest.users` dedups on it. The join
  *    runs before each top-k, so a duplicated id would repeat its tweets
  *    inside the top-k, not just next to it.
  *  - The curated tables and the persisted relations do not change for the
  *    Engine's lifetime: the prepared scans read them as they were planned.
  *  - One user's tweets fit the driver: a user-tweets answer is collected
  *    whole, as the cached answer already requires.
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

  /** Prepared scans by request shape, each made on its shape's first miss. */
  private val scans = new ConcurrentHashMap[String, Engine.Scan]()

  private def scan(shape: String)(plan: => DataFrame): Engine.Scan =
    scans.computeIfAbsent(shape, _ => new Engine.Scan(plan))

  private def p(name: String) = Param.column(name)

  /** §3.1 search surface (cache.py:70-162), memoized like search_cache. */
  def searchTweets(
      keyword: Option[String] = None,
      hashtags: Seq[String] = Nil,
      lang: Option[String] = None,
      dateRange: Option[(String, String)] = None,
      limit: Int = TweetSearch.DefaultLimit): Seq[Row] = {
    require(limit >= 0, s"limit must be >= 0, got $limit")
    cache.getOrElse("tweet", Seq(
      "kw" -> keyword.getOrElse(""),
      "ht" -> tagList(hashtags),
      "lang" -> lang.getOrElse(""),
      "range" -> dateRange.map(r => r._1 + ".." + r._2).getOrElse(""),
      "limit" -> limit.toString)) {
      val values = keyword.map("kw" -> _).toSeq ++ tagValue(hashtags) ++
        lang.map("lang" -> _) ++ dateRange.toSeq.flatMap { case (s, e) => Seq("from" -> s, "to" -> e) }
      scan("tweet:" + values.map(_._1).mkString(",")) {
        tweetsWithAuthors.filter(Predicates.searchPredicate(
          keyword.map(_ => p("kw")), tagParam(hashtags), lang.map(_ => p("lang")),
          dateRange.map(_ => (p("from"), p("to")))))
      }.top(spark.sparkContext, values, limit)
    }
  }

  /** §3.2 user surface (cache.py:164-190). */
  def userByScreenName(screenName: String): Seq[Row] =
    cache.getOrElse("user", Seq("sn" -> screenName)) {
      scan("user")(UserQueries.byScreenName(users, p("sn")))
        .all(spark.sparkContext, Seq("sn" -> screenName), ordered = false)
    }

  def tweetsForUser(screenName: String, keyword: Option[String] = None,
      hashtags: Seq[String] = Nil): Seq[Row] =
    cache.getOrElse("user_tweets", Seq(
      "sn" -> screenName,
      "kw" -> keyword.getOrElse(""),
      "ht" -> tagList(hashtags))) {
      val values = Seq("sn" -> screenName) ++ keyword.map("kw" -> _) ++ tagValue(hashtags)
      scan("user_tweets:" + values.map(_._1).mkString(",")) {
        UserQueries.userTweets(tweetsWithAuthors, p("sn"), keyword.map(_ => p("kw")), tagParam(hashtags))
      }.all(spark.sparkContext, values, ordered = true)
    }

  /** A hashtag list travels as one JSON array parameter. */
  private def tagValue(hashtags: Seq[String]): Option[(String, String)] =
    if (hashtags.isEmpty) None else Some("ht" -> Engine.Json.writeValueAsString(hashtags.toArray))

  private def tagParam(hashtags: Seq[String]) =
    if (hashtags.isEmpty) None else Some(from_json(p("ht"), ArrayType(StringType)))

  /** Cache-key form of a hashtag set: sorted, `,`-joined, each tag
    * escaped so that `Seq("a,b")` and `Seq("a", "b")` stay distinct.
    */
  private def tagList(hashtags: Seq[String]): String =
    hashtags.sorted.map(ResultCache.escape(_, ",")).mkString(",")

  /** Sidebars (app.py:156,170-171). */
  def topUsersByFollowers(k: Int = 5): Seq[Row] =
    cache.getOrElse("user", Seq("top" -> k.toString)) {
      Answer.of(UserQueries.topByFollowers(users, k))
    }

  def topTweetsByFavorites(k: Int = 5): Seq[Row] =
    cache.getOrElse("tweet", Seq("topfav" -> k.toString)) {
      Answer.of(TweetSearch.topTweetsByFavorites(tweets, k))
    }

  /** Warm-up ≈ cache_top_10_keywords at startup (cache.py:252-254). */
  def topKeywords(k: Int = 10): Seq[Row] =
    cache.getOrElse("hashtag", Seq("topkw" -> k.toString)) {
      Answer.of(Keywords.topKeywords(tweets, "text", k))
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

private object Engine {

  private val Json = new ObjectMapper()

  /** One request shape's filtered scan, analyzed, optimized, planned and
    * code-generated when constructed. Each request is then one Spark job
    * over [[rdd]] with its values bound ([[Param.bind]]): no plan, no
    * generated code and no SQL execution of its own.
    */
  private final class Scan(plan: DataFrame) {
    private val rdd: RDD[InternalRow] = plan.queryExecution.toRdd
    private val schema = plan.schema
    /** Thread-safe; gives rows that carry their schema, like `collect`'s. */
    private val toRow = CatalystTypeConverters.createToScalaConverter(schema)

    /** Spark's [[TweetSearch.Order]] over this scan's rows. */
    private lazy val order: Ordering[InternalRow] = {
      val sorted = plan.orderBy(TweetSearch.Order: _*).queryExecution.analyzed
      new InterpretedOrdering(sorted.collectFirst { case s: Sort => s.order }.get,
        plan.queryExecution.analyzed.output)
    }

    /** The first `limit` rows in [[TweetSearch.Order]]: a top-`limit` per
      * partition, merged on the driver.
      */
    def top(sc: SparkContext, values: Seq[(String, String)], limit: Int): Answer = {
      val ord = order
      val tops = Param.bind(sc, values)(rdd.mapPartitions(topK(_, limit, ord)).collect())
      answer(tops.sorted(ord).take(limit))
    }

    /** Every row, in [[TweetSearch.Order]] if `ordered`. */
    def all(sc: SparkContext, values: Seq[(String, String)], ordered: Boolean): Answer = {
      val rows = Param.bind(sc, values)(rdd.map(_.copy()).collect())
      answer(if (ordered) rows.sorted(order) else rows)
    }

    private def answer(rows: Array[InternalRow]): Answer =
      Answer(rows.toSeq.map(toRow(_).asInstanceOf[Row]), schema)
  }

  /** The `k` least rows of `rows` under `ord`, unordered, in a heap of at
    * most `k` copies.
    */
  private def topK(rows: Iterator[InternalRow], k: Int, ord: Ordering[InternalRow]): Iterator[InternalRow] = {
    val heap = new java.util.PriorityQueue[InternalRow](math.max(k, 1), ord.reverse)
    rows.foreach { r =>
      if (heap.size < k) heap.add(r.copy())
      else if (k > 0 && ord.lt(r, heap.peek())) { heap.poll(); heap.add(r.copy()) }
    }
    heap.iterator.asScala
  }
}
