package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** User-side queries (SURVEY §2.3 J1/J4, §3.2).
  *
  * The reference serves these from MySQL point SELECTs memoized in an LRU
  * (cache.py:164-190); here they are plain pruned scans, and a user's
  * tweets are a filter over the author-joined tweets.
  */
object UserQueries {

  /** F5: point read by user id (cache.py:166). */
  def byId(users: DataFrame, uid: String): DataFrame =
    users.filter(col("id") === uid)

  /** F5: point read by screen_name (cache.py:174). */
  def byScreenName(users: DataFrame, screenName: String): DataFrame =
    users.filter(col("screen_name") === screenName)

  /** T4: top-k users by followers (app.py:156). */
  def topByFollowers(users: DataFrame, k: Int = 5): DataFrame =
    users
      .orderBy(col("followers_count").desc, col("id"))
      .select("screen_name", "name", "followers_count")
      .limit(k)

  /** J4 chain: screen_name → that user's tweets, with optional
    * keyword/hashtag OR-refinement (implementing the *intended* semantics
    * of the reference's clobbered $or, cache.py:180-190) sorted like the
    * reference (retweet_count, favorite_count DESC), every row kept.
    *
    * `tweetsWithAuthors` is [[TweetSearch.withAuthors]], which the engine
    * joins once, so resolving the screen name is a filter on
    * `author_screen_name`, not a join per request; the answer has the
    * curated tweet columns only. Needs `users.id` unique, as that join
    * does.
    *
    * Eager, one Spark job: the filter's rows are collected unordered
    * (the scan keeps every task) and ordered on the driver, where a
    * global `orderBy` would add a range-partition sample and a shuffle.
    * The answer is a local frame. PRECONDITION: one user's tweets fit
    * the driver, as the engine's cached answer already requires.
    */
  def tweetsForUser(
      tweetsWithAuthors: DataFrame,
      screenName: String,
      keyword: Option[String] = None,
      hashtags: Seq[String] = Nil): DataFrame = {
    val refine = (keyword, hashtags) match {
      case (Some(k), hs) if hs.nonEmpty =>
        Predicates.keywordMatch(k) || Predicates.hashtagIn(hs)
      case (Some(k), _)              => Predicates.keywordMatch(k)
      case (None, hs) if hs.nonEmpty => Predicates.hashtagIn(hs)
      case _                         => lit(true)
    }
    val rows = tweetsWithAuthors
      .filter(col("author_screen_name") === screenName && refine)
      .drop(TweetSearch.AuthorColumns: _*)
    val sorted = rows.collect().sorted(referenceOrder(rows.schema))
    rows.sparkSession.createDataFrame(java.util.Arrays.asList(sorted: _*), rows.schema)
  }

  /** `retweet_count DESC, favorite_count DESC, id_str ASC` as Spark
    * orders them: nulls last under DESC and first under ASC, strings by
    * their UTF-8 bytes, the counts as integers.
    */
  private def referenceOrder(schema: StructType): Ordering[Row] = {
    def key[T: Ordering](name: String)(f: Any => T): Ordering[Row] = {
      val i = schema.fieldIndex(name)
      Ordering.Option[T].on(r => Option(r.get(i)).map(f))
    }
    implicit val utf8: Ordering[UTF8String] = (x, y) => x.compareTo(y)
    def count(name: String) = key(name)(_.asInstanceOf[Number].longValue).reverse
    count("retweet_count").orElse(count("favorite_count"))
      .orElse(key("id_str")(v => UTF8String.fromString(v.toString)))
  }
}
