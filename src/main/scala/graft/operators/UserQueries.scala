package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  def byScreenName(users: DataFrame, screenName: Column): DataFrame =
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
    * reference (retweet_count, favorite_count DESC; [[TweetSearch.Order]]),
    * every row kept. The declarative formulation the catalog and the
    * tests run; the engine collects [[userTweets]] and orders it on the
    * driver instead, which spares the global sort's sample and shuffle.
    */
  def tweetsForUser(
      tweetsWithAuthors: DataFrame,
      screenName: String,
      keyword: Option[String] = None,
      hashtags: Seq[String] = Nil): DataFrame =
    userTweets(tweetsWithAuthors, lit(screenName), keyword.map(lit), Predicates.tags(hashtags))
      .orderBy(TweetSearch.Order: _*)

  /** The unordered rows of [[tweetsForUser]]. `tweetsWithAuthors` is
    * [[TweetSearch.withAuthors]], which the engine joins once, so
    * resolving the screen name is a filter on `author_screen_name`, not a
    * join per request; the answer has the curated tweet columns only.
    * Needs `users.id` unique, as that join does.
    */
  def userTweets(
      tweetsWithAuthors: DataFrame,
      screenName: Column,
      keyword: Option[Column],
      hashtags: Option[Column]): DataFrame =
    tweetsWithAuthors
      .filter(col("author_screen_name") === screenName &&
        Predicates.searchPredicate(keyword, hashtags, None, None))
      .drop(TweetSearch.AuthorColumns: _*)
}
