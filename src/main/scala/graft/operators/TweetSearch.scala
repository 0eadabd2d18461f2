package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interactive tweet search (SURVEY §3.1) as one declarative plan.
  *
  * The reference's results page (app.py:106-191 → cache.py:70-162) builds a
  * Mongo filter, server-sorts, client-truncates at 50, then does N+1 MySQL
  * lookups per rendered row. Here the author lookup is one left join,
  * [[withAuthors]], which [[graft.api.Engine]] runs and persists once; a
  * search over that relation is filter → multi-key top-k (fused by
  * Catalyst into TakeOrderedAndProject — no full sort materialization).
  *
  * [[search]] is the declarative formulation the catalog and the tests
  * run. The engine serves the same answer from a scan it prepares once
  * per request shape: the same [[Predicates.searchPredicate]] over
  * parameters, a top-k per partition in [[Order]], merged on the driver.
  */
object TweetSearch {

  val DefaultLimit = 50
  val PageSize     = 10

  /** The result order: (retweet_count, favorite_count) DESC — the cache
    * path's key order (cache.py:153; the direct path T1 uses a different
    * order and a lexicographic created_at sort, documented quirk SURVEY
    * §7.4#4) — then `id_str`, so ties have one answer.
    */
  val Order: Seq[Column] = Seq(col("retweet_count").desc, col("favorite_count").desc, col("id_str"))

  /** Core search: the top `limit` tweets matching the accreted predicate,
    * in [[Order]].
    */
  def search(
      tweets: DataFrame,
      keyword: Option[String] = None,
      hashtags: Seq[String] = Nil,
      lang: Option[String] = None,
      dateRange: Option[(String, String)] = None,
      limit: Int = DefaultLimit): DataFrame =
    tweets
      .filter(Predicates.searchPredicate(keyword.map(lit), Predicates.tags(hashtags),
        lang.map(lit), dateRange.map { case (s, e) => (lit(s), lit(e)) }))
      .orderBy(Order: _*)
      .limit(limit)

  /** The columns [[withAuthors]] appends, in order. */
  val AuthorColumns: Seq[String] = Seq("author_name", "author_screen_name", "author_followers")

  /** Author enrichment: every tweet left-joined to its author's name,
    * screen name and follower count ([[AuthorColumns]], null when
    * `user_id` has no user). One broadcast join replaces the reference's
    * per-row memoized MySQL point reads (J1, app.py:205); [[search]] over
    * this relation returns the enriched top-k.
    *
    * PRECONDITION: `users.id` is unique (`TweetIngest.users` dedups on
    * it). A duplicated id would repeat its tweets, and since the join runs
    * before the top-k, the repeats would push other tweets out of it.
    */
  def withAuthors(tweets: DataFrame, users: DataFrame): DataFrame =
    tweets
      .join(broadcast(users.select(
        col("id").as("author_id"),
        col("name").as("author_name"),
        col("screen_name").as("author_screen_name"),
        col("followers_count").as("author_followers"))),
        col("user_id") === col("author_id"), "left")
      .drop("author_id")

  /** Pagination (T6/§2.5): slice page `page` (1-based) of an ordered
    * result. The reference slices a collected list driver-side
    * (app.py:200-201). Engine-side: sort + OFFSET + LIMIT — Spark plans
    * this as a distributed top-(offset+limit) (TakeOrderedAndProject with
    * offset), so only `pageNum * pageSize` rows ever reach one task. A
    * global row_number window here would move the WHOLE result to a single
    * task — the round-1 scale-killer, regression-locked in PlanSpec.
    */
  def page(ordered: DataFrame, pageNum: Int, pageSize: Int = PageSize): DataFrame =
    ordered
      .orderBy(Order: _*)
      .offset((pageNum - 1) * pageSize)
      .limit(pageSize)

  /** T5: display cap — render at most `cap` retweets per tweet (the
    * reference slices `retweets[:30]` at render time, app.py:245-247).
    * Null retweet arrays (originals with no retweets) stay null.
    */
  def withDisplayCap(tweets: DataFrame, cap: Int = 30): DataFrame =
    tweets.withColumn("retweets",
      when(col("retweets").isNotNull, slice(col("retweets"), 1, cap)))

  /** T4 sidebar: top-5 tweets by favorites (app.py:170-171). */
  def topTweetsByFavorites(tweets: DataFrame, k: Int = 5): DataFrame =
    tweets.orderBy(col("favorite_count").desc, col("id_str")).limit(k)

  /** §2.7: UNION ALL of a keyword search and a hashtag search — the
    * reference concatenates both result lists (app.py:141-144), duplicates
    * retained for parity.
    */
  def unionSearch(tweets: DataFrame, keyword: String, hashtags: Seq[String],
      lang: Option[String] = None, limit: Int = DefaultLimit): DataFrame =
    search(tweets, Some(keyword), Nil, lang, None, limit)
      .unionByName(search(tweets, None, hashtags, lang, None, limit))
}
