package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.KeywordMatch
import graft.schema.TwitterSchemas.parseTwitterTime

/** F1-F9 as composable Column builders (SURVEY §2.2).
  *
  * The reference accretes a MongoDB query dict (app.py:120-129,
  * cache.py:143-151); here each predicate is a `Column` and a search is a
  * fold of `&&` over the provided params. All of these push down to the
  * parquet scan (or prune partitions, for `lang`).
  */
object Predicates {

  /** F1: case-insensitive substring regex on text (Mongo `$regex` with
    * `$options: "i"`, app.py:122). Mongo is PCRE, Spark is Java regex —
    * identical for plain keywords; callers passing raw regex should mind
    * the dialect delta (SURVEY §7.4#2).
    *
    * Same answers as `col("text").rlike("(?i)" + keyword)`, but through
    * [[graft.functions.KeywordMatch]]: the keyword stays out of the
    * generated source, so a search for a new keyword reuses the compiled
    * whole-stage class instead of compiling one of its own.
    */
  def keywordMatch(keyword: String): Column =
    KeywordMatch.matches(col("text"), keyword)

  /** F2: hashtag membership over the nested entities array — true if any
    * element's `text` is in the list (exact, case-sensitive, matching
    * Mongo `$in` on an array path, app.py:126).
    */
  def hashtagIn(hashtags: Seq[String]): Column =
    exists(col("entities.hashtags"),
      h => h.getField("text").isin(hashtags: _*))

  /** F3: language equality (app.py:128). On a lang-partitioned table this
    * is partition pruning, not a filter.
    */
  def langEq(lang: String): Column = col("lang") === lang

  /** F8: the reference's retweet classifier (text startswith "RT"). */
  def isRetweetText: Column = col("text").startsWith("RT")

  /** F9: date range over the Twitter-format created_at string — collected
    * by the reference's UI but never applied (app.py:75-76,113-114);
    * implemented for real here (SURVEY §7.4#4).
    */
  def createdBetween(startDate: String, endDate: String): Column =
    parseTwitterTime(col("created_at"))
      .between(to_date(lit(startDate), "MM/dd/yyyy"), to_date(lit(endDate), "MM/dd/yyyy"))

  /** F5: key equality point filter. */
  def byUserId(uid: String): Column = col("user_id") === uid

  /** F6/F7: fold optional predicates conjunctively; within the keyword /
    * hashtag pair the reference *intends* OR (its implementation clobbers
    * one branch, cache.py:182-185 — we implement the intended semantics).
    */
  def searchPredicate(
      keyword: Option[String],
      hashtags: Seq[String],
      lang: Option[String],
      dateRange: Option[(String, String)]): Column = {
    val kwOrTag: Option[Column] = (keyword, hashtags) match {
      case (Some(k), hs) if hs.nonEmpty => Some(keywordMatch(k) || hashtagIn(hs))
      case (Some(k), _)                 => Some(keywordMatch(k))
      case (None, hs) if hs.nonEmpty    => Some(hashtagIn(hs))
      case _                            => None
    }
    val conds: Seq[Column] =
      kwOrTag.toSeq ++
        lang.map(langEq).toSeq ++
        dateRange.map { case (s, e) => createdBetween(s, e) }.toSeq
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }
}
