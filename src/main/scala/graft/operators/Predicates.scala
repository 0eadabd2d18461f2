package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{KeywordMatch, TaskConstant}
import graft.schema.TwitterSchemas.parseTwitterTime

/** F1-F9 as composable Column builders (SURVEY §2.2).
  *
  * The reference accretes a MongoDB query dict (app.py:120-129,
  * cache.py:143-151); here each predicate is a `Column` and a search is a
  * fold of `&&` over the provided params. All of these push down to the
  * parquet scan (or prune partitions, for `lang`).
  *
  * Every builder takes its values as `Column`s: a literal (`lit`,
  * `typedLit`) for a one-off query, or a [[graft.functions.Param]] for a
  * plan prepared once and re-run with new values ([[graft.api.Engine]]).
  * A value derived from a parameter (a parsed date, a parsed list) is
  * computed once per task ([[TaskConstant]]), not on every row; over
  * literals it folds to a literal as before.
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
  def keywordMatch(keyword: Column): Column =
    KeywordMatch.matches(col("text"), TaskConstant.of(keyword))

  /** F2: hashtag membership over the nested entities array — true if any
    * element's `text` is in `hashtags`, an `array<string>` (exact,
    * case-sensitive, matching Mongo `$in` on an array path, app.py:126).
    */
  def hashtagIn(hashtags: Column): Column = {
    val tags = TaskConstant.of(hashtags)
    exists(col("entities.hashtags"), h => array_contains(tags, h.getField("text")))
  }

  /** `hashtags` as the `array<string>` literal [[hashtagIn]] takes, or
    * None for an empty list (no hashtag predicate).
    */
  def tags(hashtags: Seq[String]): Option[Column] =
    if (hashtags.isEmpty) None else Some(typedLit(hashtags))

  /** F3: language equality (app.py:128). On a lang-partitioned table this
    * is partition pruning, not a filter.
    */
  def langEq(lang: Column): Column = col("lang") === TaskConstant.of(lang)

  /** F9: date range over the Twitter-format created_at string, the bounds
    * `MM/dd/yyyy` strings — collected by the reference's UI but never
    * applied (app.py:75-76,113-114); implemented for real here (SURVEY
    * §7.4#4).
    */
  def createdBetween(startDate: Column, endDate: Column): Column = {
    def day(c: Column) = TaskConstant.of(to_date(c, "MM/dd/yyyy"))
    parseTwitterTime(col("created_at")).between(day(startDate), day(endDate))
  }

  /** F6/F7: fold optional predicates conjunctively; within the keyword /
    * hashtag pair the reference *intends* OR (its implementation clobbers
    * one branch, cache.py:182-185 — we implement the intended semantics).
    */
  def searchPredicate(
      keyword: Option[Column],
      hashtags: Option[Column],
      lang: Option[Column],
      dateRange: Option[(Column, Column)]): Column = {
    val kwOrTag = (keyword.map(keywordMatch) ++ hashtags.map(hashtagIn)).reduceOption(_ || _)
    val conds: Seq[Column] =
      kwOrTag.toSeq ++
        lang.map(langEq).toSeq ++
        dateRange.map { case (s, e) => createdBetween(s, e) }.toSeq
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }
}
