package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestFixtures}

/** Predicates (F1-F9), TweetSearch (§3.1), UserQueries (§3.2), Keywords
  * (A1/A2) over the curated-shaped fixture.
  */
class SearchSpec extends SparkSpec {

  private lazy val tweets = { import spark.implicits._; TestFixtures.tweets.toDF() }
  private lazy val users = { import spark.implicits._; TestFixtures.users.toDF() }

  test("F1 keyword regex is case-insensitive substring") {
    val got = tweets.filter(Predicates.keywordMatch(lit("house")))
      .select("id_str").collect().map(_.getString(0)).sorted
    assert(got === Array("2", "5")) // 'house' and 'House'

    // the native match answers exactly what RLIKE '(?i)kw' answers, null
    // included, both in generated code and interpreted
    import spark.implicits._
    val texts = Seq(
      "1" -> "the HOUSE is big", "2" -> "a horse, a hoUse", "3" -> "ho.se",
      "4" -> "Ärger im Haus", "5" -> "ärger über 家 und ÄRGER", "6" -> null)
      .toDF("id", "text").repartition(2) // not a local relation: runs as a scan
    for {
      kw <- Seq("house", "HoUsE", "ho.se", "ho\\.se", "ärger", "ÄRGER", "家", "^a ", "")
      (factory, wholeStage) <- Seq(("CODEGEN_ONLY", "true"), ("NO_CODEGEN", "false"))
    } {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        def answers(c: org.apache.spark.sql.Column) = texts.select(col("id"), c)
          .collect().map(r => r.getString(0) -> Option(r.get(1))).sortBy(_._1).toSeq
        assert(answers(Predicates.keywordMatch(lit(kw))) === answers(col("text").rlike("(?i)" + kw)),
          s"keyword '$kw' under $factory")
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    // a malformed pattern still fails the query
    val e = intercept[Exception](texts.filter(Predicates.keywordMatch(lit("(ho"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.regex.PatternSyntaxException]), e.toString)
  }

  test("F2 hashtag membership is exact and case-sensitive") {
    assert(tweets.filter(Predicates.hashtagIn(typedLit(Seq("corona"))))
      .count() === 2)
    assert(tweets.filter(Predicates.hashtagIn(typedLit(Seq("Corona")))).count() === 0)
    assert(tweets.filter(Predicates.hashtagIn(typedLit(Seq("casa", "politics"))))
      .count() === 2)
  }

  test("F3+F7 conjunctive accretion; F6 keyword-OR-hashtag intended semantics") {
    val pred = Predicates.searchPredicate(
      Some(lit("house")), Predicates.tags(Seq("casa")), Some(lit("en")), None)
    // (text~house OR #casa) AND lang=en → ids 2,5 (3 is es)
    val got = tweets.filter(pred).select("id_str").collect().map(_.getString(0)).sorted
    assert(got === Array("2", "5"))
  }

  test("F9 date range applies on parsed Twitter timestamps") {
    val pred = Predicates.searchPredicate(None, None, None,
      Some((lit("04/13/2020"), lit("04/15/2020"))))
    // end date coerces to midnight → 04/15 09:15 (id 4) is excluded
    val got = tweets.filter(pred).select("id_str").collect().map(_.getString(0)).sorted
    assert(got === Array("2", "3"))
  }

  test("search sorts by (retweet_count, favorite_count) desc and limits") {
    val got = TweetSearch.search(tweets, lang = Some("en"), limit = 2)
      .select("id_str").collect().map(_.getString(0))
    assert(got === Array("2", "1")) // rt 20 first, then rt 10
  }

  test("withAuthors left-joins author columns; search over it keeps them") {
    val joined = TweetSearch.withAuthors(tweets, users)
    assert(joined.columns.toSeq === tweets.columns.toSeq ++ TweetSearch.AuthorColumns)
    assert(joined.count() === tweets.count())
    val got = TweetSearch.search(joined, keyword = Some("house"))
      .select("id_str", "author_screen_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("2" -> "alice", "5" -> "bob"))
  }

  test("unionSearch keeps duplicates (reference §2.7 quirk)") {
    // id 2 matches keyword 'house'... and id 3 matches #casa; no overlap here,
    // so force overlap: keyword 'a' matches 2,3,4,5 & #corona matches 2,3.
    val n = TweetSearch.unionSearch(tweets, "a", Seq("corona")).count()
    assert(n === tweets.filter(Predicates.keywordMatch(lit("a"))).count()
      + tweets.filter(Predicates.hashtagIn(typedLit(Seq("corona")))).count())
  }

  test("pagination slices an ordered result without gaps/overlap") {
    val all = TweetSearch.search(tweets, limit = 5).select("id_str")
      .collect().map(_.getString(0))
    val p1 = TweetSearch.page(tweets, 1, 2).select("id_str").collect().map(_.getString(0))
    val p2 = TweetSearch.page(tweets, 2, 2).select("id_str").collect().map(_.getString(0))
    val p3 = TweetSearch.page(tweets, 3, 2).select("id_str").collect().map(_.getString(0))
    assert((p1 ++ p2 ++ p3).toSeq === all.toSeq)
  }

  test("T5 display cap slices retweets to at most 30 and keeps null arrays null") {
    import spark.implicits._
    val df = Seq(
      ("1", Some(Seq.tabulate(40)(i => s"rt$i"))),
      ("2", Some(Seq("a"))),
      ("3", Option.empty[Seq[String]]))
      .toDF("id_str", "retweets")
    val got = TweetSearch.withDisplayCap(df, cap = 30)
      .collect()
      .map(r => r.getString(0) -> Option(r.getSeq[String](1)).map(_.size))
      .toMap
    assert(got === Map("1" -> Some(30), "2" -> Some(1), "3" -> None))
    // first 30 retained in order, not an arbitrary subset
    val first = TweetSearch.withDisplayCap(df, cap = 30)
      .filter($"id_str" === "1").collect().head.getSeq[String](1)
    assert(first === Seq.tabulate(30)(i => s"rt$i"))
  }

  test("topTweetsByFavorites returns the favorite-count top-k") {
    val got = TweetSearch.topTweetsByFavorites(tweets, 2)
      .select("id_str").collect().map(_.getString(0))
    assert(got === Array("5", "1"))
  }

  test("user point reads and top-by-followers") {
    assert(UserQueries.byScreenName(users, lit("bob")).count() === 1)
    assert(UserQueries.byId(users, "u3").collect().head.getAs[String]("name") === "Carol")
    val top = UserQueries.topByFollowers(users, 2)
      .select("screen_name").collect().map(_.getString(0))
    assert(top === Array("bob", "alice"))
  }

  test("J4 chain: screen_name → uid → tweets, ordered") {
    val joined = TweetSearch.withAuthors(tweets, users)
    assert(UserQueries.tweetsForUser(joined, "bob").columns.toSeq === tweets.columns.toSeq)
    val got = UserQueries.tweetsForUser(joined, "bob")
      .select("id_str").collect().map(_.getString(0))
    assert(got === Array("3", "5")) // u2: rt 20 beats rt 3
    val refined = UserQueries.tweetsForUser(joined, "bob", keyword = Some("white"))
      .select("id_str").collect().map(_.getString(0))
    assert(refined === Array("5"))
  }

  test("A1/A2 top keywords drop stopwords and non-alnum, count globally") {
    val got = Keywords.topKeywords(tweets, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.head._1 === "house" && got.head._2 === 2) // house ×2 (case-folded)
    assert(!got.map(_._1).contains("the")) // stopword dropped
  }
}
