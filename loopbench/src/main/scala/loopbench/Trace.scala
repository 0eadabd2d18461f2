package loopbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.Row

import graft.api.Engine

/** One session action. `kind` is one of [[Trace.Kinds]]; the other
  * fields are the parameters that kind reads.
  */
final case class Req(kind: String, word: Int = 0, tag: Int = 0, user: Int = 0,
    lang: String = "", day0: Int = 0, day1: Int = 0) {

  def key: String = kind match {
    case "search_kw"       => s"$kind|${Capture.word(word)}"
    case "search_kw_lang"  => s"$kind|${Capture.word(word)}|$lang"
    case "search_kw_range" => s"$kind|${Capture.word(word)}|$day0..$day1"
    case "search_tag"      => s"$kind|${Capture.tag(tag)}"
    case _                 => s"$kind|${Capture.screenName(user)}"
  }

  def range: (String, String) = (Trace.date(day0), Trace.date(day1))

  /** Issue this action through the engine's public entry points. */
  def call(e: Engine): Seq[Row] = kind match {
    case "search_kw"       => e.searchTweets(keyword = Some(Capture.word(word)))
    case "search_kw_lang"  => e.searchTweets(keyword = Some(Capture.word(word)), lang = Some(lang))
    case "search_kw_range" => e.searchTweets(keyword = Some(Capture.word(word)), dateRange = Some(range))
    case "search_tag"      => e.searchTweets(hashtags = Seq(Capture.tag(tag)))
    case "user"            => e.userByScreenName(Capture.screenName(user))
    case "user_tweets"     => e.tweetsForUser(Capture.screenName(user))
  }
}

/** Seeded session traces over a capture's key domains. */
object Trace {
  val Kinds: Vector[String] =
    Vector("search_kw", "search_kw_lang", "search_kw_range", "search_tag", "user", "user_tweets")
  val Mix: Vector[Double] = Vector(0.30, 0.10, 0.10, 0.20, 0.20, 0.10)
  val KeywordDomain = 3000
  val TagDomain = 300
  val UserDomain = 20000

  private val Fmt = DateTimeFormatter.ofPattern("MM/dd/yyyy")
  def date(day: Int): String =
    LocalDate.ofEpochDay(Capture.Epoch0 / 86400 + day).format(Fmt)

  private def draw(kind: String, rng: SplittableRandom,
      words: Zipf, tags: Zipf, users: Zipf): Req = {
    val day0 = rng.nextInt(Capture.Days - 5)
    kind match {
      case "search_kw"       => Req(kind, word = words.draw(rng))
      case "search_kw_lang"  =>
        Req(kind, word = words.draw(rng), lang = Capture.Langs(rng.nextInt(Capture.Langs.size)))
      case "search_kw_range" =>
        Req(kind, word = words.draw(rng), day0 = day0, day1 = day0 + 1 + rng.nextInt(5))
      case "search_tag"      => Req(kind, tag = tags.draw(rng))
      case _                 => Req(kind, user = users.draw(rng) - 1)
    }
  }

  private def domains(s: Double) =
    (new Zipf(KeywordDomain, s), new Zipf(TagDomain, s), new Zipf(UserDomain, s))

  /** A trace over `poolSize` distinct keys, split across the kinds by
    * [[Mix]] and requested with Zipf(`s`) popularity over a seeded
    * permutation of the pool.
    */
  def pooled(seed: Long, poolSize: Int, s: Double, length: Int): Vector[Req] = {
    val rng = new SplittableRandom(seed)
    val (w, t, u) = domains(0.6)
    val perKind = Mix.map(m => math.max(1, math.round(m * poolSize).toInt))
    val pool = Kinds.zip(perKind).flatMap { case (k, c) =>
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, Req]
      while (seen.size < c) { val r = draw(k, rng, w, t, u); seen.getOrElseUpdate(r.key, r) }
      seen.values
    }.toArray
    var i = pool.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val x = pool(i); pool(i) = pool(j); pool(j) = x
      i -= 1
    }
    val pop = new Zipf(pool.length, s)
    Vector.fill(length)(pool(pop.draw(rng) - 1))
  }

  /** A trace whose keys are drawn per request, each parameter Zipf(`s`)
    * over its own domain. The kinds keep [[Mix]]'s shares exactly, in a
    * seeded order, so every kind has samples even in a short trace.
    */
  def open(seed: Long, s: Double, length: Int): Vector[Req] = {
    val rng = new SplittableRandom(seed)
    val (w, t, u) = domains(s)
    val counts = Mix.map(m => math.round(m * length).toInt)
    val kinds = Kinds.zip(counts).flatMap { case (k, c) => Vector.fill(c)(k) }.toArray
    var i = kinds.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val x = kinds(i); kinds(i) = kinds(j); kinds(j) = x
      i -= 1
    }
    kinds.toVector.map(draw(_, rng, w, t, u))
  }
}
