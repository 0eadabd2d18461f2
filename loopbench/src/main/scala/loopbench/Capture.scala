package loopbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Zipf(s) over ranks 1..n, drawn by inverse CDF. */
final class Zipf(val n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += math.pow(r + 1.0, -s); a(r) = acc; r += 1 }
    a
  }

  def draw(rng: SplittableRandom): Int = {
    val u = rng.nextDouble() * cdf(n - 1)
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo + 1
  }
}

/** The closed-form model of one generated capture: every original's
  * fields, the users that appear, and the line counts. Search answers
  * are derived from it, never from the engine.
  */
final class Model(
    val seed: Long,
    val originals: Int,
    val author: Array[Int],
    val words: Array[Array[Int]],
    val tags: Array[Array[Int]],
    val lang: Array[Int],
    val createdSec: Array[Long],
    val retweets: Array[Long],
    val favorites: Array[Long],
    val users: java.util.BitSet,
    val lineCounts: Map[String, Int]) {

  def distinctUsers: Int = users.cardinality()

  private def invert(of: Int => Array[Int]): Map[Int, Array[Int]] = {
    val m = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofInt]
    var i = 0
    while (i < originals) {
      of(i).distinct.foreach(k => m.getOrElseUpdate(k, new mutable.ArrayBuilder.ofInt) += i)
      i += 1
    }
    m.map { case (k, b) => k -> b.result() }.toMap
  }

  lazy val byWord: Map[Int, Array[Int]] = invert(words)
  lazy val byTag: Map[Int, Array[Int]] = invert(tags)
  lazy val byAuthor: Map[Int, Array[Int]] = invert(i => Array(author(i)))

  /** The engine's result order: retweet_count desc, favorite_count desc,
    * id_str ascending (all ids have 19 digits, so string order is
    * numeric order).
    */
  def ordered(ix: Seq[Int]): Seq[Int] =
    ix.sortBy(i => (-retweets(i), -favorites(i), Capture.tweetId(i)))

  def text(i: Int): String = Capture.text(words(i), tags(i))
}

/** Seeded synthetic capture in the raw streaming-API shape (FIXTURES.md
  * §1): originals, `RT @…` lines carrying the full `retweeted_status`,
  * 10% duplicate deliveries, delete notices and malformed lines.
  *
  * Text tokens are `k<rank>x` and hashtags `h<rank>y`: no token is a
  * substring of another, so the engine's case-insensitive substring
  * match for one keyword hits exactly the texts holding that token.
  */
object Capture {
  val Langs: Vector[String] = Vector("en", "es", "pt", "in", "tr", "fr", "ar", "hi", "nl", "und")
  private val LangCdf: Array[Double] =
    Array(0.50, 0.12, 0.08, 0.06, 0.05, 0.05, 0.04, 0.04, 0.03, 0.03).scanLeft(0.0)(_ + _).tail
  val Vocab = 20000
  val Tags = 300
  val UserPool = 20000
  val Days = 30
  /** 2020-04-01T00:00:00Z, the first day of the capture window. */
  val Epoch0 = 1585699200L

  def word(rank: Int): String = s"k${rank}x"
  def tag(rank: Int): String = s"h${rank}y"
  def screenName(u: Int): String = s"u$u"
  def userId(u: Int): String = (1000000000L + u.toLong * 7919L).toString
  def tweetId(i: Int): Long = 1250000000000000000L + i.toLong * 1000L
  def retweetId(j: Int): Long = 1260000000000000000L + j.toLong

  def text(words: Array[Int], tags: Array[Int]): String =
    (words.iterator.map(word) ++ tags.iterator.map(t => "#" + tag(t))).mkString(" ")

  private val TwitterTime =
    DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss Z yyyy", Locale.ROOT).withZone(ZoneOffset.UTC)
  def twitterTime(sec: Long): String = TwitterTime.format(Instant.ofEpochSecond(sec))

  /** User profile fields are a pure function of (seed, user), so every
    * line that carries a user carries the same profile.
    */
  private def mix(seed: Long, u: Int, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + u * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
  def followers(seed: Long, u: Int): Long = mix(seed, u, 1) % 250000L
  def userName(u: Int): String = s"User $u"
  private val Locations = Vector("London", "Mumbai", "Sao Paulo", "Jakarta", "Istanbul", "Paris", "")

  private def userJson(seed: Long, u: Int, sb: java.lang.StringBuilder): Unit = {
    val uid = userId(u)
    sb.append("{\"id\":").append(uid).append(",\"id_str\":\"").append(uid)
      .append("\",\"name\":\"").append(userName(u))
      .append("\",\"screen_name\":\"").append(screenName(u))
      .append("\",\"location\":\"").append(Locations((mix(seed, u, 2) % Locations.size).toInt))
      .append("\",\"url\":null,\"description\":\"profile of ").append(screenName(u))
      .append("\",\"protected\":false,\"verified\":").append(u % 97 == 0)
      .append(",\"followers_count\":").append(followers(seed, u))
      .append(",\"friends_count\":").append(mix(seed, u, 3) % 5000L)
      .append(",\"listed_count\":").append(mix(seed, u, 4) % 100L)
      .append(",\"favourites_count\":").append(mix(seed, u, 5) % 20000L)
      .append(",\"statuses_count\":").append(mix(seed, u, 6) % 90000L)
      .append(",\"created_at\":\"")
      .append(twitterTime(1262304000L + mix(seed, u, 7) % 315360000L))
      .append("\",\"geo_enabled\":false,\"lang\":null,\"profile_background_color\":\"C0DEED\"")
      .append(",\"profile_image_url_https\":\"https://pbs.twimg.com/profile_images/")
      .append(uid).append("/normal.jpg\",\"default_profile\":true}")
  }

  private def entitiesJson(text: String, tags: Array[Int], sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"hashtags\":[")
    var first = true
    tags.foreach { t =>
      val h = "#" + tag(t)
      val at = text.indexOf(h)
      if (!first) sb.append(',')
      first = false
      sb.append("{\"text\":\"").append(tag(t)).append("\",\"indices\":[")
        .append(at).append(',').append(at + h.length).append("]}")
    }
    sb.append("],\"urls\":[],\"user_mentions\":[],\"symbols\":[]}")
  }

  private def statusJson(seed: Long, m: Model, i: Int, sb: java.lang.StringBuilder): Unit = {
    val id = tweetId(i)
    val text = m.text(i)
    sb.append("{\"created_at\":\"").append(twitterTime(m.createdSec(i)))
      .append("\",\"id\":").append(id).append(",\"id_str\":\"").append(id)
      .append("\",\"text\":\"").append(text)
      .append("\",\"source\":\"<a href=\\\"https://mobile.twitter.com\\\" rel=\\\"nofollow\\\">Twitter Web App</a>\"")
      .append(",\"truncated\":false,\"in_reply_to_status_id\":null,\"user\":")
    userJson(seed, m.author(i), sb)
    sb.append(",\"geo\":null,\"coordinates\":null,\"place\":null,\"is_quote_status\":false")
      .append(",\"quote_count\":").append(m.retweets(i) / 7)
      .append(",\"reply_count\":").append(m.favorites(i) / 11)
      .append(",\"retweet_count\":").append(m.retweets(i))
      .append(",\"favorite_count\":").append(m.favorites(i))
      .append(",\"entities\":")
    entitiesJson(text, m.tags(i), sb)
    sb.append(",\"favorited\":false,\"retweeted\":false,\"filter_level\":\"low\",\"lang\":\"")
      .append(Langs(m.lang(i))).append("\"}")
  }

  /** Generate `originals` originals from `seed`, write the capture as
    * one JSONL file at `path`, and return its model.
    */
  def generate(seed: Long, originals: Int, path: Path): Model = {
    val rng = new SplittableRandom(seed)
    val authorZipf = new Zipf(UserPool, 0.8)
    val wordZipf = new Zipf(Vocab, 1.0)
    val tagZipf = new Zipf(Tags, 1.0)
    val n = originals
    val author = new Array[Int](n)
    val words = new Array[Array[Int]](n)
    val tags = new Array[Array[Int]](n)
    val lang = new Array[Int](n)
    val created = new Array[Long](n)
    val rts = new Array[Long](n)
    val favs = new Array[Long](n)
    var i = 0
    while (i < n) {
      author(i) = authorZipf.draw(rng) - 1
      words(i) = Array.fill(8 + rng.nextInt(7))(wordZipf.draw(rng))
      tags(i) = Array.fill(rng.nextInt(3))(tagZipf.draw(rng)).distinct
      val u = rng.nextDouble()
      lang(i) = LangCdf.indexWhere(u < _) match { case -1 => Langs.size - 1; case k => k }
      created(i) = Epoch0 + rng.nextLong(Days * 86400L)
      rts(i) = (math.pow(rng.nextDouble(), 4) * 5000).toLong
      favs(i) = (math.pow(rng.nextDouble(), 3) * 20000).toLong
      i += 1
    }
    val users = new java.util.BitSet(UserPool)
    author.foreach(users.set)
    val m0 = new Model(seed, n, author, words, tags, lang, created, rts, favs, users, Map.empty)

    val lines = mutable.ArrayBuffer.empty[String]
    var ownLines = 0
    var rtLines = 0
    var rtSeq = 0
    val sb = new java.lang.StringBuilder(4096)
    i = 0
    while (i < n) {
      val k = if (rng.nextDouble() < 0.7) 0 else 1 + rng.nextInt(3)
      if (k == 0 || rng.nextDouble() >= 0.1) {
        sb.setLength(0); statusJson(seed, m0, i, sb); lines += sb.toString; ownLines += 1
      }
      var j = 0
      while (j < k) {
        val who = rng.nextInt(UserPool)
        users.set(who)
        val id = retweetId(rtSeq); rtSeq += 1
        val rtText = s"RT @${screenName(author(i))}: " + m0.text(i).take(60)
        sb.setLength(0)
        sb.append("{\"created_at\":\"")
          .append(twitterTime(created(i) + 1 + rng.nextInt(86400)))
          .append("\",\"id\":").append(id).append(",\"id_str\":\"").append(id)
          .append("\",\"text\":\"").append(rtText)
          .append("\",\"truncated\":false,\"user\":")
        userJson(seed, who, sb)
        sb.append(",\"retweeted_status\":")
        statusJson(seed, m0, i, sb)
        sb.append(",\"is_quote_status\":false,\"quote_count\":0,\"reply_count\":0")
          .append(",\"retweet_count\":0,\"favorite_count\":0,\"entities\":")
        entitiesJson(rtText, Array.empty, sb)
        sb.append(",\"favorited\":false,\"retweeted\":false,\"filter_level\":\"low\",\"lang\":\"")
          .append(Langs(lang(i))).append("\"}")
        lines += sb.toString
        rtLines += 1
        j += 1
      }
      i += 1
    }
    val statusLines = lines.size
    val dups = (0 until statusLines).filter(_ => rng.nextDouble() < 0.1).map(lines(_))
    lines ++= dups
    val deletes = statusLines / 50
    (0 until deletes).foreach { d =>
      val id = tweetId(rng.nextInt(n)) + 1 + d
      lines += s"""{"delete":{"status":{"id":$id,"id_str":"$id","user_id":1,"user_id_str":"1"},"timestamp_ms":"${Epoch0 * 1000 + d}"}}"""
    }
    val malformed = statusLines / 100
    (0 until malformed).foreach { _ =>
      val l = lines(rng.nextInt(statusLines))
      lines += l.substring(0, l.length / 2)
    }
    // a capture interleaves everything; Fisher-Yates keeps it seeded
    var k = lines.size - 1
    while (k > 0) {
      val r = rng.nextInt(k + 1)
      val t = lines(k); lines(k) = lines(r); lines(r) = t
      k -= 1
    }
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path),
      StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()

    new Model(seed, n, author, words, tags, lang, created, rts, favs, users, Map(
      "own" -> ownLines, "retweet" -> rtLines, "duplicate" -> dups.size,
      "delete" -> deletes, "malformed" -> malformed, "total" -> lines.size))
  }
}
