package loopbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The generator's closed-form model against the capture it wrote. */
class CaptureSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def generate(seed: Long, n: Int): (Model, Seq[String], Path) = {
    val dir = Files.createTempDirectory("loopbench-capture")
    val p = dir.resolve("capture.jsonl")
    val m = Capture.generate(seed, n, p)
    (m, Files.readAllLines(p).asScala.toSeq, dir)
  }

  private def parse(line: String): Option[JsonNode] =
    try Some(mapper.readTree(line)) catch { case _: Exception => None }

  private def withCapture(seed: Long, n: Int)(body: (Model, Seq[String]) => Unit): Unit = {
    val (m, lines, dir) = generate(seed, n)
    try body(m, lines)
    finally graft.util.Paths.deleteRecursively(dir)
  }

  test("model counts equal the capture's distinct originals and users") {
    withCapture(7, 300) { (m, lines) =>
      val statuses = lines.flatMap(parse).filter(_.hasNonNull("id_str"))
      val originals = statuses.map { s =>
        if (s.get("text").asText.startsWith("RT")) s.get("retweeted_status") else s
      }
      val users = statuses.flatMap(s => Seq(s.get("user")) ++ Option(s.get("retweeted_status")).map(_.get("user")))
        .map(_.get("id_str").asText).toSet
      assert(originals.map(_.get("id_str").asText).toSet.size == m.originals)
      assert(users.size == m.distinctUsers)
      assert(lines.size == m.lineCounts("total"))
    }
  }

  test("every original carries the model's fields, identically in every copy") {
    withCapture(11, 300) { (m, lines) =>
      val statuses = lines.flatMap(parse).filter(_.hasNonNull("id_str"))
      val copies = statuses.flatMap { s =>
        if (s.get("text").asText.startsWith("RT")) Seq(s.get("retweeted_status")) else Seq(s)
      }
      assert(copies.size > m.originals)
      copies.foreach { c =>
        val i = ((c.get("id_str").asText.toLong - Capture.tweetId(0)) / 1000).toInt
        assert(c.get("text").asText == m.text(i))
        assert(c.get("lang").asText == Capture.Langs(m.lang(i)))
        assert(c.get("retweet_count").asLong == m.retweets(i))
        assert(c.get("favorite_count").asLong == m.favorites(i))
        assert(c.at("/user/id_str").asText == Capture.userId(m.author(i)))
        assert(c.at("/user/followers_count").asLong == Capture.followers(m.seed, m.author(i)))
        val tags = c.at("/entities/hashtags").elements().asScala.map(_.get("text").asText).toSeq
        assert(tags == m.tags(i).toSeq.map(Capture.tag))
        val t = Capture.twitterTime(m.createdSec(i))
        assert(c.get("created_at").asText == t)
      }
    }
  }

  test("retweets, duplicates and noise are present in the stated shares") {
    withCapture(13, 2000) { (m, lines) =>
      val c = m.lineCounts
      val parsed = lines.map(parse)
      assert(parsed.count(_.isEmpty) == c("malformed"))
      assert(parsed.flatten.count(_.has("delete")) == c("delete"))
      val rts = parsed.flatten.filter(s => s.hasNonNull("id_str") && s.get("text").asText.startsWith("RT @"))
      assert(rts.forall(_.hasNonNull("retweeted_status")))
      assert(rts.map(_.get("id_str").asText).toSet.size == c("retweet"))
      val share = c("duplicate").toDouble / (c("own") + c("retweet"))
      assert(share > 0.07 && share < 0.13, s"duplicate share $share")
    }
  }

  test("a keyword's substring match hits exactly the texts holding its token") {
    withCapture(17, 500) { (m, _) =>
      (1 to 400).foreach { r =>
        val w = Capture.word(r)
        (0 until m.originals).foreach { i =>
          assert(m.text(i).contains(w) == m.words(i).contains(r), s"$w in ${m.text(i)}")
        }
      }
    }
  }

  test("the same seed writes the same capture; another seed does not") {
    val (_, a, da) = generate(5, 200)
    val (_, b, db) = generate(5, 200)
    val (_, c, dc) = generate(6, 200)
    try {
      assert(a == b)
      assert(a != c)
    } finally Seq(da, db, dc).foreach(graft.util.Paths.deleteRecursively)
  }

  test("traces are seeded and follow the request mix") {
    assert(Trace.open(3, 0.6, 500) == Trace.open(3, 0.6, 500))
    val t = Trace.open(3, 0.6, 5000)
    Trace.Kinds.zip(Trace.Mix).foreach { case (k, share) =>
      val got = t.count(_.kind == k).toDouble / t.size
      assert(math.abs(got - share) < 0.03, s"$k: $got vs $share")
    }
    // a short trace keeps the shares exactly, so every kind has samples
    val spill = Trace.open(4, 0.6, 40)
    assert(Trace.Kinds.map(k => spill.count(_.kind == k)) == Vector(12, 4, 4, 8, 8, 4))
    assert(spill.map(_.kind) != Trace.open(5, 0.6, 40).map(_.kind))
    val fit = Trace.pooled(3, 24, 1.1, 1200)
    assert(fit.map(_.key).distinct.size <= 24)
    assert(fit.map(_.kind).distinct.sorted == Trace.Kinds.sorted)
  }
}
