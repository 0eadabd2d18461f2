package loopbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.Engine
import graft.ingest.TweetIngest
import graft.operators.TextIndex
import graft.sources.Warehouse
import graft.streaming.EventStream

/** The reference's own loop, replayed against the engine's public entry
  * points: ingest a raw capture, serve a session through the result
  * cache, checkpoint and restore the cache, and keep a text index
  * current from a stream of the curated tweets. See README.md.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <scratch dir> [--spans <file>]
  */
object Main {

  val Workloads: Seq[String] = Seq("session", "ingest_index")
  val SessionOriginals = 8000
  val IndexOriginals = 8000
  /** Measured passes per run; the run reports their medians. A traced
    * run puts its traced pass between two untraced ones, so drift
    * between passes cancels out of the tracing overhead.
    */
  val Passes = 2
  val TracedPasses = 3
  val Clients = 4
  val CacheSize = 32
  val FitKeys = 20
  val FitRequests = 3000
  val SpillRequests = 40
  val DrainLimit = 20
  val DrainTerms: Seq[String] = Seq(Capture.word(1), Capture.word(30), Capture.word(700))

  final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

  final case class Done(i: Int, req: Req, startNs: Long, endNs: Long, rows: Seq[Row],
      error: Option[Throwable], overlapped: Boolean, jobs: Int = 0) {
    def ms: Double = (endNs - startNs) / 1e6
    def miss: Boolean = jobs > 0
    /** When this request last touched the LRU order. */
    def touchNs: Long = if (miss) endNs else startNs
  }

  /** One measured pass: `workS` is the wall time of its timed phases,
    * `phaseMetrics` the figures of those phases.
    */
  final case class Outcome(workS: Double, phaseMetrics: Seq[Metric], layers: Seq[Metric],
      attempted: Int, failed: Int, failures: Seq[String],
      requests: Seq[(String, Done)], phases: Seq[(String, Long, Long)])

  /** NaN when there is no sample or a NaN among them, so that a figure
    * with nothing behind it reads as missing, never as 0.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_.isNaN)) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest rank with ten samples beyond it (the maximum below 11). */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, s.size - 11))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally w.close()
    }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    Files.createDirectories(root)
    val spark = SparkSession.builder()
      .master(s"local[$Clients]")
      .appName("loopbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Clients.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark)
    val bench = new Bench(spark, probe, root)
    val warmSeed = seed ^ 0x5DEECE66DL

    // set-up ends where the first timed phase starts. It includes a
    // warm-up pass of the workload's own phases on another seed's
    // inputs: small for the session (its tables are already warm from
    // ingest), full size for ingest_index, whose first drain is the
    // costliest cold path.
    val capture = root.resolve("capture.jsonl")
    val (measure, originals, model) = workload match {
      case "session" =>
        val model = Capture.generate(seed, SessionOriginals, capture)
        val setup = bench.setupSession(capture, model)
        bench.setupFailures ++= bench.sessionPass("warm", setup,
          Trace.pooled(warmSeed + 1, 8, 1.1, 200), Trace.open(warmSeed + 2, 0.6, 10)).failures
        val fit = Trace.pooled(seed + 1, FitKeys, 1.1, FitRequests)
        val spill = Trace.open(seed + 2, 0.6, SpillRequests)
        ((label: String) => bench.sessionPass(label, setup, fit, spill), SessionOriginals, model)
      case _ =>
        val model = Capture.generate(seed, IndexOriginals, capture)
        val warmCapture = root.resolve("warm.jsonl")
        bench.setupFailures ++= bench.indexPass("warm", warmCapture,
          Capture.generate(warmSeed, IndexOriginals, warmCapture), check = false).failures
        Files.delete(warmCapture)
        ((label: String) => bench.indexPass(label, capture, model, check = true), IndexOriginals, model)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val captureBytes = Files.size(capture)

    val passCount = if (traced) TracedPasses else Passes
    val passes = (0 until passCount).map { i =>
      val isTraced = traced && i == passCount / 2
      if (isTraced) { probe.reset(); probe.traced = true }
      try (isTraced, measure(s"p$i")) finally probe.traced = false
    }
    val untracedRuns = passes.filterNot(_._1).map(_._2)
    val tracedRun = passes.find(_._1).map(_._2)
    def medianOf(os: Seq[Outcome]): Outcome = os.head.copy(
      workS = median(os.map(_.workS)),
      phaseMetrics = os.head.phaseMetrics.indices.map { k =>
        os.head.phaseMetrics(k).copy(value = median(os.map(_.phaseMetrics(k).value)))
      })
    val untraced = medianOf(untracedRuns)
    // a traced run also traces one pass of the other workload's phases
    // on this run's capture, so every per-layer metric is measured in
    // both workloads (no layer reads a constant)
    val other: Option[Outcome] =
      if (!traced) None
      else if (workload == "session") {
        probe.traced = true
        try Some(bench.indexPass("x", capture, model, check = true)) finally probe.traced = false
      } else {
        val setup = bench.setupSession(capture, model)
        probe.traced = true
        try Some(bench.sessionPass("x", setup, Trace.pooled(seed + 1, FitKeys, 1.1, FitRequests),
          Trace.open(seed + 2, 0.6, SpillRequests)))
        finally probe.traced = false
      }

    val leftover = spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name)
    val warehouse = root.resolve("warehouse")
    val leftFiles = if (Files.exists(warehouse)) Files.list(warehouse).count() else 0L
    val runs = passes.map(_._2) ++ other
    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum

    val endToEnd = Seq(Metric("setup_s", setupS, "s"), Metric("work_s", untraced.workS, "s"))
    def all(o: Outcome) = Metric("work_s", o.workS, "s") +: o.phaseMetrics
    val overhead: Seq[Metric] = tracedRun.toSeq.flatMap { t =>
      all(t).zip(all(untraced)).map { case (b, a) => Metric(b.name, b.value - a.value, b.unit) }
    }
    // a traced run must produce every listed per-layer metric; one that
    // is absent or has no samples (NaN) fails the run by name
    val (metrics, missing) = tracedRun match {
      case None => (endToEnd, Nil)
      case Some(t) =>
        val have = (t.layers ++ other.toSeq.flatMap(o => o.layers ++ o.phaseMetrics) ++
          untraced.phaseMetrics :+
          overhead.head.copy(name = "tracing.work_s_delta") :+
          Metric("spark.peak_rss_mb", peakRssMb(), "MB"))
          .filterNot(_.value.isNaN).map(m => m.name -> m).toMap
        val (present, absent) = Layers.All.partition { case (n, _) => have.contains(n) }
        (present.map { case (n, _) => have(n) }, absent.map(_._1))
    }
    val failures = bench.setupFailures.toSeq ++ runs.flatMap(_.failures) ++
      (if (leftover.nonEmpty) Seq(s"managed tables left: ${leftover.mkString(", ")}") else Nil) ++
      (if (leftFiles > 0) Seq(s"$leftFiles entries left in the warehouse directory") else Nil) ++
      missing.map(n => s"per-layer metric $n was not measured")
    val correct = failures.isEmpty && failed == 0

    val out = new StringBuilder
    def line(s: String): Unit = out.append(s).append('\n')
    def show(m: Metric): Unit = line(f"  ${m.name}%-14s ${m.value}%12.4f ${m.unit}%-6s (n=${m.n})")
    line(f"loopbench workload=$workload seed=$seed originals=$originals " +
      f"users=${model.distinctUsers} capture_lines=${model.lineCounts("total")} " +
      f"capture_mb=${captureBytes / 1048576.0}%.1f")
    line(s"  medians of ${untracedRuns.size} untraced passes; n = samples in one pass")
    (endToEnd ++ untraced.phaseMetrics).foreach(show)
    line(f"  fail_ratio     ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%12.4f ratio  " +
      s"($failed of $attempted operations in all passes)")
    failures.take(20).foreach(f => line(s"  FAILED CHECK: $f"))
    if (overhead.nonEmpty) {
      line("  tracing overhead (traced pass - median of the untraced passes before and after it):")
      overhead.foreach(m => line(f"    ${m.name}%-14s ${m.value}%+12.4f ${m.unit}"))
    }
    print(out)

    opts.get("spans").foreach { f =>
      val p = Paths.get(f)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Spans.write(p, workload, seed, probe, tracedRun.getOrElse(untraced))
    }
    probe.detach()
    spark.stop()
    graft.util.Paths.deleteRecursively(root)
    println(Spans.mapper.writeValueAsString(ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*))))
  }

  /** The curated tables a session pass serves from. */
  final case class SessionSetup(tweets: String, users: String, model: Model, topkwS: Double)

  /** Phases, closed-loop replay and correctness checks. */
  final class Bench(spark: SparkSession, probe: Probe, root: Path) {
    private val sc = spark.sparkContext
    val setupFailures = mutable.ArrayBuffer.empty[String]
    private val drainReference = mutable.Map.empty[Model, Seq[Row]]

    /** Book-keeping of one pass: its phases, GC time and checks. */
    final class Run(val label: String) {
      val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val gc = mutable.LinkedHashMap.empty[String, Double]
      val failures = mutable.ArrayBuffer.empty[String]
      var attempted = 0
      var failed = 0

      def phase[T](name: String)(body: => T): (T, Double) = {
        sc.setLocalProperty(Probe.PhaseKey, name)
        val g0 = gcMs()
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        try {
          val r = body
          (r, (System.nanoTime() - n0) / 1e9)
        } finally {
          val t1 = System.currentTimeMillis()
          phases += ((name, t0, t1))
          gc(name) = (gcMs() - g0).toDouble
          sc.setLocalProperty(Probe.PhaseKey, "check")
          System.err.println(f"loopbench: pass $label phase $name%-12s ${(t1 - t0) / 1000.0}%7.3f s")
        }
      }

      def op(ok: Boolean, what: => String): Unit = {
        attempted += 1
        if (!ok) { failed += 1; failures += s"$label: $what" }
      }

      /** One closed loop of [[Clients]] sessions over `trace`: each
        * client sends its next action only when the last one returned.
        */
      def replay(engine: Engine, trace: Vector[Req], tag: String): (Vector[Done], Double) = {
        val next = new AtomicInteger()
        val done = new ConcurrentLinkedQueue[Done]()
        val inflight = new ConcurrentHashMap[String, AtomicInteger]()
        val t0 = System.nanoTime()
        val clients = (0 until Clients).map { c =>
          new Thread(() => {
            var i = next.getAndIncrement()
            while (i < trace.size) {
              val r = trace(i)
              val busy = inflight.computeIfAbsent(r.key, _ => new AtomicInteger())
              val overlapped = busy.getAndIncrement() > 0
              sc.setLocalProperty(Probe.ReqKey, s"$label.$tag-$i")
              val s = System.nanoTime()
              val (rows, err) =
                try (r.call(engine), None)
                catch { case NonFatal(e) => (Seq.empty[Row], Some(e)) }
              val e = System.nanoTime()
              busy.decrementAndGet()
              done.add(Done(i, r, s, e, rows, err, overlapped))
              i = next.getAndIncrement()
            }
            sc.setLocalProperty(Probe.ReqKey, null)
          }, s"session-$c")
        }
        clients.foreach(_.start())
        clients.foreach(_.join())
        val wall = (System.nanoTime() - t0) / 1e9
        probe.barrier()
        (done.asScala.toVector.sortBy(_.i).map(d => d.copy(jobs = probe.jobsOf(s"$label.$tag-${d.i}"))), wall)
      }

      def checkAnswers(oracle: Oracle, done: Seq[Done]): Unit =
        done.foreach { d =>
          op(d.error.isEmpty && oracle.matches(d.req, d.rows),
            d.error.fold(s"${d.req.key}: answer differs from the model")(e => s"${d.req.key}: $e"))
        }
    }

    /** Ingest the session's capture and warm its tables up the way the
      * reference does at start-up, with the top keywords.
      */
    def setupSession(capture: Path, model: Model): SessionSetup = {
      val run = new Run("setup")
      val tweets = root.resolve("tweets").toString
      val users = root.resolve("users").toString
      val ((nt, nu), _) = run.phase("ingest")(TweetIngest.run(spark, capture.toString, tweets, users))
      run.op(nt == model.originals && nu == model.distinctUsers,
        s"ingest counts ($nt tweets, $nu users) != model (${model.originals}, ${model.distinctUsers})")
      val (_, topkwS) = run.phase("topkw")(new Engine(spark, tweets, users, CacheSize).topKeywords(10))
      setupFailures ++= run.failures
      SessionSetup(tweets, users, model, topkwS)
    }

    /** Fill the cache with a session whose keys fit it, restart from a
      * checkpoint, replay the session again, then serve a session whose
      * keys spill out of the cache.
      */
    def sessionPass(label: String, s: SessionSetup, fit: Vector[Req], spill: Vector[Req]): Outcome = {
      val run = new Run(label)
      val oracle = new Oracle(s.model)
      val ckpt = root.resolve(s"ckpt-$label")
      val engine = new Engine(spark, s.tweets, s.users, CacheSize)
      engine.topKeywords(10)

      val ((fill, fillWall), _) = run.phase("fill")(run.replay(engine, fit, "fill"))
      run.checkAnswers(oracle, fill)
      val sizeBefore = engine.cache.size
      val (_, checkpointS) = run.phase("checkpoint")(engine.checkpointCache(ckpt.toString))
      val ((engine2, restored), restoreS) = run.phase("restore") {
        val e = new Engine(spark, s.tweets, s.users, CacheSize)
        (e, e.restoreCache(ckpt.toString))
      }
      run.op(restored == sizeBefore, s"restored $restored entries, checkpointed $sizeBefore")
      // nothing was evicted, so every key of the fill must hit after the
      // restart with the answer it had before the checkpoint
      val before = fill.filter(_.error.isEmpty).groupBy(_.req.key)
        .map { case (k, ds) => k -> ds.maxBy(_.touchNs).rows }
      val ((again, againWall), _) = run.phase("restart")(run.replay(engine2, fit, "restart"))
      again.foreach { d =>
        run.op(d.error.isEmpty && !d.miss && before.get(d.req.key).contains(d.rows),
          s"${d.req.key}: after restore ${if (d.miss) "missed" else "answered differently"}")
      }
      val ((spilled, spillWall), _) = run.phase("spill")(run.replay(engine2, spill, "spill"))
      run.checkAnswers(oracle, spilled)
      val sizeAfter = engine2.cache.size
      probe.barrier()
      val ckptBytes = dirBytes(ckpt)
      graft.util.Paths.deleteRecursively(ckpt)

      val misses = spilled.filter(_.miss).map(_.ms)
      val phaseMetrics = Seq(
        Metric("fill_rps", fill.size / fillWall, "req/s", fill.size),
        Metric("checkpoint_s", checkpointS, "s"),
        Metric("restore_s", restoreS, "s"),
        Metric("replay_rps", spilled.size / spillWall, "req/s", spilled.size),
        Metric("miss_p50_ms", median(misses), "ms", misses.size),
        Metric("miss_tail_ms", tail(misses), "ms", misses.size))
      val layers =
        if (!probe.traced) Nil
        else new Layers(label, probe, run.phases.toSeq, run.gc.toMap).session(
          fill, again, spilled, spillWall, ckptBytes, sizeBefore, restored, sizeAfter, s.topkwS)
      Outcome(fillWall + checkpointS + restoreS + againWall + spillWall, phaseMetrics, layers,
        run.attempted, run.failed, run.failures.toSeq,
        fill.map("fill" -> _) ++ again.map("restart" -> _) ++ spilled.map("spill" -> _),
        run.phases.toSeq)
    }

    /** Ingest a capture to curated parquet, then stream the newest fifth
      * of the curated tweets into a text index while older ones are
      * taken down, and rank three terms by BM25.
      */
    def indexPass(label: String, capture: Path, model: Model, check: Boolean): Outcome = {
      val run = new Run(label)
      val dir = root.resolve(s"pass-$label")
      val tweets = dir.resolve("tweets").toString
      val users = dir.resolve("users").toString
      val ((nt, nu), ingestS) = run.phase("ingest")(TweetIngest.run(spark, capture.toString, tweets, users))
      run.op(nt == model.originals && nu == model.distinctUsers,
        s"ingest counts ($nt tweets, $nu users) != model (${model.originals}, ${model.distinctUsers})")

      val docs = spark.read.parquet(tweets).select(col("id_str").cast("long").as("id"), col("text"))
      val splitIx = (model.originals * 0.8).toInt
      val deletes = (0 until splitIx by 97).map(Capture.tweetId)
      val (bm25, drainS) = run.phase("drain") {
        EventStream.drainTextMaintain(spark, docs, "id", "text", Capture.tweetId(splitIx), deletes,
          DrainTerms, DrainLimit, nFiles = 4).collect().toSeq
      }
      probe.awaitStreamEvents()
      if (check) {
        // the converged index holds every doc, with the takedowns ranked out
        val n = TextIndex.names(s"loopbench_ref_$label", "check")
        val expected = drainReference.getOrElseUpdate(model, try {
          TextIndex.build(docs, "id", "text", n)
          val gone = deletes.toSet
          TextIndex.bm25(spark, n, DrainTerms, DrainLimit + deletes.size).collect().toSeq
            .filterNot(r => gone(r.getAs[Long]("doc_id"))).take(DrainLimit)
        } finally {
          Seq(n.postings, n.stats, TextIndex.tombstoneTable(n)).foreach(Warehouse.dropWithLocation(spark, _))
        })
        run.op(bm25.nonEmpty && bm25 == expected,
          s"drain BM25 (${bm25.size} rows) differs from a build over the converged corpus")
      }
      probe.barrier()
      val layers =
        if (!probe.traced) Nil
        else new Layers(label, probe, run.phases.toSeq, run.gc.toMap)
          .index(Files.size(capture), ingestS, drainS)
      graft.util.Paths.deleteRecursively(dir)
      Outcome(ingestS + drainS,
        Seq(Metric("ingest_s", ingestS, "s"), Metric("drain_s", drainS, "s")),
        layers, run.attempted, run.failed, run.failures.toSeq, Nil, run.phases.toSeq)
    }
  }

  /** The model's answer for each request, compared on the fields the
    * reference renders: ids in order, and the author columns.
    */
  final class Oracle(m: Model) {
    private val memo = new ConcurrentHashMap[String, Seq[String]]()

    private def str(r: Row, f: String): String = String.valueOf(r.get(r.fieldIndex(f)))

    private def author(i: Int): String = {
      val u = m.author(i)
      s"${Capture.tweetId(i)}|${Capture.userName(u)}|${Capture.screenName(u)}|${Capture.followers(m.seed, u)}"
    }

    def expected(r: Req): Seq[String] = memo.computeIfAbsent(r.key, _ => r.kind match {
      case "user" =>
        if (r.user < Capture.UserPool && m.users.get(r.user))
          Seq(s"${Capture.userId(r.user)}|${Capture.userName(r.user)}|" +
            s"${Capture.screenName(r.user)}|${Capture.followers(m.seed, r.user)}")
        else Nil
      case "user_tweets" =>
        m.ordered(m.byAuthor.getOrElse(r.user, Array.empty[Int]).toSeq).map(i => Capture.tweetId(i).toString)
      case kind =>
        val base = if (kind == "search_tag") m.byTag.getOrElse(r.tag, Array.empty[Int])
          else m.byWord.getOrElse(r.word, Array.empty[Int])
        val lo = Capture.Epoch0 + r.day0 * 86400L
        val hi = Capture.Epoch0 + r.day1 * 86400L
        val kept = kind match {
          case "search_kw_lang" => base.filter(i => Capture.Langs(m.lang(i)) == r.lang)
          case "search_kw_range" => base.filter(i => m.createdSec(i) >= lo && m.createdSec(i) <= hi)
          case _ => base
        }
        m.ordered(kept.toSeq).take(50).map(author)
    })

    def actual(r: Req, rows: Seq[Row]): Seq[String] = r.kind match {
      case "user" => rows.map(x => Seq("id", "name", "screen_name", "followers_count").map(str(x, _)).mkString("|"))
      case "user_tweets" => rows.map(str(_, "id_str"))
      case _ => rows.map(x =>
        Seq("id_str", "author_name", "author_screen_name", "author_followers").map(str(x, _)).mkString("|"))
    }

    def matches(r: Req, rows: Seq[Row]): Boolean = actual(r, rows) == expected(r)
  }
}
