package loopbench

import loopbench.Main.{Done, Metric, median}
import loopbench.Probe.{JobRec, StageRec}

/** Per-layer metrics of one traced pass, from the probe's job, stage and
  * micro-batch records. README.md maps each to the end-to-end metric it
  * should move.
  */
final class Layers(label: String, probe: Probe, phases: Seq[(String, Long, Long)],
    gcByPhase: Map[String, Double]) {

  private val MB = 1024.0 * 1024.0
  private val jobs = probe.jobRecs
  private def jobsIn(phase: String): Seq[JobRec] = jobs.filter(_.phase == phase)
  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(probe.stageRec)
  /** NaN, read as not measured, when there is nothing to divide by. */
  private def ratio(a: Double, b: Double): Double = if (b == 0) Double.NaN else a / b

  /** Length of the union of [start, end] intervals. */
  private def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  private def gc(phases: String*): Seq[Metric] =
    phases.map(p => Metric(s"spark.gc_ms.$p", gcByPhase.getOrElse(p, 0.0), "ms"))

  def session(fill: Seq[Done], restart: Seq[Done], spill: Seq[Done], spillWall: Double,
      checkpointBytes: Long, checkpointed: Int, restored: Int, sizeAfterSpill: Int,
      topkwS: Double): Seq[Metric] = {
    val fillMisses = fill.filter(_.miss)
    val fillHits = fill.filterNot(_.miss)
    val dups = fillMisses.count(_.overlapped)
    val spillMisses = spill.filter(_.miss)
    // every miss puts one entry and a concurrent duplicate overwrites
    // one; whatever the final size lacks was evicted. The fill starts
    // from the one topKeywords entry.
    val fillEvictions = 1 + fillMisses.size - dups - checkpointed
    val spillEvictions = restored + spillMisses.size - spillMisses.count(_.overlapped) - sizeAfterSpill
    val cache = Seq(
      Metric("cache.hit_ratio", ratio(fillHits.size, fill.size), "ratio", fill.size),
      Metric("cache.fill_evictions", math.max(0, fillEvictions).toDouble, "count"),
      Metric("cache.evictions", math.max(0, spillEvictions).toDouble, "count"),
      Metric("cache.spill_hit_ratio", ratio(spill.size - spillMisses.size, spill.size), "ratio", spill.size),
      Metric("cache.dup_computes", dups.toDouble, "count"),
      Metric("cache.checkpoint_jobs", jobsIn("checkpoint").size.toDouble, "count"),
      Metric("cache.checkpoint_mb", checkpointBytes / MB, "MB"),
      Metric("cache.restore_jobs", jobsIn("restore").size.toDouble, "count"),
      Metric("cache.restored_entries", restored.toDouble, "count"),
      Metric("cache.restart_hit_ratio", ratio(restart.count(!_.miss), restart.size), "ratio", restart.size),
      Metric("cache.hit_p50_us", median(fillHits.map(_.ms * 1000.0)), "us", fillHits.size))
    val api = Trace.Kinds.flatMap { k =>
      val ms = spillMisses.filter(_.req.kind == k).map(_.ms)
      Seq(Metric(s"api.$k.miss_p50_ms", median(ms), "ms", ms.size),
        Metric(s"api.$k.misses", ms.size.toDouble, "count"))
    }
    val byReq = jobsIn("spill").groupBy(_.req)
    val per = spillMisses.map { d =>
      val js = byReq.getOrElse(s"$label.spill-${d.i}", Nil)
      val st = stagesOf(js)
      val jobMs = union(js.map(j => (j.start, math.max(j.start, j.end)))).toDouble
      (js.size, st.size, st.map(_.tasks).sum, jobMs, d.ms - jobMs)
    }
    val n = spillMisses.size
    val cpuS = stagesOf(jobsIn("spill")).map(_.cpuMs).sum / 1000.0
    val operators = Seq(
      Metric("operators.jobs_per_miss", ratio(per.map(_._1).sum, n), "count", n),
      Metric("operators.stages_per_miss", ratio(per.map(_._2).sum, n), "count", n),
      Metric("operators.tasks_per_miss", ratio(per.map(_._3).sum, n), "count", n),
      Metric("operators.job_ms_per_miss", ratio(per.map(_._4).sum, n), "ms", n),
      Metric("operators.driver_ms_per_miss", ratio(per.map(_._5).sum, n), "ms", n),
      Metric("operators.cpu_util", ratio(cpuS, spillWall * Main.Clients), "ratio"),
      Metric("operators.topkw_s", topkwS, "s"))
    cache ++ api ++ operators ++ gc("fill", "checkpoint", "restore", "spill")
  }

  def index(captureBytes: Long, ingestS: Double, drainS: Double): Seq[Metric] = {
    val ij = jobsIn("ingest")
    val is = stagesOf(ij)
    val ingest = Seq(
      Metric("ingest.raw_read_ratio", ratio(is.map(_.inBytes).sum, captureBytes), "ratio"),
      Metric("ingest.jobs", ij.size.toDouble, "count"),
      Metric("ingest.shuffle_mb", is.map(_.shuffleWriteBytes).sum / MB, "MB"),
      Metric("ingest.write_mb", is.map(_.outBytes).sum / MB, "MB"),
      Metric("ingest.cpu_util", ratio(is.map(_.cpuMs).sum / 1000.0, ingestS * Main.Clients), "ratio"),
      Metric("ingest.gc_ms", is.map(_.gcMs).sum.toDouble, "ms"))
    val bs = probe.batchRecs
    val dj = jobsIn("drain")
    val batchJobs = dj.filter(_.batch.nonEmpty)
    val firstBatch = if (batchJobs.isEmpty) Long.MaxValue else batchJobs.map(_.start).min
    // the feed is the last query that wrote before the first micro-batch
    val feedBytes = dj.filter(j => j.batch.isEmpty && j.end >= 0 && j.end <= firstBatch)
      .groupBy(_.exec).toSeq
      .map { case (_, js) => (js.map(_.end).max, stagesOf(js).map(_.outBytes).sum) }
      .filter(_._2 > 0).sortBy(_._1).lastOption.fold(0L)(_._2)
    val trigger = bs.map(_.triggerMs).sum
    val streaming = Seq(
      Metric("streaming.batches", bs.size.toDouble, "count"),
      Metric("streaming.batch_p50_ms", median(bs.map(_.triggerMs.toDouble)), "ms", bs.size),
      Metric("streaming.add_batch_share", ratio(bs.map(_.addBatchMs).sum, trigger), "ratio"),
      Metric("streaming.jobs_per_batch", ratio(batchJobs.size, bs.size), "count"),
      Metric("streaming.pre_stream_ms", drainS * 1000.0 - trigger, "ms"),
      Metric("sources.write_amplification", ratio(stagesOf(dj).map(_.outBytes).sum, feedBytes), "ratio"))
    ingest ++ streaming ++ gc("ingest", "drain")
  }
}

object Layers {
  /** Every per-layer metric, in output order. */
  val All: Seq[(String, String)] = Seq(
    "cache.hit_ratio" -> "ratio", "cache.fill_evictions" -> "count", "cache.evictions" -> "count",
    "cache.spill_hit_ratio" -> "ratio", "cache.dup_computes" -> "count",
    "cache.checkpoint_jobs" -> "count", "cache.checkpoint_mb" -> "MB",
    "cache.restore_jobs" -> "count", "cache.restored_entries" -> "count",
    "cache.restart_hit_ratio" -> "ratio", "cache.hit_p50_us" -> "us") ++
    Trace.Kinds.flatMap(k => Seq(s"api.$k.miss_p50_ms" -> "ms", s"api.$k.misses" -> "count")) ++ Seq(
    "operators.jobs_per_miss" -> "count", "operators.stages_per_miss" -> "count",
    "operators.tasks_per_miss" -> "count", "operators.job_ms_per_miss" -> "ms",
    "operators.driver_ms_per_miss" -> "ms", "operators.cpu_util" -> "ratio", "operators.topkw_s" -> "s",
    "ingest.raw_read_ratio" -> "ratio", "ingest.jobs" -> "count", "ingest.shuffle_mb" -> "MB",
    "ingest.write_mb" -> "MB", "ingest.cpu_util" -> "ratio", "ingest.gc_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
    "streaming.add_batch_share" -> "ratio", "streaming.jobs_per_batch" -> "count",
    "streaming.pre_stream_ms" -> "ms", "sources.write_amplification" -> "ratio",
    "spark.gc_ms.fill" -> "ms", "spark.gc_ms.checkpoint" -> "ms", "spark.gc_ms.restore" -> "ms",
    "spark.gc_ms.spill" -> "ms", "spark.gc_ms.ingest" -> "ms", "spark.gc_ms.drain" -> "ms",
    "spark.peak_rss_mb" -> "MB",
    "fill_rps" -> "req/s", "checkpoint_s" -> "s", "restore_s" -> "s", "replay_rps" -> "req/s",
    "miss_p50_ms" -> "ms", "miss_tail_ms" -> "ms", "ingest_s" -> "s", "drain_s" -> "s",
    "tracing.work_s_delta" -> "s")
}
