package loopbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Public-API observation of the engine's Spark work, from outside it.
  *
  * Always on: the number of Spark jobs started under each request id
  * (the thread-local job property [[Probe.ReqKey]]); a request with at
  * least one job is a miss. With `traced` set it also keeps job, stage
  * and micro-batch records, keyed by request id and phase
  * ([[Probe.PhaseKey]]).
  */
final class Probe(spark: SparkSession) {
  import Probe._

  @volatile var traced = false
  private val jobsPerReq = new ConcurrentHashMap[String, AtomicInteger]()
  private val barrierSeq = new AtomicInteger()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val req = prop(ReqKey)
      if (req.nonEmpty)
        jobsPerReq.computeIfAbsent(req, _ => new AtomicInteger()).incrementAndGet()
      if (traced)
        jobs.put(e.jobId, JobRec(e.jobId, req, prop(PhaseKey), prop(BatchKey),
          prop(ExecKey), e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) {
        val i = e.stageInfo
        Option(i.taskMetrics).foreach { m =>
          stages.put(i.stageId, StageRec(i.stageId, i.numTasks,
            i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (traced) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches.add(BatchRec(p.runId.toString, p.batchId, p.numInputRows,
          d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L), d))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.runId.toString)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Jobs started under request id `req` (0 for a hit). */
  def jobsOf(req: String): Int = Option(jobsPerReq.get(req)).fold(0)(_.get)

  /** Wait until the listener bus has delivered every event posted so
    * far: a sentinel job runs under a fresh id, and its start arrives
    * after every earlier event on the same queue. Spark posts a job's
    * end and its stages' completions before the action returns.
    */
  def barrier(timeoutMs: Long = 30000): Unit = {
    val sc: SparkContext = spark.sparkContext
    val id = s"barrier-${barrierSeq.incrementAndGet()}"
    val old = sc.getLocalProperty(ReqKey)
    sc.setLocalProperty(ReqKey, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(ReqKey, old)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsOf(id) == 0) {
      require(System.currentTimeMillis() < deadline, "listener bus did not drain")
      Thread.sleep(2)
    }
  }

  /** Wait until every streaming query that reported progress has also
    * reported termination, so all its progress events have arrived.
    */
  def awaitStreamEvents(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.streams.active.nonEmpty ||
        batches.asScala.map(_.runId).exists(r => !terminated.contains(r))) {
      require(System.currentTimeMillis() < deadline, "streaming events did not drain")
      Thread.sleep(5)
    }
  }

  def jobRecs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageRec(id: Int): Option[StageRec] = Option(stages.get(id))
  def batchRecs: Seq[BatchRec] = batches.asScala.toSeq

  def reset(): Unit = { jobs.clear(); stages.clear(); batches.clear() }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  val ReqKey = "loopbench.req"
  val PhaseKey = "loopbench.phase"
  /** Set by Structured Streaming on the jobs of a micro-batch. */
  val BatchKey = "streaming.sql.batchId"
  /** Set by Spark SQL on every job of one query execution. */
  val ExecKey = "spark.sql.execution.id"

  final case class JobRec(id: Int, req: String, phase: String, batch: String,
      exec: String, start: Long, end: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, tasks: Int, start: Long, end: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, inBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, outBytes: Long)
  final case class BatchRec(runId: String, batchId: Long, rows: Long,
      triggerMs: Long, addBatchMs: Long, durations: Map[String, Long])
}
