package loopbench

import java.nio.file.Path

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The traced pass's spans, written as one JSON document at exit. */
object Spans {
  /** Writes the result line and the span file; Scala maps keep their order. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def num(d: Double): Option[Double] = if (d.isNaN || d.isInfinite) None else Some(d)

  def write(file: Path, workload: String, seed: Long, probe: Probe, o: Main.Outcome): Unit = {
    val t0 = (o.phases.map(_._2) ++ Seq(Long.MaxValue)).min
    def ms(t: Long): Long = t - t0
    mapper.writeValue(file.toFile, ListMap(
      "workload" -> workload,
      "seed" -> seed,
      "time_origin_ms" -> t0,
      "phases" -> o.phases.map { case (n, s, e) =>
        ListMap("name" -> n, "start_ms" -> ms(s), "end_ms" -> ms(e))
      },
      "requests" -> o.requests.map { case (phase, d) =>
        ListMap("phase" -> phase, "i" -> d.i, "kind" -> d.req.kind, "key" -> d.req.key,
          "ms" -> d.ms, "jobs" -> d.jobs, "miss" -> d.miss, "overlapped" -> d.overlapped,
          "error" -> d.error.map(_.toString))
      },
      "jobs" -> probe.jobRecs.map { j =>
        ListMap("id" -> j.id, "req" -> j.req, "phase" -> j.phase, "batch" -> j.batch,
          "execution" -> j.exec, "start_ms" -> ms(j.start),
          "end_ms" -> (if (j.end < 0) None else Some(ms(j.end))), "stages" -> j.stageIds)
      },
      "stages" -> probe.jobRecs.flatMap(_.stageIds).distinct.sorted.flatMap(probe.stageRec).map { s =>
        ListMap("id" -> s.id, "tasks" -> s.tasks, "start_ms" -> ms(s.start), "end_ms" -> ms(s.end),
          "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inBytes,
          "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "output_bytes" -> s.outBytes)
      },
      "batches" -> probe.batchRecs.map { b =>
        ListMap("run_id" -> b.runId, "batch_id" -> b.batchId, "input_rows" -> b.rows,
          "duration_ms" -> ListMap(b.durations.toSeq.sortBy(_._1): _*))
      },
      "layers" -> ListMap(o.layers.map { m =>
        m.name -> ListMap("value" -> num(m.value), "unit" -> m.unit, "n" -> m.n)
      }: _*)))
  }
}
