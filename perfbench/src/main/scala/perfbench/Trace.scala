package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed blocking call into a module (`Module.function`); `parent` is
  * the id of its workload phase. Times are epoch milliseconds, the clock
  * Spark's listener events carry. */
final case class Span(id: Long, name: String, phase: String, group: String,
    parent: Long, t0: Long, t1: Long, ok: Boolean, gcMs: Long, compileNs: Long)

/** The traced run's listeners. Spark jobs map to call spans through the
  * `perfbench.span` local property the client thread sets before every
  * call; a job whose property is missing or stale (jobs the program
  * launches from its own Futures inherit whatever the pool thread last
  * saw) falls back to the call whose time window holds its start, and
  * jobs outside every window count as unattributed. Tasks map to jobs
  * through the stageId → jobId table taken from each job's stageInfos. */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class Job(val start: Long, val prop: Option[Long]) {
    var end: Long = start
    var stages, tasks = 0
    var cpuNs, runMs, scan, shRead, shWrite, spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  // (phase name, start ms, duration ms) per executed query
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong)
    jobs(e.jobId) = new Job(e.time, prop)
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.scan += m.inputMetrics.bytesRead
      j.shRead += m.shuffleReadMetrics.totalBytesRead
      j.shWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.durationMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Per-layer totals over the call spans, plus the job → span map. */
  def summarize(calls: Seq[Span], cores: Int): (Seq[(String, Double)], Map[Int, Long]) = synchronized {
    val byId = calls.map(s => s.id -> s).toMap
    def holds(s: Span, t: Long) = t >= s.t0 && t <= s.t1
    var unattributed = 0
    val owner = mutable.LinkedHashMap.empty[Int, Long]
    jobs.foreach { case (jid, j) =>
      j.prop.filter(_ != Tracer.Untimed).flatMap(byId.get).filter(holds(_, j.start)) match {
        case Some(s) => owner(jid) = s.id
        case None if j.prop.contains(Tracer.Untimed) => ()
        case None => calls.find(holds(_, j.start)) match {
          case Some(s) => owner(jid) = s.id
          case None => unattributed += 1
        }
      }
    }
    val js = owner.keys.map(jobs).toSeq
    val wallMs = calls.map(s => s.t1 - s.t0).sum.toDouble
    // wall time inside calls that no attributed job interval covers
    val driverOnlyMs = calls.map { s =>
      val iv = owner.collect { case (jid, sid) if sid == s.id =>
        (jobs(jid).start max s.t0, jobs(jid).end min s.t1) }.toSeq.sortBy(_._1)
      var covered = 0L
      var cur = s.t0
      iv.foreach { case (a, b) =>
        val lo = a max cur
        if (b > lo) { covered += b - lo; cur = b }
      }
      (s.t1 - s.t0) - covered
    }.sum
    def phaseSum(n: String) = phases.collect {
      case (`n`, st, d) if calls.exists(holds(_, st)) => d
    }.sum / 1e3
    val runMs = js.map(_.runMs).sum
    (Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.slot_busy_frac" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.scan_bytes" -> js.map(_.scan).sum.toDouble,
      "spark.shuffle_read_bytes" -> js.map(_.shRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.gc_s" -> calls.map(_.gcMs).sum / 1e3,
      "spark.driver_only_s" -> driverOnlyMs / 1e3,
      "catalyst.analysis_s" -> phaseSum("analysis"),
      "catalyst.optimization_s" -> phaseSum("optimization"),
      "catalyst.planning_s" -> phaseSum("planning"),
      "codegen.compile_s" -> calls.map(_.compileNs).sum / 1e9,
      "trace.unattributed_jobs" -> unattributed.toDouble),
      owner.toMap)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Span id set on the main thread around the benchmark's own untimed
    * work (checks and result dumps), so its jobs are neither attributed
    * nor counted as unattributed. */
  val Untimed = -1L
}
