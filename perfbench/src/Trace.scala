package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed region: the workload, a wave slice (`engine.run(1)`), a
  * forget call, or a query. Wall-clock millis align spans with the
  * listener's job and task event times; nanos give the duration.
  */
final case class Span(kind: String, name: String, startMs: Long, endMs: Long,
    nanos: Long) {
  def seconds: Double = nanos / 1e9
  def encloses(s: Long, e: Long): Boolean = startMs <= s && e <= endMs
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Int)
final case class TaskRec(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Spark activity attributed to one span. */
final case class SpanStats(span: Span, jobs: Seq[JobRec], stages: Int,
    tasks: Int, busySec: Double, taskSec: Double, cpuSec: Double,
    gcSec: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long) {
  def idleSec: Double = span.seconds - busySec
}

/** Listener the benchmark registers itself (traced runs only). Events are
  * kept in memory; attribution to spans happens when the run ends.
  */
final class Recorder extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    e.stageInfo.completionTime.foreach(stageEnds += _)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Block until every event posted so far has been delivered: run one
    * marker job and wait for its end event (the listener bus is FIFO).
    */
  def drain(sc: SparkContext): Unit = {
    val group = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(group, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val lastId = sc.statusTracker.getJobIdsForGroup(group).maxOption
    val deadline = System.currentTimeMillis() + 30000L
    def done = synchronized(lastId.forall(id => jobs.get(id).exists(_.endMs >= 0)))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Jobs, stages and tasks whose time window lies inside `s`. */
  def stats(s: Span): SpanStats = synchronized {
    val js = jobs.valuesIterator
      .filter(j => j.endMs >= 0 && s.encloses(j.startMs, j.endMs)).toVector
    val ts = tasks.filter(t => s.encloses(t.finishMs, t.finishMs))
    SpanStats(s, js, stageEnds.count(t => s.encloses(t, t)), ts.size,
      Trace.unionSec(js.map(j => (j.startMs, j.endMs))),
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum,
      ts.map(_.shuffleRead).sum, ts.map(_.spill).sum)
  }

  /** Jobs that overlap `s` without lying inside it (must be none). */
  def straddling(s: Span): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter { j =>
      j.endMs >= 0 && j.startMs < s.endMs && j.endMs > s.startMs &&
      !s.encloses(j.startMs, j.endMs)
    }.toVector
  }
}

/** Span collector. Spans are kept in memory and written when the run ends. */
final class Trace {
  val spans = ArrayBuffer.empty[Span]

  def span[T](kind: String, name: String)(f: => T): (T, Span) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val ns = System.nanoTime() - t0
    val s = Span(kind, name, ms0, System.currentTimeMillis(), ns)
    spans += s
    (r, s)
  }
}

object Trace {
  /** Length of the union of [start, end] millisecond intervals. */
  def unionSec(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Span tree as JSON: workload → wave slice / forget / query → job. */
  def toJson(workload: String, seed: Long, rec: Recorder, spans: Seq[Span]): String = {
    val children = spans.map { s =>
      val st = rec.stats(s)
      val jobs = st.jobs.map(j => Fmt.obj(Seq("job" -> j.id.toString,
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "stages" -> j.stages.toString)))
      Fmt.obj(Seq("kind" -> Fmt.quote(s.kind), "name" -> Fmt.quote(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Fmt.json(s.seconds), "busy_s" -> Fmt.json(st.busySec),
        "idle_s" -> Fmt.json(st.idleSec), "tasks" -> st.tasks.toString,
        "jobs" -> jobs.mkString("[", ",", "]")))
    }
    Fmt.obj(Seq("workload" -> Fmt.quote(workload), "seed" -> seed.toString,
      "children" -> children.mkString("[\n", ",\n", "]")))
  }
}
