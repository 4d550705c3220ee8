package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark listener attached only during traced rounds: job intervals and
  * task metrics, keyed by the job group the harness sets per op. */
final class EngineProbe extends SparkListener {
  final case class Job(group: String, startMs: Long, var endMs: Long)
  final case class Task(runS: Double, durS: Double, gcS: Double,
      waitS: Double, inputBytes: Long, shuffleWriteBytes: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val tasks = mutable.Map[String, mutable.ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(g, e.time, -1L)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      val wait = stageSubmitMs.get(e.stageId)
        .map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer()) += Task(
        m.executorRunTime / 1e3, info.duration / 1e3, m.jvmGCTime / 1e3,
        wait / 1e3, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Remove and return the jobs and tasks recorded under `group`. */
  def take(group: String): (Seq[Job], Seq[Task]) = synchronized {
    val js = jobs.collect { case (id, j) if j.group == group => id -> j }
    js.keys.foreach(jobs.remove)
    (js.values.toSeq, tasks.remove(group).map(_.toSeq).getOrElse(Seq.empty))
  }
}

/** One span of the trace tree: op → layer call → Spark job. Times are
  * nanoseconds on the harness clock. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

object Spans {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
    covered
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long =
    (s.endNs - s.startNs) -
      union(children.map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)

  def toJson(spans: Seq[Span], originNs: Long): String =
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - originNs) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
