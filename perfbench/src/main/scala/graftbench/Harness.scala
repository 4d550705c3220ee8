package graftbench

import graft.format.Timeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One completed (or failed) op. `timed` is false for set-up and warm-up
  * ops, whose checks still count but whose latencies are not reported. */
final case class OpRecord(op: String, wallS: Double, ok: Boolean,
    traced: Boolean, timed: Boolean)

/** Everything the traced round measured for one op. */
final case class OpTrace(op: String, wallS: Double, jobs: Int, busyS: Double,
    gcS: Double, waitS: Double, inputBytes: Long, shuffleBytes: Long,
    maxTaskS: Double, medianTaskS: Double, driverOnlyS: Double,
    listings: Long, opens: Long, layers: Map[String, Double],
    coverage: Double, extra: mutable.Map[String, Double] = mutable.Map())

/** The closed-loop client: one thread issues one op at a time, times it,
  * then checks its output. Tracing (listener, job groups, spans, timeline
  * counters) is switched per round, so untraced rounds run the bare calls. */
final class Harness(spark: SparkSession) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val sc = spark.sparkContext
  val originNs: Long = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  val records = ArrayBuffer[OpRecord]()
  val traces = ArrayBuffer[OpTrace]()
  val spans = ArrayBuffer[Span]()
  val problems = ArrayBuffer[String]()
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }

  private var probe: Option[EngineProbe] = None
  private var layerSink: Option[(Int, ArrayBuffer[Span])] = None
  /** False while setting up and warming up. */
  var timed = false
  /** The timed loop ends at the first op boundary past the deadline, once
    * `minRounds` whole rounds have run. */
  var deadlineNs: Long = Long.MaxValue
  var minRounds = 1
  var rounds = 0
  def expired: Boolean = rounds >= minRounds && System.nanoTime() > deadlineNs

  def tracing: Boolean = probe.isDefined

  /** Attach the listener for a traced round, or detach it. */
  def setTracing(on: Boolean): Unit = (on, probe) match {
    case (true, None) =>
      val p = new EngineProbe
      sc.addSparkListener(p)
      probe = Some(p)
    case (false, Some(p)) =>
      Bridge.waitForListeners(sc)
      sc.removeSparkListener(p)
      probe = None
    case _ =>
  }

  /** Time `body` as one op, then run `check` on its result (untimed). An op
    * that throws or fails its check counts as failed. */
  def op[T](name: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    val id = newId()
    val layers = ArrayBuffer[Span]()
    val l0 = Timeline.hoodieListings.get()
    val o0 = Timeline.commitFileOpens.get()
    if (tracing) {
      sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      layerSink = Some((id, layers))
    }
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val listings = Timeline.hoodieListings.get() - l0
    val opens = Timeline.commitFileOpens.get() - o0
    if (tracing) { sc.clearJobGroup(); layerSink = None }
    val bad = result match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Seq(s"check threw $e") }
      case Left(e) => Seq(s"threw $e")
    }
    records += OpRecord(name, (t1 - t0) / 1e9, bad.isEmpty, tracing, timed)
    bad.foreach(b => if (problems.size < 50) problems += s"$name: $b")
    probe.foreach { p =>
      Bridge.waitForListeners(sc)
      val (jobs, tasks) = p.take(s"op-$id")
      p.take("") // jobs the check ran belong to no op
      traces += assemble(Span(id, 0, name, t0, t1), layers.toSeq, jobs,
        tasks, listings, opens)
    }
    result.toOption
  }

  /** A layer call inside the current op: a span in traced rounds, nothing
    * otherwise. */
  def layer[T](name: String)(body: => T): T = layerSink match {
    case None => body
    case Some((opId, buf)) =>
      val s = System.nanoTime()
      try body finally buf += Span(newId(), opId, name, s, System.nanoTime())
  }

  /** Attach a measured value to the last traced op. */
  def note(key: String, value: Double): Unit =
    if (tracing) traces.lastOption.foreach(_.extra(key) = value)

  private def assemble(op: Span, layers: Seq[Span],
      jobs: Seq[EngineProbe#Job], tasks: Seq[EngineProbe#Task],
      listings: Long, opens: Long): OpTrace = {
    val jobSpans = jobs.map { j =>
      val s = msToNs(j.startMs)
      val e = if (j.endMs >= 0) msToNs(j.endMs) else op.endNs
      val parent = layers.find(l => s >= l.startNs && s < l.endNs)
        .map(_.id).getOrElse(op.id)
      Span(newId(), parent, "job", s, e)
    }
    spans += op
    spans ++= layers
    spans ++= jobSpans
    val byParent = jobSpans.groupBy(_.parent)
    def jobsUnder(s: Span) = byParent.getOrElse(s.id, Seq.empty)
    // self times plus, under each span, the union of its jobs (unclipped:
    // a job attributed to the op but running outside it shows as excess)
    val selfSum = Spans.selfNs(op, layers ++ jobsUnder(op)) +
      layers.map(l => Spans.selfNs(l, jobsUnder(l))).sum +
      (op +: layers).map(s => Spans.union(
        jobsUnder(s).map(j => (j.startNs, j.endNs)), Long.MinValue,
        Long.MaxValue)).sum
    val wallNs = op.endNs - op.startNs
    val jobUnion = Spans.union(jobSpans.map(j => (j.startNs, j.endNs)),
      op.startNs, op.endNs)
    val layerStats = layers.groupBy(_.name).map { case (n, ls) =>
      n -> ls.map(_.durS).sum
    }
    val durs = tasks.map(_.durS).sorted
    OpTrace(op.name, op.durS, jobs.size, tasks.map(_.runS).sum,
      tasks.map(_.gcS).sum, tasks.map(_.waitS).sum,
      tasks.map(_.inputBytes).sum, tasks.map(_.shuffleWriteBytes).sum,
      durs.lastOption.getOrElse(0.0), Stats.median(durs),
      (wallNs - jobUnion) / 1e9, listings, opens, layerStats,
      selfSum.toDouble / math.max(1L, wallNs))
  }

  def timedRecords(op: String, traced: Boolean = false): Seq[OpRecord] =
    records.filter(r => r.timed && r.op == op && r.traced == traced).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it (the
    * eleventh-largest sample), with that percentile; None below 11
    * samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size))
    }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}
