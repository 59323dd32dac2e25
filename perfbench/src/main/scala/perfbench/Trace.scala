package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `layer` is the engine module the call enters
  * (`table`, `core`, `sources`, `streaming`, `operators`) or `bench`
  * for the client's own code; `op` groups the spans of one client
  * operation. Times are `System.nanoTime`. */
final case class Span(
    id: Int, layer: String, name: String, parent: Int, op: Int,
    start: Long, var end: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** Spark work of one job, attributed to the span that submitted it
  * through the `perfbench.span` local property. Times are epoch ms, as
  * the listener events carry them. */
final class JobRec(val span: Int, val startMs: Long, val site: String) {
  @volatile var endMs: Long = -1L
  @volatile var tasks: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
  @volatile var recordsRead: Long = 0L
}

/** Counts jobs, stages, tasks, shuffle bytes and input records per job.
  * Registered only for traced runs. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("")
    jobs.put(e.jobId, new JobRec(span, e.time, site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.recordsRead += m.inputMetrics.recordsRead
      }
    }
    events += 1
  }
}

/** Aggregate of the spans sharing one (layer, name), per call. */
final case class CallStats(
    ms: Double, jobs: Double, tasks: Double, shuffleMb: Double,
    gapMs: Double, tailMs: Double, recordsRead: Double)

/** Spans around the benchmark's calls into each engine module, kept in
  * memory and written out as JSON when the run ends. With tracing off,
  * `span` runs its body and records nothing. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opId = 0
  private var recording = false
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  val listener: Option[JobListener] =
    if (on) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  /** Record spans from now on (the timed phase). */
  def start(): Unit = recording = on

  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.size, layer, name, stack.headOption.getOrElse(-1), opId,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  /** A client operation: a root span in the `bench` layer. */
  def op[T](name: String)(body: => T): T = {
    if (recording) opId += 1
    span("bench", name)(body)
  }

  /** Wait until the listener bus has delivered the events of the jobs
    * already run (the bus is asynchronous). */
  def drain(): Unit = listener.foreach { l =>
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5e9.toLong
    while (stable < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (l.events == last) stable += 1 else { stable = 0; last = l.events }
    }
  }

  private def toEpochMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  private def descendants(s: Span): Set[Int] =
    children.getOrElse(s.id, Nil).flatMap(descendants).toSet + s.id

  private def jobsOf(ids: Set[Int]): Seq[JobRec] =
    listener.toSeq.flatMap(_.jobs.values.asScala.filter(j => ids.contains(j.span)))

  /** Per-call stats of the spans named `name` in `layer`. Gap is the
    * span's wall time covered by no Spark job; tail runs from the last
    * job's end to the span's end. */
  def stats(layer: String, name: String): CallStats = {
    val ss = spans.toSeq.filter(s => s.layer == layer && s.name == name && s.end > 0)
    if (ss.isEmpty) return CallStats(0, 0, 0, 0, 0, 0, 0)
    val per = ss.map { s =>
      val js = jobsOf(descendants(s))
      val s0 = toEpochMs(s.start)
      val s1 = toEpochMs(s.end)
      val ivs = js.map(j => (math.max(j.startMs.toDouble, s0),
        math.min(if (j.endMs < 0) s1 else j.endMs.toDouble, s1)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      val lastEnd = ivs.map(_._2).maxOption.getOrElse(s0)
      (s.ms, js.size.toDouble, js.map(_.tasks).sum.toDouble,
        js.map(_.shuffleWriteBytes).sum / 1048576.0,
        math.max(0.0, (s1 - s0) - covered), math.max(0.0, s1 - lastEnd),
        js.map(_.recordsRead).sum.toDouble)
    }
    val n = per.size.toDouble
    CallStats(per.map(_._1).sum / n, per.map(_._2).sum / n,
      per.map(_._3).sum / n, per.map(_._4).sum / n, per.map(_._5).sum / n,
      per.map(_._6).sum / n, per.map(_._7).sum / n)
  }

  /** Self time (span minus its children) summed per layer, in ms. */
  def layerSelfMs: Map[String, Double] =
    spans.toSeq.filter(_.end > 0).map { s =>
      s.layer -> (s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Wall time of the root spans, in ms. */
  def rootMs: Double = spans.toSeq.filter(s => s.parent < 0 && s.end > 0).map(_.ms).sum

  /** Operations recorded in the timed phase. */
  def ops: Int = opId

  /** Spark jobs the operations submitted (the client's own input
    * preparation left out). */
  def sparkJobs: Int = jobsOf(spans.filter(_.name != "prepare").map(_.id).toSet).size

  /** Wall time inside [from, to] (nanoTime) not covered by any job. */
  def driverGapMs(from: Long, to: Long): Double = {
    val a = toEpochMs(from)
    val b = toEpochMs(to)
    val ivs = listener.toSeq.flatMap(_.jobs.values.asScala)
      .map(j => (math.max(j.startMs.toDouble, a), math.min(j.endMs.toDouble, b)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0.0
    var cur = a
    ivs.foreach { case (s, e) =>
      if (e > cur) { covered += e - math.max(s, cur); cur = e }
    }
    math.max(0.0, (b - a) - covered)
  }

  /** Spans and the Spark jobs each submitted, times in ms from the
    * tracer's start. */
  def toJson: String = Json.obj(
    "spans" -> spans.toSeq.map(s => Json.Raw(Json.obj(
      "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> (toEpochMs(s.start) - epochMs0),
      "end_ms" -> (toEpochMs(s.end) - epochMs0)))),
    "jobs" -> listener.toSeq.flatMap(_.jobs.asScala.toSeq.sortBy(_._1)).filter(_._2.span >= 0)
      .map { case (id, j) => Json.Raw(Json.obj(
        "id" -> id, "span" -> j.span, "site" -> j.site, "start_ms" -> (j.startMs - epochMs0),
        "end_ms" -> (j.endMs - epochMs0), "tasks" -> j.tasks,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "records_read" -> j.recordsRead)) })
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
