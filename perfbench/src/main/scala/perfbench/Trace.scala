package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. Spans of one request share `request`; the
  * top span of a request has parent -1.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark counters of one job, summed over its tasks. */
final class JobRec(val jobId: Int, val group: String, val submitMs: Long) {
  @volatile var endMs: Long = -1L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** Spans kept in memory while a traced phase runs, written out at the end.
  * When tracing is off, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A request-level span: jobs submitted from this thread inside it carry
    * the request's job group.
    */
  def request[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val req = ids.incrementAndGet()
      sc.setJobGroup(s"pb-$req", name, interruptOnCancel = false)
      try open(name, req, req)(f)
      finally sc.clearJobGroup()
    }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else stack.get() match {
      case Nil => request(name)(f)
      case (_, req) :: _ => open(name, ids.incrementAndGet(), req)(f)
    }

  private def open[T](name: String, id: Long, req: Long)(f: => T): T = {
    val parent = stack.get().headOption.map(_._1).getOrElse(-1L)
    stack.set((id, req) :: stack.get())
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val n1 = System.nanoTime()
      done.add(Span(id, name, parent, req, s0, System.currentTimeMillis(), n0, n1))
      stack.set(stack.get().tail)
    }
  }

  /** A child span for work that reported its own duration (`sec`, ending
    * now) through a callback, such as a build stage.
    */
  def completed(name: String, sec: Double): Unit =
    if (enabled) stack.get().headOption.foreach { case (parent, req) =>
      val n1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      done.add(Span(ids.incrementAndGet(), name, parent, req,
        s1 - (sec * 1000).toLong, s1, n1 - (sec * 1e9).toLong, n1))
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

/** Registered by the benchmark: collects per-job task counters. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
    }
  }

  def all: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)

  /** The listener bus is asynchronous: wait (bounded) until every job that
    * started has also ended.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values().asScala.exists(_.endMs < 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def clear(): Unit = { jobs.clear(); stageJob.clear() }
}

/** Spans joined with the jobs they caused, and self times. */
final class TraceReport(val spans: Seq[Span], jobs: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)

  /** A job belongs to the request named by its job group when it was
    * submitted inside that request. Jobs submitted from pooled threads can
    * carry a stale group, or none; those go by time window to the request
    * that was open at submission. Within the request, the innermost span
    * open at submission takes it.
    */
  val jobsOf: Map[Long, Seq[JobRec]] = {
    val roots = spans.filter(_.parent < 0)
    def within(s: Span, j: JobRec) = j.submitMs >= s.startMs && j.submitMs <= s.endMs
    jobs.flatMap { j =>
      val byGroup = if (j.group.startsWith("pb-"))
        byId.get(j.group.stripPrefix("pb-").toLong).filter(within(_, j)) else None
      byGroup.orElse(roots.find(within(_, j))).map { root =>
        var cur = root
        var deeper = true
        while (deeper) {
          children.getOrElse(cur.id, Nil).find(within(_, j)) match {
            case Some(c) => cur = c
            case None => deeper = false
          }
        }
        cur.id -> j
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Jobs of a span and of everything under it. */
  def jobsUnder(id: Long): Seq[JobRec] =
    jobsOf.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => jobsUnder(c.id))

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = {
    val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val js = jobsOf.getOrElse(s.id, Nil)
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Seq(
        "id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent.toDouble), "request" -> Json.num(s.request.toDouble),
        "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble),
        "dur_ms" -> Json.num(s.ms), "self_ms" -> Json.num(selfMs(s)),
        "jobs" -> Json.num(js.length.toDouble),
        "input_bytes" -> Json.num(js.map(_.inputBytes).sum.toDouble),
        "shuffle_write_bytes" -> Json.num(js.map(_.shuffleWriteBytes).sum.toDouble))))
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
