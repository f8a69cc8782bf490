package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry

/** Time, attribute and explain contract queries in the session config the
  * Bench contract phase uses:
  * `runMain graft.tools.QueryProbe <sfDir> <time|plan> [repeat] [query ...]`
  *   - `time`: `repeat` (default 1) passes over the queries in alphabetical
  *     order, each query collected as Bench does; per (pass, query) one
  *     `[job]` line per Spark job (id, start offset, duration, call site)
  *     and then `[probe] pass <n> <query> <seconds> <status>`. Pass 1 is
  *     the cold pass, later passes show warm floors.
  *   - `plan`: `explain("formatted")` of each query (PushedFilters,
  *     codegen spans, exchange count).
  *   - queries are exact SparkEntry names; none = all.
  *   - env SPARK_GRAFT_CPUS (default 32) sets the core count, as for Bench.
  */
object QueryProbe {

  /** One Spark job of a measured pass: start offset from the pass start and
    * duration in seconds, and the job's short call site.
    */
  final case class Job(id: Int, startS: Double, durS: Double, site: String)

  /** A measured pass: wall seconds, "ok" or "err: <first message line>",
    * and the jobs that ran inside it in job-id order.
    */
  final case class Pass(sec: Double, status: String, jobs: Seq[Job])

  /** Run `body` once and credit it exactly the Spark jobs it ran: the
    * listener bus is drained before the listener attaches and again before
    * it detaches, so no job of earlier work is counted and every job-end
    * event of this pass has landed when it returns.
    */
  def measure(spark: SparkSession)(body: => Unit): Pass = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage (created last) is named after the action's site
        val site = js.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (s, site) =>
          jobs.add(Job(je.jobId, (s - t0) / 1e3, (je.time - s) / 1e3, site))
        }
    }
    sc.addSparkListener(listener)
    val n0 = System.nanoTime()
    val status =
      try { body; "ok" }
      catch { case NonFatal(e) =>
        val msg = Option(e.getMessage).filter(_.nonEmpty)
          .getOrElse(e.getClass.getName)
        "err: " + msg.linesIterator.nextOption().getOrElse("").take(160)
      }
    val sec = (System.nanoTime() - n0) / 1e9
    try Bridge.drainListenerBus(sc)
    finally sc.removeSparkListener(listener)
    Pass(sec, status, jobs.asScala.toSeq.sortBy(_.id))
  }

  /** The settings of `Bench.withSession`. Bench.scala is frozen so that its
    * timings stay comparable across versions, hence a copy, not a call:
    * keep the two in step.
    */
  private def withSession[T](cores: Int)(f: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-queryprobe-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("time", "plan")(args(1)),
      "usage: QueryProbe <sfDir> <time|plan> [repeat] [query ...]")
    val sfDir = args(0)
    val timeMode = args(1) == "time"
    val repeat = args.lift(2).filter(a => a.nonEmpty && a.forall(_.isDigit))
    val names = args.drop(2 + repeat.size)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    withSession(cpus) { spark =>
      if (timeMode) (1 to repeat.fold(1)(_.toInt)).foreach { pass =>
        qs.foreach { case (name, fn) =>
          val p = measure(spark)(fn(spark, sfDir).collect())
          p.jobs.foreach(j => println(
            f"[job] ${j.id}%4d  +${j.startS}%7.3f  ${j.durS}%7.3f s  ${j.site}"))
          println(f"[probe] pass $pass $name%-24s ${p.sec}%7.3f s  ${p.status}")
        }
      } else qs.foreach { case (name, fn) =>
        println(s"=== plan $name ===")
        try fn(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println(s"[probe] plan $name err: ${e.getMessage}") }
      }
    }
  }
}
