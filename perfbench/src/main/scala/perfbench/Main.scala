package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run of a workload needs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, tiny: Boolean, work: Path, listener: JobListener) {

  /** Times `Main.SetUps` independent set-ups; keeps the last one's result.
    * The first one also pays the JVM's warm-up of the set-up path.
    */
  def setups[T](f: Int => T): (T, Seq[Double]) = {
    val rs = (0 until Main.SetUps).map { i =>
      val t0 = System.nanoTime()
      val r = f(i)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    println("# setup_s: " + rs.map(r => f"${r._2}%.3f").mkString(" "))
    (rs.last._1, rs.map(_._2))
  }

  def dir(name: String): String = work.resolve(name).toString

  /** Info line: JVM uptime at a step of the run. */
  def mark(step: String): Unit =
    println(f"# at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $step")
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A run's operation counts and the metrics it measured, by name. */
final case class Outcome(attempted: Long, failed: Long, measured: Map[String, Double])

/** Closed-loop timing: each client sends its next operation when the
  * previous one returns, until the deadline; every client makes at least
  * one. `op(client, i)` runs client's i-th operation and says whether its
  * output was correct.
  */
object Loop {
  final case class Op(client: Int, seq: Int, startNs: Long, endNs: Long, ok: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def run(clients: Int, seconds: Double)(op: (Int, Int) => Boolean): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (i == 0 || System.nanoTime() < deadline) {
          val s = System.nanoTime()
          val ok = try op(c, i) catch {
            case e: Exception =>
              System.err.println(s"operation failed: $e")
              false
          }
          out.add(Op(c, i, s, System.nanoTime(), ok))
          i += 1
        }
        Proc.threadExits()
      }, s"client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq.sortBy(_.startNs), (System.nanoTime() - t0) / 1e9)
  }
}

/** Process counters read around a measured phase. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private val exitedNs = new java.util.concurrent.atomic.AtomicLong()

  /** Called by a thread of the benchmark's own as it ends, so its CPU time
    * still counts once it is gone.
    */
  def threadExits(): Unit = exitedNs.addAndGet(threads.getCurrentThreadCpuTime)

  /** CPU time of the JVM's Java threads: by thread id for the live ones,
    * plus the total of the benchmark's threads that ended. HotSpot's JIT
    * compiler and GC threads are not Java threads, so they are left out:
    * in the first minute of a JVM the JIT takes up to two of four cores, a
    * share that differs from run to run.
    */
  def threadCpu(): (Map[Long, Long], Long) = {
    val ended = exitedNs.get
    val ids = threads.getAllThreadIds
    (ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap, ended)
  }

  /** Reads the summed CPU time of the calling thread and the JVM's common
    * fork-join pool workers (taken when it is made), which run the parallel
    * parts of a query: per operation, the CPU time the operation cost when
    * one client runs at a time.
    */
  final class CallerAndPoolCpu {
    private val pool = Thread.getAllStackTraces.keySet.asScala.toArray
      .filter(_.getName.startsWith("ForkJoinPool.commonPool-worker")).map(_.getId)
    def poolThreads: Int = pool.length
    def ns(): Long = threads.getCurrentThreadCpuTime + threads.getThreadCpuTime(pool).sum
  }

  /** Seconds of Java-thread CPU since the snapshot `from`; a thread
    * started since counts from 0.
    */
  def appCpuS(from: (Map[Long, Long], Long)): Double = {
    val (live, ended) = threadCpu()
    (live.iterator.map { case (id, ns) => ns - from._1.getOrElse(id, 0L) }.sum +
      ended - from._2) / 1e9
  }
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  def loadAvg: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** The host's CPU counters from /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal), summed over its cores; empty where there
    * is no /proc.
    */
  def hostTicks: Array[Long] =
    try new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .trim.split("\\s+").slice(1, 9).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Info line: the shares of the host's CPU time between two `hostTicks`
    * readings that went to steal (the hypervisor ran something else) and to
    * work of any process.
    */
  def describeHost(label: String, from: Array[Long]): Unit = {
    val to = hostTicks
    if (from.length == 8 && to.length == 8) {
      val d = to.zip(from).map { case (b, a) => b - a }
      val total = d.sum.max(1L).toDouble
      println(f"# host during $label: busy_share=${(d(0) + d(1) + d(2) + d(5) + d(6)) / total}%.3f " +
        f"steal_share=${d(7) / total}%.3f")
    }
  }

  /** JVM heap in use after forced collections. */
  def heapLiveMb: Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}

object Main {

  /** Set-ups per run; `setup_s` is their median. Two, not more: a set-up
    * builds an index (several seconds of Spark jobs) and the run budget
    * holds no third.
    */
  val SetUps = 2

  /** The one Spark session config every workload runs under: the frozen
    * bench's settings at local[nproc].
    */
  def sessionConf(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (4L * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (256L * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  private val Workloads: Map[String, Ctx => Outcome] = Map(
    "search" -> SearchWorkload.run,
    "detect" -> DetectWorkload.run)

  /** Exits 0 after printing the result line, 1 on any failure (no result
    * line), so no lingering thread can keep the JVM alive.
    */
  def main(args: Array[String]): Unit = {
    val code = try { runMain(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def runMain(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val tiny = opts.get("--size").contains("tiny")
    val runWorkload = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opts.getOrElse("--work", ".bench_build/work"))
      .toAbsolutePath.resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Proc.rmrf(work)
    Files.createDirectories(work)
    val conf = sessionConf(cores, work)
    val loadStart = Proc.loadAvg
    println("# run " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds), "trace" -> Json.num(if (trace) 1 else 0),
      "size" -> Json.str(if (tiny) "tiny" else "full"),
      "nproc" -> Json.num(cores.toDouble),
      "heap_max_mb" -> Json.num((Runtime.getRuntime.maxMemory() >> 20).toDouble),
      "commit" -> Json.str(opts.getOrElse("--commit", "unknown")),
      "loadavg_start" -> Json.num(loadStart),
      "spark" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))))

    val builder = SparkSession.builder().appName(s"perfbench-$workload")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val out = try runWorkload(Ctx(spark, seed, seconds, trace, tiny, work, listener))
    finally {
      spark.stop()
      Proc.rmrf(work)
    }
    println(f"# jvm wall: ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val metrics = Metrics.complete(trace,
      out.measured ++ (if (trace) Map("host.loadavg_start" -> loadStart) else Map.empty))
    println(Json.obj(Seq(
      "correct" -> (if (out.failed == 0) "true" else "false"),
      "attempted" -> Json.num(out.attempted.toDouble),
      "failed" -> Json.num(out.failed.toDouble),
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
  }
}
