package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.Snapshot
import graft.query.IndexReader
import graft.surface.{EntityStore, TextSurface}
import graft.surface.TextSurface.{EntitySpec, RequestOutput}

/** `detect`: one closed-loop client sends /v2/text requests
  * (TextSurface.detectRequest) against an entity store committed in set-up.
  * The surface layer and its per-request Spark jobs do the work.
  *
  * In a traced run a second thread also upserts new values on a fixed
  * request cadence, so snapshot swaps and reader re-opens happen under
  * load and the stall and visibility figures are measured. The untraced
  * runs leave the store fixed: an upsert runs for most of a run and stalls
  * the requests beside it by seconds, so at a handful of requests per run
  * its timing would set the spread of every end-to-end figure.
  */
object DetectWorkload {

  private val DictSchema = StructType(Seq(
    StructField("entity_data", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("variants", ArrayType(StringType, containsNull = true)),
    StructField("language_script", StringType)))

  val Specs: Seq[(String, EntitySpec)] = Gen.Entities.map(_ -> EntitySpec())

  /** The request mix: every `BulkEvery`-th request is a bulk request of
    * `BulkSize` messages, the others are single chat turns. A fixed mix
    * keeps the per-kind medians comparable between runs.
    */
  val BulkEvery = 3
  val BulkSize = 10

  /** Seconds of untimed requests before the measured phase. A request's
    * CPU time falls by about half over the first minute of the JVM as the
    * JIT compiles Spark's and the surface layer's code; the warm-up moves
    * the measured phase to where it falls more slowly.
    */
  val WarmUpS = 8.0

  /** Requests between two upserts. */
  val UpsertEvery = 2

  def dictFrame(spark: SparkSession, values: Seq[Gen.DictValue]): DataFrame =
    spark.createDataFrame(
      values.map(v => Row(v.entity, v.value, v.variants, "en")).asJava, DictSchema)

  /** Every planted value with an entity is detected with its value, and no
    * detection covers a planted value that is in no dictionary. Returns
    * (ok, upserted values that were detected).
    */
  def check(msgs: Seq[Gen.Message], out: Seq[RequestOutput]): (Boolean, Seq[String]) = {
    var ok = out.length == msgs.length
    val seen = Seq.newBuilder[String]
    msgs.zip(out).foreach { case (m, o) =>
      m.planted.foreach { p =>
        val found = o.entities.getOrElse(p.entity, Nil).exists(_.value == p.value)
        p.kind match {
          case "absent" =>
            if (o.entities.values.flatten.exists(_.original_text.contains(p.text))) ok = false
          case "upserted" => if (found) seen += p.value
          case _ => if (!found) ok = false
        }
      }
    }
    (ok, seen.result())
  }

  final case class Req(size: Int, startNs: Long, endNs: Long, cpuMs: Double,
      firstAfterSwap: Boolean, traced: Boolean, openMs: Double, detectMs: Double,
      svMs: Double) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class Upsert(startNs: Long, endNs: Long)
  final case class DetectPhase(reqs: Seq[Req], upserts: Seq[Upsert], visibleS: Seq[Double],
      swapOpenMs: Seq[Double], lateFailures: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dict = Gen.dictionary(ctx.seed, if (ctx.tiny) 60 else 400)
    val upsertValues = {
      val r = new java.util.SplittableRandom(ctx.seed ^ 0x0b5e47L)
      Seq.tabulate(16)(i => Gen.newValue(r, dict.pool, Gen.Entities(i % Gen.Entities.length)))
    }
    val reqRandom = new java.util.SplittableRandom(ctx.seed ^ 0x7e47L)
    var msgNo = 0
    val requests: Array[Seq[Gen.Message]] = Array.tabulate(256) { i =>
      Seq.fill(if (i % BulkEvery == BulkEvery - 1) BulkSize else 1) {
        msgNo += 1
        Gen.message(reqRandom, dict, msgNo)
      }
    }
    val planted = requests.iterator.flatten.flatMap(_.planted).toSeq
    println(s"# inputs: entities=${Gen.Entities.length} dictionary_values=${dict.values.length} " +
      s"variants=${dict.variantCount} upsert_values=${upsertValues.length} " +
      s"requests=${requests.length} bulk_requests=${requests.count(_.length > 1)} " +
      planted.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ps) => s"planted_$k=${ps.length}" }
        .mkString(" "))

    def detect(store: String, msgs: Seq[Gen.Message]): Seq[RequestOutput] =
      TextSurface.detectRequest(spark, store, msgs.map(_.text), Specs)

    var setupFailures = 0
    val (store, setupS) = ctx.setups { i =>
      val dir = ctx.dir(s"store-$i")
      EntityStore.commitDictionary(spark, dir, dictFrame(spark, dict.values.toSeq))
      val warm = requests(requests.length - 1 - i)
      if (!check(warm, detect(dir, warm))._1) setupFailures += 1
      dir
    }

    ctx.mark("set-up done")
    // warm-up of the request path, untimed, on requests the measured phase
    // does not reach
    val w0 = System.nanoTime()
    var wi = 0
    while (System.nanoTime() - w0 < WarmUpS * 1e9) {
      detect(store, requests(requests.length - 1 - Main.SetUps - wi))
      wi += 1
    }
    println(s"# warm-up: $wi requests")
    var nextUpsert = 0
    var nextReq = 0
    val (ph, traced) = Phase.run(ctx, "detect") { (tracerFor, seconds) =>
      // every upsert is traced in a traced run
      val upTracer = tracerFor(1)
      val reqs = new ConcurrentLinkedQueue[Req]()
      val upserts = new ConcurrentLinkedQueue[Upsert]()
      val visible = new ConcurrentLinkedQueue[Double]()
      val pending = new CopyOnWriteArrayList[(Gen.DictValue, Long)]()
      val upserted = new ConcurrentLinkedQueue[Gen.DictValue]()
      val count = new AtomicInteger(0)
      val over = new AtomicBoolean(false)
      val upsertThread = new Thread(() => {
        var due = UpsertEvery
        while (ctx.trace && !over.get()) {
          if (count.get() >= due && nextUpsert < upsertValues.length) {
            val v = upsertValues(nextUpsert)
            nextUpsert += 1
            val t0 = System.nanoTime()
            pending.add(v -> t0)
            upTracer.request("upsert")(upTracer.span("surface.upsert")(
              EntityStore.upsert(spark, store, dictFrame(spark, Seq(v)))))
            upserts.add(Upsert(t0, System.nanoTime()))
            upserted.add(v)
            due = count.get() + UpsertEvery
          } else Thread.sleep(5)
        }
      }, "upsert")
      upsertThread.start()

      // values upserted but not yet seen ride along in the first message
      def withPending(base: Seq[Gen.Message]): (Seq[Gen.Message], Seq[(Gen.DictValue, Long)]) = {
        val waiting = pending.asScala.toSeq
        (base.head.copy(
          text = (base.head.text +: waiting.map(_._1.variants.head)).mkString(" "),
          planted = base.head.planted ++ waiting.map { case (v, _) =>
            Gen.Planted(v.entity, v.value, v.variants.head, "upserted") }) +: base.tail,
          waiting)
      }
      def markSeen(waiting: Seq[(Gen.DictValue, Long)], seen: Seq[String], t1: Long): Unit =
        waiting.foreach { case (v, up0) =>
          if (seen.contains(v.value)) {
            visible.add((t1 - up0) / 1e9)
            pending.remove(v -> up0)
          }
        }

      var seenVersion = Snapshot.currentVersion(store)
      val (ops, wall) = Loop.run(1, seconds) { (_, i) =>
        val (msgs, waiting) = withPending(requests(nextReq % requests.length))
        nextReq += 1
        val version = Snapshot.currentVersion(store)
        val afterSwap = version != seenVersion
        seenVersion = version
        // the first request after a swap is always traced: it opens the reader
        val tracer = tracerFor(if (afterSwap) 1 else i)
        val t0 = System.nanoTime()
        val cpu0 = Proc.threadCpu()
        val (out, openMs, detectMs, svMs) =
          if (!tracer.enabled) (detect(store, msgs), 0.0, 0.0, 0.0)
          else tracer.request("detect") {
            val (_, openMs) = SearchWorkload.timed(
              tracer.span("query.open")(IndexReader.open(spark, store)))
            val (o, dMs) = SearchWorkload.timed(
              tracer.span("surface.detect_request")(detect(store, msgs)))
            // the same messages through the engine half alone
            val (_, svMs) = SearchWorkload.timed(tracer.span("surface.search_variants")(
              TextSurface.searchVariantsBulk(spark, store, msgs.map(_.text), Gen.Entities)))
            (o, openMs, dMs, svMs)
          }
        val t1 = System.nanoTime()
        val cpuMs = Proc.appCpuS(cpu0) * 1e3
        val (ok, seen) = check(msgs, out)
        markSeen(waiting, seen, t1)
        reqs.add(Req(msgs.length, t0, t1, cpuMs, afterSwap, tracer.enabled, openMs, detectMs,
          svMs))
        count.incrementAndGet()
        if (!ok) System.err.println(s"detect check failed: ${msgs.map(_.text).take(3)}")
        ok
      }
      over.set(true)
      upsertThread.join()
      // the client's next request, made as soon as the last upsert is in:
      // every value upserted in this phase must now be detected
      val all = upserted.asScala.toSeq
      val swapOpens = scala.collection.mutable.ArrayBuffer.empty[Double]
      val late = if (all.isEmpty) 0 else {
        val m = Gen.Message(all.map(_.variants.head).mkString(" and "),
          all.map(v => Gen.Planted(v.entity, v.value, v.variants.head, "upserted")))
        val waiting = pending.asScala.toSeq
        val t0 = System.nanoTime()
        // when it is the first request after a swap, it opens the new reader
        IndexReader.open(spark, store)
        if (Snapshot.currentVersion(store) != seenVersion) swapOpens += (System.nanoTime() - t0) / 1e6
        val (_, seen) = check(Seq(m), detect(store, Seq(m)))
        markSeen(waiting, seen, System.nanoTime())
        all.count(v => !seen.contains(v.value))
      }
      PhaseResult(DetectPhase(reqs.asScala.toSeq, upserts.asScala.toSeq,
        visible.asScala.toSeq, swapOpens.toSeq, late), ops, wall)
    }

    ctx.mark("measured phase done")
    val heap = Proc.heapLiveMb
    val d = ph.result
    val single = d.reqs.filter(_.size == 1).map(_.ms)
    val bulk = d.reqs.filter(_.size > 1).map(_.ms)
    val singleCpu = d.reqs.filter(_.size == 1).map(_.cpuMs)
    val bulkCpu = d.reqs.filter(_.size > 1).map(_.cpuMs)
    Phase.describe("request_ms", d.reqs.map(_.ms))
    Phase.describe("single_request_ms", single)
    Phase.describe("bulk_request_ms", bulk)
    Phase.describe("single_request_cpu_ms", singleCpu)
    Phase.describe("bulk_request_cpu_ms", bulkCpu)
    println("# request_cpu_ms in order: " +
      d.reqs.map(r => f"${r.cpuMs}%.0f${if (r.size > 1) "b" else ""}").mkString(" "))
    println(s"# upserts=${ph.result.upserts.length} visible_s=" +
      ph.result.visibleS.map(v => f"$v%.3f").mkString(","))

    val measured: Map[String, Double] = traced match {
      case None => Map(
        "setup_s" -> Stats.median(setupS),
        "heap_live_mb" -> heap,
        // the median request's CPU time: a bulk request costs little more
        // than a single one, and the mix is the same in every stretch
        "cpu_ms_per_item" -> Stats.median(d.reqs.map(_.cpuMs)))
      case Some(t) =>
        val rep = t.report
        val tracedReqs = d.reqs.filter(_.traced)
        // the request's own calls, without the extra search_variants call
        val reqSpans = rep.named("detect").map(s => rep.spans.filter(c => c.parent == s.id &&
          c.name != "surface.search_variants"))
        val upSpans = rep.named("upsert")
        val stalled = d.reqs.filter(r =>
          d.upserts.exists(u => r.startNs < u.endNs && r.endNs > u.startNs))
        Phase.common(t, "detect", tracedReqs.map(r => r.openMs + r.detectMs),
          d.reqs.filterNot(_.traced).map(_.ms)) ++ Map(
          "analyzer.docs_per_s" -> Phase.analyzerDocsPerS(
            dict.values.toSeq.flatMap(_.variants) ++ requests.iterator.flatten.map(_.text).take(1000)),
          "surface.detect_p50_ms" -> Stats.median(d.reqs.filterNot(_.traced).map(_.ms)),
          "surface.search_variants_ms" -> Stats.median(tracedReqs.map(_.svMs)),
          "surface.post_ms" -> Stats.median(tracedReqs.map(r => r.detectMs - r.svMs)),
          "surface.jobs_per_request" ->
            Stats.mean(reqSpans.map(_.map(c => rep.jobsUnder(c.id).length).sum.toDouble)),
          "surface.input_mb_per_request" -> Phase.mb(Stats.mean(reqSpans.map(
            _.flatMap(c => rep.jobsUnder(c.id)).map(_.inputBytes).sum.toDouble))),
          "surface.stall_ms" -> Stats.median(stalled.map(_.ms)),
          "surface.upsert_s" -> Stats.median(d.upserts.map(u => (u.endNs - u.startNs) / 1e9)),
          "surface.upsert_jobs" -> Stats.mean(upSpans.map(s => rep.jobsUnder(s.id).length.toDouble)),
          "surface.upsert_visible_s" -> Stats.median(d.visibleS),
          "query.open_ms" -> Stats.median(tracedReqs.filterNot(_.firstAfterSwap).map(_.openMs)),
          "query.open_after_swap_ms" ->
            Stats.median(tracedReqs.filter(_.firstAfterSwap).map(_.openMs) ++ d.swapOpenMs))
    }
    Outcome(ph.ops.length + setupS.length + d.upserts.length,
      ph.ops.count(!_.ok) + setupFailures + d.lateFailures, measured)
  }
}
