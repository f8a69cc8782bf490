package perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import graft.query.{IndexReader, Searcher}

/** `search`: set-up stores a code corpus and builds its index with
  * IndexBuilder.build (the write side of the index layer); then one
  * closed-loop client calls Searcher.resolve + Searcher.searchHits (k = 100)
  * with a seeded query stream. The query layer (resolve, fuzzy expansion,
  * block-max WAND) does the measured work.
  */
object SearchWorkload {

  val K = 100

  /** One client: a query fans its salted terms out over the common pool's
    * workers, so one query at a time already keeps the cores busy, and a
    * second client would measure the two queuing for them.
    */
  val Clients = 1

  /** Seconds of untimed queries before the measured phase, so the JIT has
    * compiled the query path.
    */
  val WarmUpS = 2.0

  val Stages: Seq[(String, String)] = Seq(
    "stage1 docs" -> "index.stage1_docs_s",
    "stage2 dict" -> "index.stage2_dict_s",
    "hot-term collect" -> "index.hot_terms_s",
    "stage3 segments" -> "index.stage3_segments_s",
    "stage4 lineage" -> "index.stage4_lineage_s",
    "stage5 stats" -> "index.stage5_stats_s")

  /** The frozen bench's salting (terms in more than 1/8 of the docs split
    * across up to 16 salts) with 16 buckets, sized to this corpus.
    */
  def indexConfig(numDocs: Int): IndexConfig =
    IndexConfig(numBuckets = 16, saltThreshold = numDocs / 8L, maxSalts = 16)

  /** The snapshot's expected numDocs and fingerprint, computed here from
    * the corpus: the sum of xxhash64(sha256 hex) over the documents.
    */
  def expected(corpus: Gen.CodeCorpus): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val fp = corpus.docs.foldLeft(BigInt(0)) { (acc, d) =>
      val hex = md.digest(d.content.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      acc + XXH64.hashUTF8String(UTF8String.fromString(hex), 42L)
    }
    (corpus.docs.length.toLong, fp.bigInteger.longValue())
  }

  def writeCorpus(spark: SparkSession, corpus: Gen.CodeCorpus, path: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(corpus.docs.toSeq, 8).toDF().write.parquet(path)
  }

  /** What a traced query saw. */
  final case class QueryInfo(kind: String, openMs: Seq[Double], resolveMs: Double,
      wandMs: Double, terms: Int, postings: Long, fanout: Int, hits: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (numDocs, vocab) = if (ctx.tiny) (1500, 4000) else (10000, 16000)
    val corpus = Gen.codeCorpus(ctx.seed, numDocs, vocab)
    val queries = Gen.queries(ctx.seed, corpus, 4096)
    println(s"# inputs: ${corpus.describe} queries=${queries.length} " + queries.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, qs) => s"${k}_queries=${qs.length}" }.mkString(" "))
    val (expDocs, expFp) = expected(corpus)
    val cfg = indexConfig(numDocs)

    // set-up: store the corpus, build the index, open a reader. In a traced
    // run the builds are traced too: they are the index layer's numbers.
    val setupTracer = new Tracer(ctx.trace, spark.sparkContext)
    val stageTimes = new ConcurrentLinkedQueue[(String, Double)]()
    var buildFailures = 0
    val ((indexDir, meta), setupS) = ctx.setups { i =>
      setupTracer.request("setup") {
        val p = ctx.dir(s"corpus-$i")
        writeCorpus(spark, corpus, p)
        val dir = ctx.dir(s"idx-$i")
        val meta = setupTracer.span("index.build")(IndexBuilder.build(
          spark.read.parquet(p), dir, cfg, onStageTime = (label, sec) => {
            setupTracer.completed(label, sec)
            stageTimes.add(label -> sec)
          }))
        if (meta.numDocs != expDocs || meta.corpusFingerprint != expFp) {
          System.err.println(s"build check failed: numDocs=${meta.numDocs} " +
            s"fingerprint=${meta.corpusFingerprint}, expected $expDocs and $expFp")
          buildFailures += 1
        }
        setupTracer.span("query.open")(IndexReader.open(spark, dir))
        (dir, meta)
      }
    }
    ctx.mark("set-up done")
    val indexMetrics: Map[String, Double] = if (!ctx.trace) Map.empty else {
      ctx.listener.settle()
      val rep = new TraceReport(setupTracer.spans, ctx.listener.all)
      val builds = rep.named("index.build")
      val perBuild = builds.map(s => rep.jobsUnder(s.id))
      def perBuildMedian(f: JobRec => Double) = Stats.median(perBuild.map(_.map(f).sum))
      val st = stageTimes.asScala.toSeq.groupBy(_._1)
      Stages.map { case (label, name) =>
        name -> Stats.median(st.getOrElse(label, Nil).map(_._2))
      }.toMap ++ Map(
        "index.build_docs_per_s" -> numDocs / (Stats.median(builds.map(_.ms)) / 1e3),
        "index.jobs" -> Stats.median(perBuild.map(_.length.toDouble)),
        "index.input_mb" -> Phase.mb(perBuildMedian(_.inputBytes.toDouble)),
        "index.shuffle_write_mb" -> Phase.mb(perBuildMedian(_.shuffleWriteBytes.toDouble)),
        "index.shuffle_records" -> perBuildMedian(_.shuffleRecords.toDouble),
        "index.executor_cpu_s" -> perBuildMedian(_.cpuNs / 1e9),
        "index.gc_s" -> perBuildMedian(_.gcMs / 1e3),
        "index.docs_mb" -> Phase.mb(Proc.dirBytes(meta.docsDir(indexDir))),
        "index.segments_mb" -> Phase.mb(Proc.dirBytes(meta.segmentsDir(indexDir))),
        "index.dict_terms" -> spark.read.parquet(meta.dictDir(indexDir)).count().toDouble,
        "index.salted_terms" -> meta.hotTerms.size.toDouble,
        "index.space_ratio" -> Proc.dirBytes(
          Paths.get(indexDir, s"v${meta.version}").toString).toDouble / corpus.contentBytes)
    }

    def query(q: Gen.Query) =
      Searcher.searchHits(spark, indexDir,
        Searcher.resolve(spark, indexDir, q.text, q.fuzzy), K)
    // warm-up of the query path, untimed
    val w0 = System.nanoTime()
    var wi = 0
    while (System.nanoTime() - w0 < WarmUpS * 1e9) { query(queries(wi % queries.length)); wi += 1 }

    // each client walks its own slice of the seeded stream
    def next(c: Int, i: Int) = queries((c * queries.length / Clients + i) % queries.length)
    val cpu = new Proc.CallerAndPoolCpu
    println(s"# common pool workers: ${cpu.poolThreads}")
    val queryCpuMs = new ConcurrentLinkedQueue[Double]()
    val (ph, traced) = Phase.run(ctx, "search") { (tracerFor, seconds) =>
      val infos = new ConcurrentLinkedQueue[QueryInfo]()
      val (ops, wall) = Loop.run(Clients, seconds) { (c, i) =>
        val q = next(c, i)
        val tracer = tracerFor(i)
        if (!tracer.enabled) {
          val c0 = cpu.ns()
          query(q)
          queryCpuMs.add((cpu.ns() - c0) / 1e6)
        } else tracer.request("search") {
          // the calls Searcher.resolve + Searcher.searchHits make, one by one
          val (r1, o1) = timed(tracer.span("query.open")(IndexReader.open(spark, indexDir)))
          val (rq, resMs) = timed(tracer.span(
            if (q.fuzzy) "query.fuzzy_resolve" else "query.resolve")(r1.resolve(q.text, q.fuzzy)))
          val (r2, o2) = timed(tracer.span("query.open")(IndexReader.open(spark, indexDir)))
          val (hits, wandMs) = timed(tracer.span("query.wand")(r2.searchHits(rq, K)))
          infos.add(QueryInfo(q.kind, Seq(o1, o2), resMs, wandMs, rq.terms.length,
            rq.terms.map(_.df).sum, rq.saltFanout, hits.length))
        }
        true
      }
      PhaseResult(infos.asScala.toSeq, ops, wall)
    }

    ctx.mark("measured phase done")
    // correctness, outside the timed loop: WAND top-k against the exact
    // scorer on a seeded sample, identical docs and bit-identical scores
    val sample = {
      val r = new java.util.SplittableRandom(ctx.seed ^ 0xc4ec4L)
      val byKind = queries.groupBy(_.kind)
      byKind.keys.toSeq.sorted.map(k => byKind(k).head) :+ queries(r.nextInt(queries.length))
    }
    val mismatches = sample.count { q =>
      val rq = Searcher.resolve(spark, indexDir, q.text, q.fuzzy)
      val wand = Searcher.searchHits(spark, indexDir, rq, K)
      val exact = Searcher.searchExactHits(spark, indexDir, rq, K)
      val same = wand.length == exact.length && wand.zip(exact).forall { case (a, b) =>
        a.docId == b.docId &&
          java.lang.Double.doubleToLongBits(a.score) == java.lang.Double.doubleToLongBits(b.score)
      }
      if (!same) System.err.println(s"search mismatch on '${q.text}' fuzzy=${q.fuzzy}")
      !same
    }
    val heap = Proc.heapLiveMb
    // the ops layer runs in traced runs only, after the measured phase
    val (opsMetrics, ccOk) =
      if (ctx.trace) OpsProbe.run(ctx, spark.read.parquet(ctx.dir(s"corpus-${Main.SetUps - 1}")))
      else (Map.empty[String, Double], true)
    val lat = ph.ops.map(_.ms)
    Phase.describe("query_ms", lat)
    Phase.describe("query_cpu_ms", queryCpuMs.asScala.toSeq)
    ph.ops.groupBy(o => next(o.client, o.seq).kind).toSeq.sortBy(_._1).foreach {
      case (k, os) => Phase.describe(s"${k}_query_ms", os.map(_.ms))
    }
    println(f"# queries=${ph.ops.length} wall_s=${ph.wallS}%.3f cpu_s=${ph.cpuS}%.3f " +
      f"app_cpu_s=${ph.appCpuS}%.3f " +
      f"queries_per_s=${ph.ops.length / ph.wallS}%.1f")

    val measured: Map[String, Double] = traced match {
      case None => Map(
        "setup_s" -> Stats.median(setupS),
        "heap_live_mb" -> heap,
        // the median query's CPU time: the stream's kind mix is the same in
        // every stretch of it
        "cpu_ms_per_item" -> Stats.median(queryCpuMs.asScala.toSeq))
      case Some(t) =>
        val infos = t.phase.result
        val fuzzy = infos.filter(_.kind == "fuzzy")
        val wand = infos.map(_.wandMs)
        val untraced = ph.ops.filter(_.seq % 2 == 0).map(_.ms)
        Phase.common(t, "search", t.report.named("search").map(_.ms), untraced) ++
          indexMetrics ++ opsMetrics ++ Map(
          "analyzer.docs_per_s" -> Phase.analyzerDocsPerS(corpus.docs.map(_.content).toSeq),
          "query.search_p50_ms" -> Stats.median(untraced),
          "query.open_ms" -> Stats.median(infos.flatMap(_.openMs)),
          "query.resolve_ms" -> Stats.median(infos.filter(_.kind != "fuzzy").map(_.resolveMs)),
          "query.fuzzy_resolve_ms" -> Stats.median(fuzzy.map(_.resolveMs)),
          "query.expanded_terms" -> Stats.mean(fuzzy.map(_.terms.toDouble)),
          "query.wand_ms_p50" -> Stats.median(wand),
          "query.wand_ms_p99" -> Stats.pct(wand, 0.99),
          "query.postings_per_query" -> Stats.mean(infos.map(_.postings.toDouble)),
          "query.salt_fanout" -> Stats.mean(infos.map(_.fanout.toDouble)),
          "query.hits_per_query" -> Stats.mean(infos.map(_.hits.toDouble)))
    }
    Outcome(ph.ops.length + sample.length + setupS.length + (if (ctx.trace) 1 else 0),
      ph.ops.count(!_.ok) + mismatches + buildFailures + (if (ccOk) 0 else 1), measured)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
