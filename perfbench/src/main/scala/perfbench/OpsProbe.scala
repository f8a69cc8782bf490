package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Sampling, TextAnalysis}

/** The ops layer on the search corpus, in traced runs: one Curation.curate
  * pass (exact dedup, minhash LSH, connected components (CC), quality and
  * language gates, split), then each stage's public function on the same
  * input, each in its own span. The corpus carries planted forks, so the
  * dedup stages and the CC loop have work.
  */
object OpsProbe {

  val Cfg = Curation.Config()

  /** Union-find in the benchmark: every id of a pair mapped to its component's
    * minimum id.
    */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Per-layer metrics, and whether the CC labels equal a union-find over
    * the same pairs.
    */
  def run(ctx: Ctx, corpus: DataFrame): (Map[String, Double], Boolean) = {
    val spark = ctx.spark
    import spark.implicits._
    val df = corpus.select(col("id"), col("content"))
    ctx.listener.settle()
    ctx.listener.clear()
    val tracer = new Tracer(true, spark.sparkContext)
    val kept = tracer.request("ops.curate")(
      Curation.curate(df, "content", "id", Cfg).select("id", "split").collect().length)
    val (cand, verified, pairs, labels) = tracer.request("ops.stages") {
      val canon = tracer.span("ops.exact")(
        Dedup.exactCanonicalIds(df, "content", "id").select("canonical_id").as[Long].collect())
      val exactKept = df.join(broadcast(canon.toSeq.toDF("id")), Seq("id"), "left_semi")
      val pairs = tracer.span("ops.lsh")(
        Dedup.minHashLsh(exactKept, "content", "id", Cfg.shingleSize, Cfg.numHashes,
          Cfg.bands, Cfg.minJaccard, Cfg.seed, Cfg.maxBucketSize)
          .select("idA", "idB").as[(Long, Long)].collect().toSeq)
      // candidate pairs: documents sharing a band key (the LSH blocking)
      val bands = Dedup.minHashBandRows(exactKept, "content", "id", Cfg.shingleSize,
        Cfg.numHashes, Cfg.bands, Cfg.seed)
      val cand = bands.select(col("band"), col("key"), col("_id").as("idA"))
        .join(bands.select(col("band"), col("key"), col("_id").as("idB")), Seq("band", "key"))
        .filter(col("idA") < col("idB")).select("idA", "idB").distinct()
        .as[(Long, Long)].collect().toSeq
      val verified = tracer.span("ops.verify")(
        Dedup.jaccardVerify(cand.toDF("idA", "idB"), exactKept, "content", "id",
          Cfg.shingleSize).filter(col("exact_jaccard") >= Cfg.minJaccard).count())
      val labels = tracer.span("ops.cc")(
        Dedup.connectedComponents(pairs.toDF("idA", "idB"), "idA", "idB")
          .select("id", "label").as[(Long, Long)].collect().toMap)
      val losers = labels.collect { case (id, l) if id != l => id }.toSeq
      val survivors = exactKept.join(broadcast(losers.toDF("id")), Seq("id"), "left_anti")
      val gated = tracer.span("ops.gates")(TextAnalysis.langId(
        TextAnalysis.qualityScore(survivors, "content"), "content")
        .filter(col("quality") >= Cfg.minQuality && col("lang_pred").isin(Cfg.keepLangs: _*))
        .select("id").as[Long].collect().toSeq)
      tracer.span("ops.split")(
        Sampling.split(gated.toDF("id"), col("id"), Cfg.splitSeed, Cfg.fractions)
          .select("id", "split").collect())
      (cand.length, verified, pairs, labels)
    }
    ctx.listener.settle()
    val rep = new TraceReport(tracer.spans, ctx.listener.all)
    def stageS(n: String) = rep.named(n).map(_.ms / 1e3).sum
    def jobs(n: String) = rep.named(n).flatMap(s => rep.jobsUnder(s.id))
    val ccOk = labels == unionFind(pairs)
    if (!ccOk) System.err.println("ops: CC labels differ from a union-find over the same pairs")
    println(s"# ops: kept=$kept candidate_pairs=$cand verified_pairs=$verified " +
      s"lsh_pairs=${pairs.length} cc_ids=${labels.size}")
    (Map(
      "ops.curate_s" -> stageS("ops.curate"),
      "ops.exact_s" -> stageS("ops.exact"),
      "ops.lsh_s" -> stageS("ops.lsh"),
      "ops.verify_s" -> stageS("ops.verify"),
      "ops.cc_s" -> stageS("ops.cc"),
      "ops.gates_s" -> stageS("ops.gates"),
      "ops.split_s" -> stageS("ops.split"),
      "ops.candidate_pairs" -> cand.toDouble,
      "ops.verified_pairs" -> verified.toDouble,
      "ops.lsh_precision" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "ops.cc_jobs" -> jobs("ops.cc").length.toDouble,
      "ops.jobs" -> jobs("ops.curate").length.toDouble,
      "ops.shuffle_write_mb" -> Phase.mb(jobs("ops.curate").map(_.shuffleWriteBytes).sum.toDouble),
      "ops.kept_docs" -> kept.toDouble), ccOk)
  }
}
