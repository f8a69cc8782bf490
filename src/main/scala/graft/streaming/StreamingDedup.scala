package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup

/** Streaming exact-dedup gate for document ingestion: emit only the FIRST
  * occurrence of each content hash, with state BOUNDED by the event-time
  * watermark (`dropDuplicatesWithinWatermark` — hashes older than the
  * watermark are evicted from the state store).
  *
  * Contract at 100 TB: this is the bounded-state streaming GATE, not an
  * exact global dedup — a duplicate arriving more than `lateness` after
  * its original passes through (its hash has been evicted). Exactness is
  * restored downstream by the batch sweep (`ops.Dedup.exact` /
  * `exactCanonicalIds` over the landed corpus) — the standard
  * streaming-gate + batch-sweep layout; the gate's job is to stop the
  * (overwhelmingly common) near-in-time duplicates from ever landing.
  *
  * Works identically on a batch DataFrame (unified semantics — then it IS
  * exact); the spec drives both and pins agreement.
  */
object StreamingDedup {

  /** Adds `content_hash` and keeps first-seen rows per hash within the
    * watermark horizon. `tsCol` is the event-time column the watermark
    * tracks. On a BATCH frame (dropDuplicatesWithinWatermark is
    * streaming-only) this degrades to exact one-per-hash dedup — one
    * representative row per content hash; pipelines that need the
    * canonical-min-id contract use ops.Dedup.exact for the sweep.
    */
  def firstSeen(docs: DataFrame, textCol: String, tsCol: String,
      lateness: String = "2 hours"): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    if (docs.isStreaming)
      hashed.withWatermark(tsCol, lateness)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Drive a micro-batch function over a stream: the one
    * `writeStream.foreachBatch` wrapper every sweep and gate below runs
    * under, e.g.
    * `sweep(docs, ckpt)(sweepBatch(_, _, "text", "doc_id", state, 3, 64,
    * 16, 0.8, 42L, 64))`. `batchFn` receives each micro-batch and its
    * batchId; the `*Batch` functions are idempotent per batchId, so a
    * batch replayed from `checkpointDir` after a crash overwrites its own
    * output.
    */
  def sweep(docs: DataFrame, checkpointDir: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(batchFn)
      .start()

  /** Streaming NEAR-dup sweep, one micro-batch: runs
    * [[graft.ops.Dedup.minHashLshIncremental]] for `batch` against the
    * band store of everything previously landed under `stateDir`, writes
    * this batch's pairs, then lands the batch's band rows and text — the
    * incremental batch-sweep family driven continuously by [[sweep]]. By
    * the telescoping contract (spec-pinned at the ops layer), the union of
    * all per-batch pair outputs equals one full
    * [[graft.ops.Dedup.minHashLsh]] run over the whole landed corpus, with
    * every pair emitted exactly once, by the batch that completed it.
    *
    * State is three parquet tables under `stateDir`, each partitioned by
    * `_batch` (the foreachBatch batchId): `corpus` (id, text — verify
    * side), `bands` (the LSH band-row store), `pairs` (the output).
    * Restart safety: a replayed batchId dynamically OVERWRITES only its
    * own `_batch` partition, and the state reads exclude the current
    * batchId — so a batch re-run after a mid-write crash neither
    * double-lands rows nor pairs the batch against its own half-landed
    * remains. At 100 TB each sweep costs O(batch) hashing plus a banded
    * join against the store — never a full-corpus re-pair.
    */
  def sweepBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, stateDir: String, shingleSize: Int, numHashes: Int,
      bands: Int, minJaccard: Double, seed: Long,
      maxBucketSize: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    val corpus = landed(b, s"$stateDir/corpus", b, batchId)
    val store = landed(b, s"$stateDir/bands",
      Dedup.minHashBandRows(b.limit(0), textCol, idCol, shingleSize,
        numHashes, bands, seed), batchId)
    val pairs = Dedup.minHashLshIncremental(b, corpus, store, textCol,
      idCol, shingleSize, numHashes, bands, minJaccard, seed, maxBucketSize)
    // pairs first (they read the PRE-batch state), then the state appends
    writeBatch(pairs, s"$stateDir/pairs", batchId)
    writeBatch(Dedup.minHashBandRows(b, textCol, idCol, shingleSize,
      numHashes, bands, seed), s"$stateDir/bands", batchId)
    writeBatch(b, s"$stateDir/corpus", batchId)
  }

  /** SimHash sibling of [[sweepBatch]], one micro-batch: the persisted
    * state is just the (id, simhash) table — one long per doc, the
    * cheapest of the stores — plus the pairs output. Same telescoping and
    * crash-replay contracts; idempotent per batchId.
    */
  def simHashSweepBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, stateDir: String, maxHamming: Int,
      maxBucketSize: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    def sims(df: DataFrame): DataFrame =
      Dedup.simHash(df, textCol, idCol).select(col(idCol), col("simhash"))
    val store = landed(b, s"$stateDir/simhash", sims(b.limit(0)), batchId)
    val pairs = Dedup.simHashIncremental(b, store, textCol, idCol,
      maxHamming, maxBucketSize)
    writeBatch(pairs, s"$stateDir/pairs", batchId)
    writeBatch(sims(b), s"$stateDir/simhash", batchId)
  }

  /** Embedding sibling of [[sweepBatch]], one micro-batch: the persisted
    * state is the (id, srp_bucket, vec) table
    * [[graft.ops.Similarity.withSrpBucket]] produces — the SAME table
    * `lshKnn` serves ANN from, maintained here incrementally as batches
    * stream in. Same telescoping (vs
    * `embeddingNearDupPairs(probeHamming = 1)`) and crash-replay
    * contracts; idempotent per batchId.
    */
  def embeddingSweepBatch(batch: DataFrame, batchId: Long, vecCol: String,
      idCol: String, stateDir: String, dim: Int, nBits: Int, seed: Long,
      minCosine: Double, maxBucketSize: Int): Unit = {
    import graft.ops.Similarity
    val b = batch.select(col(idCol), col(vecCol))
    def bucketed(df: DataFrame): DataFrame =
      Similarity.withSrpBucket(df, vecCol, dim, nBits, seed)
        .select(col(idCol), col("srp_bucket"), col(vecCol))
    val store = landed(b, s"$stateDir/buckets", bucketed(b.limit(0)),
      batchId)
    val pairs = Dedup.embeddingNearDupIncremental(b, store, vecCol, idCol,
      dim, nBits, seed, minCosine, maxBucketSize)
    writeBatch(pairs, s"$stateDir/pairs", batchId)
    writeBatch(bucketed(b), s"$stateDir/buckets", batchId)
  }

  /** SemDeDup sibling of [[sweepBatch]], one micro-batch: the persisted
    * state is the (id, cluster, vec) table
    * [[graft.ops.Similarity.withIvfCluster]] produces — the same table
    * IVF ANN serves probes from — maintained incrementally as batches
    * stream in. The coarse quantizer is FROZEN (`model` is trained
    * offline, the SemDeDup deployment shape — same trust model as
    * [[unigramQualityGateBatch]]'s frozen lexicon), so stored assignments
    * never go stale. Telescoping vs
    * `Dedup.semanticNearDupPairs(all batches)` and crash-replay
    * idempotency are spec-pinned like the other sweeps.
    */
  def semanticSweepBatch(batch: DataFrame, batchId: Long, vecCol: String,
      idCol: String, stateDir: String,
      model: graft.ops.Similarity.IvfModel, minCosine: Double,
      maxClusterSize: Int): Unit = {
    import graft.ops.Similarity
    val b = batch.select(col(idCol), col(vecCol))
    def clustered(df: DataFrame): DataFrame =
      Similarity.withIvfCluster(df, vecCol, model)
        .select(col(idCol), col("ivf_cluster"), col(vecCol))
    val store = landed(b, s"$stateDir/clusters", clustered(b.limit(0)),
      batchId)
    val pairs = Dedup.semanticNearDupIncremental(b, store, vecCol, idCol,
      model, minCosine = minCosine, maxClusterSize = maxClusterSize)
    writeBatch(pairs, s"$stateDir/pairs", batchId)
    writeBatch(clustered(b), s"$stateDir/clusters", batchId)
  }

  /** Substring-level sibling of [[sweepBatch]], one micro-batch: the
    * persisted state is the per-(gram, doc) window-count table
    * [[graft.ops.Dedup.duplicateSubstringGramStore]] produces. Each batch
    * sweeps itself against the landed store via
    * [[graft.ops.Dedup.duplicateSubstringsIncremental]] and emits every
    * duplicated gram it TOUCHES with counts over the corpus-so-far.
    *
    * The convergence contract differs from the pair sweeps (which
    * telescope disjointly): a gram's counts only change when a batch
    * touches it, and the touching batch re-emits it with full counts — so
    * the LATEST emission per gram across all batches equals the full-run
    * [[graft.ops.Dedup.duplicateSubstrings]] table over the landed corpus
    * (spec-pinned). Readers take max-`_batch` per gram; no retractions
    * occur because counts are monotone. Same crash-replay contract;
    * idempotent per batchId.
    */
  def duplicateSubstringSweepBatch(batch: DataFrame, batchId: Long,
      textCol: String, idCol: String, stateDir: String, windowTokens: Int,
      minDocs: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    def grams(df: DataFrame): DataFrame =
      Dedup.duplicateSubstringGramStore(df, textCol, idCol, windowTokens)
    val store = landed(b, s"$stateDir/grams", grams(b.limit(0)), batchId)
    val dups = Dedup.duplicateSubstringsIncremental(b, store, textCol,
      idCol, windowTokens, minDocs)
    writeBatch(dups, s"$stateDir/dups", batchId)
    writeBatch(grams(b), s"$stateDir/grams", batchId)
  }

  /** Streaming eval-set decontamination GATE, one micro-batch: `batch` is
    * checked against the STATIC benchmark table via
    * [[graft.ops.Dedup.contaminationCounts]] (broadcast benchmark window
    * hashes + exact gram re-verify); contaminated docs' counts land under
    * `outDir/contam`, clean rows under `outDir/clean`. Unlike the pair
    * sweeps this needs NO persisted sweep state — the benchmark is fixed
    * and contamination is a per-document fact, so the union of per-batch
    * outputs IS the full-run [[graft.ops.Dedup.decontaminate]] over the
    * landed corpus, exactly (spec-pinned). Same `_batch`-partitioned
    * crash-replay contract as the sweeps; idempotent per batchId.
    */
  def decontaminationGateBatch(batch: DataFrame, batchId: Long,
      benchmark: DataFrame, textCol: String, idCol: String, outDir: String,
      windowTokens: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    val contam = Dedup.contaminationCounts(b, benchmark, textCol, idCol,
      windowTokens)
    writeBatch(contam, s"$outDir/contam", batchId)
    writeBatch(b.join(contam.select(col("doc_id").as(idCol)), Seq(idCol),
      "left_anti"), s"$outDir/clean", batchId)
  }

  /** Unigram-LM quality gate on a stream, one micro-batch — stateless
    * like [[decontaminationGateBatch]]: `batch` is scored against a FROZEN
    * lexicon ([[graft.ops.TextAnalysis.unigramLm]], trained offline on a
    * reference corpus — the CCNet deployment shape: the LM is a fixed
    * artifact, documents flow past it) and split into `pass`/`fail`
    * partitions on the mean-surprisal cap. A document's score depends only
    * on its own tokens and the frozen lexicon, so the per-batch union
    * equals the full batch-mode run exactly and a crash-replayed batch
    * overwrites its own partition idempotently.
    */
  def unigramQualityGateBatch(batch: DataFrame, batchId: Long,
      lexicon: DataFrame, textCol: String, idCol: String, outDir: String,
      maxMeanNllMicro: Long, oovNllMicro: Long): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    val scored = graft.ops.TextAnalysis.unigramDocScore(b, textCol, idCol,
      lexicon, oovNllMicro)
    val ok = scored
      .filter(col("sum_nll_micro") <= lit(maxMeanNllMicro) * col("n_tokens"))
      .select(col("doc_id").as(idCol))
    writeBatch(b.join(ok, Seq(idCol), "left_semi"), s"$outDir/pass", batchId)
    writeBatch(b.join(ok, Seq(idCol), "left_anti"), s"$outDir/fail", batchId)
  }

  /** Landed state under `dir` excluding the current batchId's partition —
    * a crash-replayed batch must not sweep against its own half-landed
    * remains (partition-pruned); `template.limit(0)` supplies the schema
    * before the first batch lands.
    */
  private def landed(session: DataFrame, dir: String, template: DataFrame,
      batchId: Long): DataFrame = {
    val spark = session.sparkSession
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.parquet(dir).filter(col("_batch") =!= batchId)
        .drop("_batch")
    else template.limit(0)
  }

  /** Write `df` as this batch's `_batch` partition of `dir`, dynamically
    * overwriting only that partition — the idempotent-replay write.
    */
  private def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("_batch", lit(batchId)).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch").mode("overwrite").parquet(dir)
}
