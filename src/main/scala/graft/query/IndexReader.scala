package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.analyzer.Analyzer
import graft.functions.EditDistance
import graft.index.{Hashing, Snapshot, SnapshotMeta}

import scala.collection.concurrent.TrieMap

/** An opened snapshot, ready to serve queries.
  *
  * Two-tier serving (the ES analogy: a coordinating node with hot shards):
  *  - indexes whose dictionary and postings fit a configurable driver budget
  *    are cached in driver memory at open() → queries are pure in-process
  *    WAND, no Spark job, millisecond latency;
  *  - larger indexes keep the dictionary as a parquet-pushdown lookup and
  *    run scatter-gather WAND over a PERSISTED segments Dataset (cached in
  *    executor memory after first touch) — one narrow job + one small
  *    shuffle per query, no file IO after warm-up.
  *
  * Both tiers run the identical Wand.topK kernel, so results are
  * bit-identical regardless of tier (tested in EngineSpec).
  */
final class IndexReader private (
    spark: SparkSession,
    val indexDir: String,
    val meta: SnapshotMeta,
    cfg: IndexReader.ReaderConfig,
    dictMap: Option[Map[String, Searcher.TermStats]],
    segMap: Option[Map[(String, Int), Seq[IndexReader.SegShard]]]) {

  import IndexReader.SegShard

  val bm25: BM25 = BM25(meta.k1, meta.b)

  private lazy val dictDf: DataFrame =
    spark.read.schema(graft.index.IndexSchemas.dict).parquet(meta.dictDir(indexDir))

  /** Persisted distributed segments (lazy — only touched on the big tier).
    * Delta snapshots layer multiple generations' segment dirs (manifest
    * union).
    */
  private lazy val segsDs = {
    import spark.implicits._
    val ds = graft.index.IndexSchemas
      .readSegments(spark, meta.segmentsDirs(indexDir))
      .select("term", "salt", "numSalts", "maxTf", "postings")
      .as[(String, Int, Int, Int, Array[Byte])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    ds.count() // materialize once
    ds
  }

  // ---- term resolution ----

  def resolve(queryText: String, fuzzy: Boolean = false): Searcher.ResolvedQuery = {
    // analyze with the INDEX's analyzer (manifest-recorded) — the
    // index/query symmetry invariant, now per-snapshot
    val tokens = graft.analyzer.Analyzers.analyze(meta.analyzer, queryText)
      .distinct.sorted.toSeq
    val terms: Seq[Searcher.TermStats] =
      if (tokens.isEmpty) Seq.empty
      else if (!fuzzy) lookup(tokens)
      else expandFuzzy(tokens)
    Searcher.ResolvedQuery(terms.sortBy(_.term), meta)
  }

  /** Bulk resolution (J1): on the distributed tier a cold `resolve` pays
    * one dictionary-pushdown job per query with novel tokens; resolving a
    * batch together runs ONE dictionary job over the union token set —
    * exact lookups warm the dict cache, fuzzy expansion runs once per
    * union token (expansion is a pure function of the token, so each
    * message's term set assembles from the shared per-token map exactly
    * as its own resolve() would have computed it).
    */
  def resolveBulk(texts: Seq[String],
      fuzzy: Boolean = false): Seq[Searcher.ResolvedQuery] = {
    val analyzed = texts.map(t =>
      graft.analyzer.Analyzers.analyze(meta.analyzer, t).distinct.sorted.toSeq)
    val union = analyzed.flatten.distinct.sorted
    if (union.isEmpty)
      return analyzed.map(_ => Searcher.ResolvedQuery(Seq.empty, meta))
    if (!fuzzy) {
      lookup(union) // one job; per-message assembly below is cache-only
      analyzed.map(toks =>
        Searcher.ResolvedQuery(lookup(toks).sortBy(_.term), meta))
    } else {
      val byToken: Map[String, Seq[Searcher.TermStats]] = dictMap match {
        case Some(m) => union.map(t => t -> FuzzyExpand.expand(m, Seq(t))).toMap
        case None => Searcher.expandFuzzySparkByToken(spark, dictDf, union)
      }
      analyzed.map { toks =>
        val terms = toks.flatMap(t => byToken.getOrElse(t, Nil)).distinct
        Searcher.ResolvedQuery(terms.sortBy(_.term), meta)
      }
    }
  }

  /** Distributed-tier dictionary entries resolved so far (a snapshot is
    * immutable, so entries never go stale; negative lookups cached too).
    * Query vocabularies are tiny next to posting bytes — capped for safety.
    */
  private val dictCache = TrieMap.empty[String, Option[Searcher.TermStats]]

  private def lookup(tokens: Seq[String]): Seq[Searcher.TermStats] =
    dictMap match {
      case Some(m) => tokens.flatMap(m.get)
      case None =>
        val missing = tokens.filterNot(dictCache.contains)
        if (missing.nonEmpty) {
          if (dictCache.size > 1000000) dictCache.clear()
          val found = dictDf.filter(col("term").isin(missing: _*))
            .select("term", "df", "maxTf", "numSalts").collect()
            .map(r => r.getString(0) -> Searcher.TermStats(r.getString(0),
              r.getLong(1), r.getInt(2), r.getInt(3))).toMap
          missing.foreach(t => dictCache.put(t, found.get(t)))
        }
        tokens.flatMap(t => dictCache.getOrElse(t, None))
    }

  /** ES-style fuzzy expansion (auto:4,7, prefix_length 1, max 50/token —
    * see Searcher scaladoc). In-memory scan on the cached tier; Spark
    * filter over the dictionary otherwise.
    */
  private def expandFuzzy(tokens: Seq[String]): Seq[Searcher.TermStats] = {
    dictMap match {
      case Some(m) => FuzzyExpand.expand(m, tokens)
      case None => Searcher.expandFuzzySpark(spark, dictDf, tokens)
    }
  }

  // ---- search ----

  /** Per-term shard cache for the distributed tier — the ES coordinator
    * model: the FIRST query touching a term fetches that term's (salt)
    * shards with one narrow pushdown job; repeats serve driver-locally at
    * cached-tier latency. Byte-budgeted; a query whose terms exceed the
    * budget falls back to scatter-gather. Eviction is LRU: every hit
    * re-ranks its term to the tail of the victim list, so on Zipf-skewed
    * workloads whose head set fits the budget the head stays resident
    * (EngineSpec pins the exact hit/miss trace).
    */
  private val shardCache =
    TrieMap.empty[String, Seq[(String, Int, Int, Int, Array[Byte])]]
  private val shardCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  // victim list in least-recent-use order (head = next victim), guarded by
  // its own monitor; hits move their term to the tail under the same lock
  private val shardCacheOrder = new java.util.LinkedHashSet[String]()
  private val shardCacheHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val shardCacheMisses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (hits, misses) of the term-shard cache since this reader opened —
    * a term counted once per query that references it.
    */
  def shardCacheStats: (Long, Long) =
    (shardCacheHits.get(), shardCacheMisses.get())

  /** Bytes currently resident in the term-shard cache. */
  def shardCacheBytesUsed: Long = shardCacheBytes.get()

  private def fetchShards(rq: Searcher.ResolvedQuery):
      Option[Seq[(String, Int, Int, Int, Array[Byte])]] =
    fetchShardsByName(rq.terms.map(_.term))

  /** All shard rows (term, salt, numSalts, maxTf, postings) for `terms`,
    * driver-local, if this reader can serve them without a per-query job:
    * from the in-memory segment map on the cached tier, else through the
    * shard cache within its byte budget (missing terms fetched in ONE
    * pushdown job). None → caller should use the distributed path.
    */
  private[graft] def bulkShards(terms: Seq[String]):
      Option[Seq[(String, Int, Int, Int, Array[Byte])]] = {
    val distinct = terms.distinct
    segMap match {
      case Some(m) =>
        val tset = distinct.toSet
        Some(m.toSeq.collect { case ((t, salt), shards) if tset(t) =>
          shards.map(s => (t, salt, s.numSalts, s.maxTf, s.postings))
        }.flatten)
      case None if cfg.maxQueryShardCacheBytes > 0 => fetchShardsByName(distinct)
      case None => None
    }
  }

  private def fetchShardsByName(termNames: Seq[String]):
      Option[Seq[(String, Int, Int, Int, Array[Byte])]] = {
    import spark.implicits._
    val missing = termNames.filterNot(shardCache.contains)
    shardCacheHits.addAndGet((termNames.length - missing.length).toLong)
    shardCacheMisses.addAndGet(missing.length.toLong)
    if (missing.nonEmpty) {
      val fetched = segsDs
        .filter(col("term").isin(missing: _*))
        .as[(String, Int, Int, Int, Array[Byte])]
        .collect()
        .groupBy(_._1)
      // single lock around accounting: two threads fetching the same term
      // must not double-insert into the victim list or double-count bytes
      shardCacheOrder.synchronized {
        for (t <- missing if !shardCache.contains(t)) {
          val shards = fetched.getOrElse(t, Array.empty).toSeq
          val bytes = shards.map(_._5.length.toLong).sum
          if (bytes <= cfg.maxQueryShardCacheBytes) {
            // evict from the head (least-recently used) until the new
            // term fits
            while (shardCacheBytes.get() + bytes > cfg.maxQueryShardCacheBytes &&
              !shardCacheOrder.isEmpty) {
              val it = shardCacheOrder.iterator()
              val victim = it.next()
              it.remove()
              shardCache.remove(victim).foreach(vs =>
                shardCacheBytes.addAndGet(-vs.map(_._5.length.toLong).sum))
            }
            if (shardCacheBytes.get() + bytes <= cfg.maxQueryShardCacheBytes) {
              shardCache.put(t, shards)
              shardCacheOrder.add(t)
              shardCacheBytes.addAndGet(bytes)
            }
          }
        }
      }
    }
    val all = termNames.flatMap { t =>
      val hit = shardCache.get(t)
      if (hit.isDefined) shardCacheOrder.synchronized {
        // re-rank to the tail; skip terms that were never admitted (over
        // budget) or already evicted between the lookup and this bump
        if (shardCacheOrder.remove(t)) shardCacheOrder.add(t)
      }
      hit
    }
    if (all.length == termNames.length) Some(all.flatten) else None
  }

  def searchHits(rq: Searcher.ResolvedQuery, k: Int): Array[Hit] = {
    if (rq.terms.isEmpty) return Array.empty
    segMap match {
      case Some(m) => searchLocal(m, rq, k)
      case None if cfg.maxQueryShardCacheBytes > 0 =>
        fetchShards(rq) match {
          case Some(shards) =>
            val m = shards.groupBy(s => (s._1, s._2))
              .view.mapValues(_.map(s => SegShard(s._3, s._4, s._5)).toSeq)
              .toMap
            searchLocal(m, rq, k)
          case None => Searcher.searchDistributed(spark, segsDs, rq, k)
        }
      case None => Searcher.searchDistributed(spark, segsDs, rq, k)
    }
  }

  /** In-process scatter-gather: one WAND pass per salt task. Tasks own
    * DISJOINT docId sets (`mix64(docId) & (sQ-1)`) and are pure CPU, so a
    * hot-term query (numSalts up to 16) fans out across the JVM common
    * pool instead of running its passes sequentially — this was the
    * latency long-pole: every query touching a salted term paid saltFanout
    * serial WAND passes while the other driver cores idled. The canonical
    * (-score, docId) merge makes the result independent of execution
    * order, so parallelism cannot change the answer (EngineSpec pins
    * cross-tier bit-equality).
    */
  private def searchLocal(m: Map[(String, Int), Seq[SegShard]],
      rq: Searcher.ResolvedQuery, k: Int): Array[Hit] = {
    val sQ = rq.saltFanout
    val n = meta.numDocs
    val idf = rq.terms.map(t => t.term -> bm25.idf(t.df, n)).toMap
    def runTask(task: Int): Seq[Hit] = {
      // one shard per generation per (term, salt): generations hold
      // disjoint docId ranges, so WAND treats them as extra lists safely
      val shards = rq.terms.flatMap { t =>
        m.getOrElse((t.term, task & (t.numSalts - 1)), Nil)
          .map(s => TermShard(t.term, idf(t.term), s.maxTf, s.postings))
      }
      val owns: Long => Boolean =
        if (sQ == 1) _ => true else d => Hashing.saltOf(d, sQ) == task
      Wand.topK(shards, k, bm25, owns, meta.avgDocLen)
    }
    val all: Seq[Hit] =
      if (sQ == 1) runTask(0)
      else {
        import scala.jdk.CollectionConverters._
        java.util.stream.IntStream.range(0, sQ).parallel()
          .mapToObj(task => runTask(task))
          .collect(java.util.stream.Collectors.toList[Seq[Hit]])
          .asScala.toSeq.flatten
      }
    all.sortBy(h => (-h.score, h.docId)).take(k).toArray
  }
}

object IndexReader {

  final case class SegShard(numSalts: Int, maxTf: Int, postings: Array[Byte])

  /** Driver-cache budgets: vocabulary entries and posting bytes. Above
    * either limit the reader serves from the distributed tier.
    */
  final case class ReaderConfig(
      maxDriverVocab: Long = 2000000L,
      maxDriverPostingBytes: Long = 1024L << 20,
      /** per-query term-shard cache budget for the distributed tier (the
        * coordinator/shard-fetch model); 0 disables — every query then runs
        * scatter-gather (the path EngineSpec pins bit-identical).
        */
      maxQueryShardCacheBytes: Long = 256L << 20)

  private val openReaders = TrieMap.empty[(String, Int, ReaderConfig), IndexReader]

  /** Open (or reuse) a reader for the CURRENT snapshot of indexDir.
    * Keyed by (dir, version, config): a snapshot swap yields a fresh reader.
    */
  def open(spark: SparkSession, indexDir: String,
      cfg: ReaderConfig = ReaderConfig()): IndexReader = {
    val meta = Snapshot.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $indexDir"))
    openReaders.getOrElseUpdate((indexDir, meta.version, cfg), {
      import spark.implicits._
      // serving-tier sizing: recorded in the manifest at build time (zero
      // Spark jobs — the open-time probe WAS the cold-open cost); older
      // manifests fall back to the lineage aggregation
      val (nShards, pBytes) =
        if (meta.sizedShards >= 0 && meta.sizedPostingBytes >= 0)
          (meta.sizedShards, meta.sizedPostingBytes)
        else {
          val sizing = spark.read.schema(graft.index.IndexSchemas.lineage)
            .parquet(meta.lineageDirs(indexDir): _*)
            .agg(sum("numShards"), sum("postingBytes")).collect()(0)
          (if (sizing.isNullAt(0)) 0L else sizing.getLong(0),
            if (sizing.isNullAt(1)) 0L else sizing.getLong(1))
        }
      // the dict is |vocab|-sized and independent of posting bytes: load it
      // driver-side whenever the vocabulary fits — in-memory resolution
      // (incl. fuzzy expansion) even when the postings must stay
      // distributed; postings additionally need the byte budget
      val dictSmall = nShards <= cfg.maxDriverVocab
      val segSmall = dictSmall && pBytes <= cfg.maxDriverPostingBytes

      // dict and segments load as CONCURRENT Spark jobs (separate threads
      // share the session safely) — the cold open was three sequential
      // jobs and dominated the first query's latency
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val dictF = Future {
        if (!dictSmall) None
        else Some(
          spark.read.schema(graft.index.IndexSchemas.dict).parquet(meta.dictDir(indexDir))
            .select("term", "df", "maxTf", "numSalts")
            .as[(String, Long, Int, Int)].collect()
            .map(r => r._1 -> Searcher.TermStats(r._1, r._2, r._3, r._4)).toMap)
      }
      val segF = Future {
        if (!segSmall) None
        else Some(
          graft.index.IndexSchemas
            .readSegments(spark, meta.segmentsDirs(indexDir))
            .select("term", "salt", "numSalts", "maxTf", "postings")
            .as[(String, Int, Int, Int, Array[Byte])].collect()
            .groupBy(r => (r._1, r._2))
            .view.mapValues(_.map(r => SegShard(r._3, r._4, r._5)).toSeq)
            .toMap)
      }
      val dictMap = Await.result(dictF, Duration.Inf)
      val segMap = Await.result(segF, Duration.Inf)
      new IndexReader(spark, indexDir, meta, cfg, dictMap, segMap)
    })
  }
}
