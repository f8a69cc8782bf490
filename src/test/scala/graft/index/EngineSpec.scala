package graft.index

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.corpus.CodeCorpus
import graft.query.{Hit, Searcher}

/** End-to-end engine parity: build a real index over the synthetic corpus,
  * then assert block-max WAND results are rank-identical (docIDs AND scores)
  * to the exact distributed scorer — the in-repo oracle standing in for the
  * reference engine (BASELINE.md correctness gates). Plus: determinism
  * across physical layouts, explicit salting engagement, per-row sha256
  * invariant, snapshot pointer swap, stage-level resume.
  */
class EngineSpec extends SparkTestBase {

  private val nDocs = 3000L
  private lazy val indexDir = {
    val dir = tmpDir("graft-index")
    // saltThreshold low enough that `import`/`def` (present in nearly every
    // doc) get salted — exercising the skew path at test scale
    IndexBuilder.build(
      CodeCorpus.generate(spark, nDocs, seed = 42L),
      dir,
      IndexConfig(numBuckets = 8, saltThreshold = 500L, maxSalts = 8))
    dir
  }

  // the reference query set for rank parity (hot terms, phrases, rare,
  // mixed hot+rare, stems, no-hit)
  private val querySet = Seq(
    "import", "def", "import spark", "import def val class",
    "posting merge", "snapshot manifest reader", "parser",
    "the runner runs quickly", "importing definitions",
    "scorer ranker codec", "zzz_does_not_exist", "builder5 cache")

  test("index builds and manifest is sane") {
    val meta = Snapshot.load(indexDir).get
    assert(meta.numDocs == nDocs)
    assert(meta.avgDocLen > 10)
    assert(meta.hotTerms.nonEmpty, "expected salted hot terms at this threshold")
    assert(meta.hotTerms.contains("import") && meta.hotTerms.contains("def"))
    assert(meta.hotTerms.values.forall(s => s >= 2 && (s & (s - 1)) == 0))
  }

  test("WAND top-k is rank-identical to the exact oracle (docIds AND scores)") {
    for (q <- querySet; k <- Seq(1, 10, 100)) {
      val rq = Searcher.resolve(spark, indexDir, q)
      val wand = Searcher.searchHits(spark, indexDir, rq, k).toSeq
      val exact = Searcher.searchExactHits(spark, indexDir, rq, k).toSeq
      assert(wand == exact, s"query='$q' k=$k (exact float + tie parity)")
    }
  }

  test("b>0: per-posting norms — WAND matches oracle AND brute-force BM25") {
    import graft.query.BM25
    import spark.implicits._
    val dir = tmpDir("graft-index-norms")
    val meta = IndexBuilder.build(
      CodeCorpus.generate(spark, 800L, seed = 7L),
      dir,
      IndexConfig(numBuckets = 4, saltThreshold = 200L, maxSalts = 4, b = 0.75))
    assert(meta.b == 0.75)
    // WAND vs exact oracle under norms-on scoring (block bounds use
    // the block min-doclen; scoring uses per-posting doclen)
    for (q <- querySet; k <- Seq(1, 10, 50)) {
      val rq = Searcher.resolve(spark, dir, q)
      val wand = Searcher.searchHits(spark, dir, rq, k).toSeq
      val exact = Searcher.searchExactHits(spark, dir, rq, k).toSeq
      assert(wand == exact, s"b=0.75 query='$q' k=$k")
    }
    // independent brute force from the forward index: doclen-aware BM25
    val docs = spark.read.schema(IndexSchemas.docs).parquet(meta.docsDir(dir))
      .select("docId", "tfs", "doclen")
      .as[(Long, Map[String, Int], Int)].collect()
    val bm25 = BM25(meta.k1, meta.b)
    val rq = Searcher.resolve(spark, dir, "posting merge")
    val idf = rq.terms.map(t => t.term -> bm25.idf(t.df, meta.numDocs)).toMap
    val brute = docs.flatMap { case (docId, tfs, dl) =>
      var s = 0.0
      for (t <- rq.terms) // lexicographic order — the summation contract
        tfs.get(t.term).foreach(tf =>
          s += idf(t.term) * bm25.tfWeight(tf, dl / meta.avgDocLen))
      if (s > 0) Some(Hit(docId, s)) else None
    }.sortBy(h => (-h.score, h.docId)).take(10).toSeq
    val engine = Searcher.searchHits(spark, dir, rq, 10).toSeq
    assert(engine == brute, "norms-on scores must equal doclen-aware BM25")
    // and norms actually change the ranking scores vs the b=0 index
    val b0 = Searcher.searchHits(spark, indexDir,
      Searcher.resolve(spark, indexDir, "posting merge"), 10).toSeq
    assert(b0.map(_.score) != engine.map(_.score))
  }

  test("delta build: layered generations answer identically to a full rebuild") {
    import spark.implicits._
    val cfg = IndexConfig(numBuckets = 8, saltThreshold = 400L, maxSalts = 8)
    // same seed → generate(2000) keys are a superset of generate(1200)
    val dirDelta = tmpDir("graft-delta")
    IndexBuilder.build(CodeCorpus.generate(spark, 1200L, seed = 11L), dirDelta, cfg)
    val m2 = IndexBuilder.buildDelta(
      CodeCorpus.generate(spark, 2000L, seed = 11L), dirDelta, cfg)
    assert(m2.baseVersions == Seq(1) && m2.version == 2)
    assert(m2.numDocs == 2000)

    val dirFull = tmpDir("graft-full")
    val mf = IndexBuilder.build(CodeCorpus.generate(spark, 2000L, seed = 11L),
      dirFull, cfg)
    // the order-independent corpus fingerprint must agree exactly
    assert(m2.corpusFingerprint == mf.corpusFingerprint)
    assert(m2.numDocs == mf.numDocs)

    // query parity: docIds differ between constructions (delta ranks append
    // per shard), so compare resolved (path, score) result sets with k
    // beyond every df — exact float equality, same BM25 inputs either way
    def pathsOf(dir: String): Map[Long, String] = {
      val meta = Snapshot.load(dir).get
      spark.read.schema(IndexSchemas.docs).parquet(meta.docsDirs(dir): _*)
        .select("docId", "path").as[(Long, String)].collect().toMap
    }
    val pd = pathsOf(dirDelta)
    val pf = pathsOf(dirFull)
    for (q <- querySet) {
      val hd = Searcher.searchHits(spark, dirDelta,
        Searcher.resolve(spark, dirDelta, q), 2500)
        .map(h => (pd(h.docId), h.score)).sortBy(x => (x._1, x._2)).toSeq
      val hf = Searcher.searchHits(spark, dirFull,
        Searcher.resolve(spark, dirFull, q), 2500)
        .map(h => (pf(h.docId), h.score)).sortBy(x => (x._1, x._2)).toSeq
      assert(hd == hf, s"delta vs full mismatch for '$q'")
    }

    // a delta of only-existing keys adds nothing but still commits cleanly
    val m3 = IndexBuilder.buildDelta(
      CodeCorpus.generate(spark, 500L, seed = 11L), dirDelta, cfg)
    assert(m3.numDocs == 2000 && m3.baseVersions == Seq(1, 2))
    assert(Searcher.searchHits(spark, dirDelta,
      Searcher.resolve(spark, dirDelta, "import"), 10).nonEmpty)
  }

  test("compaction re-salts terms that became hot mid-delta-chain") {
    import spark.implicits._
    val cfg = IndexConfig(numBuckets = 8, saltThreshold = 600L, maxSalts = 8)
    val dir = tmpDir("graft-resalt")
    def saltsOf(term: String): Int = {
      val meta = Snapshot.load(dir).get
      spark.read.schema(IndexSchemas.dict).parquet(meta.dictDir(dir))
        .filter(col("term") === term).select("numSalts").as[Int].head()
    }
    def resolved(): Seq[(String, Double)] = {
      val meta = Snapshot.load(dir).get
      val paths = spark.read.schema(IndexSchemas.docs)
        .parquet(meta.docsDirs(dir): _*)
        .select("docId", "path").as[(Long, String)].collect().toMap
      Searcher.searchHits(spark, dir,
        Searcher.resolve(spark, dir, "import def"), 2000)
        .map(h => (paths(h.docId), h.score)).sortBy(identity).toSeq
    }
    // base generation: 'import' df ~400 < threshold → 1 salt
    IndexBuilder.build(CodeCorpus.generate(spark, 400L, seed = 7L), dir, cfg)
    assert(saltsOf("import") == 1)
    // delta growth to 1500 docs: df crosses the threshold but the delta
    // contract FREEZES existing terms' salt counts (WAND task ownership
    // relies on stable salt nesting within a chain)
    IndexBuilder.buildDelta(CodeCorpus.generate(spark, 1500L, seed = 7L), dir, cfg)
    assert(saltsOf("import") == 1, "delta must freeze existing salt counts")
    val before = resolved()
    assert(before.nonEmpty)
    // compaction (the full rebuild StreamingIngest triggers at the chain
    // limit) re-derives salt counts from CURRENT df: the now-hot term
    // spreads over multiple salts, and answers are value-identical
    IndexBuilder.build(CodeCorpus.generate(spark, 1500L, seed = 7L), dir, cfg)
    assert(saltsOf("import") > 1, "compaction must re-salt by current df")
    assert(resolved() == before, "compaction must not change answers")

    // vacuum: the pre-compaction chain (v1, v2) is unreachable from the
    // current full build (v3); keepLast=1 retains the newest unreferenced
    // generation, a second keepLast=0 pass reclaims it too. Answers from
    // the current snapshot never change.
    assert(Snapshot.listVersions(dir) == Seq(1, 2, 3))
    assert(Snapshot.vacuum(dir, keepLast = 1) == Seq(1))
    assert(Snapshot.listVersions(dir) == Seq(2, 3))
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(Snapshot.vacuum(dir, keepLast = 0) == Seq(2))
    assert(Snapshot.listVersions(dir) == Seq(3))
    assert(resolved() == before, "vacuum must not touch the current chain")
    // idempotent + never eats referenced generations
    assert(Snapshot.vacuum(dir, keepLast = 0).isEmpty)
    assert(new java.io.File(s"$dir/v3").exists())
  }

  test("resolveBulk equals per-message resolve (exact + fuzzy, both tiers)") {
    import graft.query.IndexReader
    val msgs = Seq("import spark", "the runner runs quickly",
      "improt parsre", "posting merge segment", "")
    // driver-cached tier AND distributed tier (zero driver budgets)
    for (cfg <- Seq(IndexReader.ReaderConfig(),
      IndexReader.ReaderConfig(0, 0, 64L << 20))) {
      val r = IndexReader.open(spark, indexDir, cfg)
      for (fuzzy <- Seq(false, true)) {
        val bulk = r.resolveBulk(msgs, fuzzy).map(_.terms)
        val single = msgs.map(m => r.resolve(m, fuzzy).terms)
        assert(bulk == single, s"fuzzy=$fuzzy cfg=$cfg")
      }
    }
  }

  test("all three serving tiers are bit-identical") {
    import graft.query.IndexReader
    // zero budgets force the persisted-Dataset scatter-gather path
    val distReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 0))
    // the coordinator tier: shards fetched per query, cached by term
    val coordReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 64L << 20))
    val cachedReader = IndexReader.open(spark, indexDir)
    for (q <- querySet) {
      val d = distReader.searchHits(distReader.resolve(q), 20).toSeq
      val s = coordReader.searchHits(coordReader.resolve(q), 20).toSeq
      val s2 = coordReader.searchHits(coordReader.resolve(q), 20).toSeq // warm
      val c = cachedReader.searchHits(cachedReader.resolve(q), 20).toSeq
      assert(d == c, s"query='$q' differs: scatter-gather vs driver-cached")
      assert(s == c && s2 == c, s"query='$q' differs: coordinator tier")
    }
    // a tiny cache budget falls back to scatter-gather, same results
    val tinyReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 1))
    val q0 = querySet.head
    assert(tinyReader.searchHits(tinyReader.resolve(q0), 20).toSeq ==
      cachedReader.searchHits(cachedReader.resolve(q0), 20).toSeq)
    // dict-fits-postings-don't: in-memory resolution (incl. fuzzy) over
    // distributed postings — still bit-identical
    val midReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 2000000L,
        maxDriverPostingBytes = 0, maxQueryShardCacheBytes = 64L << 20))
    for (q <- querySet.take(4)) {
      assert(midReader.searchHits(midReader.resolve(q), 20).toSeq ==
        cachedReader.searchHits(cachedReader.resolve(q), 20).toSeq)
    }
    assert(midReader.resolve("improt snapshto", fuzzy = true).terms.toSet ==
      cachedReader.resolve("improt snapshto", fuzzy = true).terms.toSet)
    // fuzzy expansion too (Spark-job path vs in-memory scan)
    val fq = "improt snapshto"
    val dRq = distReader.resolve(fq, fuzzy = true)
    val cRq = cachedReader.resolve(fq, fuzzy = true)
    assert(dRq.terms.toSet == cRq.terms.toSet, "fuzzy expansion differs across tiers")
  }

  test("shard-cache policy: LRU keeps the re-hit term resident") {
    import graft.query.IndexReader
    val terms = Seq("parser", "codec", "builder")
    // size each term's resident shard bytes with an unbounded cache
    val sizer = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(0, 0, 1L << 30))
    val sizes = terms.map { t =>
      val before = sizer.shardCacheBytesUsed
      sizer.searchHits(sizer.resolve(t), 10)
      sizer.shardCacheBytesUsed - before
    }
    assert(sizes.forall(_ > 0), s"sizing failed: $sizes")
    // any two terms fit, all three never — the regime where policy matters
    val budget = sizes.sum - sizes.min
    val accesses = Seq(0, 1, 0, 2, 0, 1, 0, 2, 0).map(terms)
    val r = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(0, 0, budget))
    accesses.foreach(q => r.searchHits(r.resolve(q), 10))
    // every re-access of term 0 after the first is a hit (4h/5m) — exact
    // trace: the budget admits exactly two terms
    assert(r.shardCacheStats == ((4L, 5L)), "LRU should keep the head term")
  }

  test("shard cache is safe under concurrent queries (LRU bump + evict race)") {
    import graft.query.IndexReader
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // tight budget forces continuous eviction while hits re-rank — the
    // exact interleaving the shardCacheOrder lock must survive; results
    // must stay bit-identical to the driver-cached tier throughout
    val cached = IndexReader.open(spark, indexDir)
    val expected = querySet.map(q =>
      q -> cached.searchHits(cached.resolve(q), 20).toSeq).toMap
    val r = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(0, 0, 64L << 10))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { t =>
        Future {
          (0 until 25).foreach { i =>
            val q = querySet((t + i) % querySet.length)
            val got = r.searchHits(r.resolve(q), 20).toSeq
            assert(got == expected(q), s"thread $t query '$q' diverged")
          }
        }
      }
      Await.result(Future.sequence(futures), 5.minutes)
    } finally pool.shutdown()
    val (h, m) = r.shardCacheStats
    assert(h + m > 0, "the coordinator path was actually exercised")
  }

  test("fuzzy search matches oracle and finds misspellings") {
    for (q <- Seq("improt spark", "mrege posting", "snapshto")) {
      val rq = Searcher.resolve(spark, indexDir, q, fuzzy = true)
      assert(rq.terms.nonEmpty, s"fuzzy expansion empty for '$q'")
      val wand = Searcher.searchHits(spark, indexDir, rq, 20).toSeq
      val exact = Searcher.searchExactHits(spark, indexDir, rq, 20).toSeq
      assert(wand == exact, s"fuzzy query='$q'")
      assert(wand.nonEmpty)
    }
  }

  test("per-row sha256 invariant: docs table matches recomputed corpus hashes") {
    val meta = Snapshot.load(indexDir).get
    val docs = spark.read.parquet(meta.docsDir(indexDir))
      .select("repo", "path", "commit", "sha256")
    val recomputed = CodeCorpus.generate(spark, nDocs, seed = 42L)
      .select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("sha256_re"))
    val joined = docs.join(recomputed, Seq("repo", "path", "commit"))
    assert(joined.count() == nDocs)
    assert(joined.filter(col("sha256") =!= col("sha256_re")).count() == 0)
  }

  test("determinism: different physical layout, identical results + stats") {
    val dir2 = tmpDir("graft-index2")
    // different bucket count, different salt threshold, different input
    // partitioning — logical results must be identical
    IndexBuilder.build(
      CodeCorpus.generate(spark, nDocs, seed = 42L, partitions = 3),
      dir2,
      IndexConfig(numBuckets = 5, saltThreshold = 2000L, maxSalts = 4))
    val m1 = Snapshot.load(indexDir).get
    val m2 = Snapshot.load(dir2).get
    assert(m1.numDocs == m2.numDocs)
    assert(m1.avgDocLen == m2.avgDocLen)
    assert(m1.corpusFingerprint == m2.corpusFingerprint)
    for (q <- querySet) {
      val h1 = Searcher.searchHits(spark, indexDir, Searcher.resolve(spark, indexDir, q), 50).toSeq
      val h2 = Searcher.searchHits(spark, dir2, Searcher.resolve(spark, dir2, q), 50).toSeq
      assert(h1 == h2, s"query='$q' differs across physical layouts")
    }
  }

  test("salted hot-term postings reassemble exactly") {
    // union of salt shards of 'import' == exact set of docs containing it
    val meta = Snapshot.load(indexDir).get
    val ns = meta.hotTerms("import")
    val segs = spark.read.parquet(meta.segmentsDir(indexDir))
      .filter(col("term") === "import")
      .select("salt", "postings").collect()
    assert(segs.length == ns, s"expected $ns salt shards")
    val fromIndex = segs.flatMap(r =>
      PostingCodec.decode(r.getAs[Array[Byte]]("postings")).map(_.docId)).sorted
    val expected = spark.read.parquet(meta.docsDir(indexDir))
      .filter(array_contains(map_keys(col("tfs")), "import"))
      .select("docId").collect().map(_.getLong(0)).sorted
    assert(fromIndex.toSeq == expected.toSeq)
    // each shard holds exactly its salt's docs
    for (r <- segs) {
      val salt = r.getInt(0)
      val ids = PostingCodec.decode(r.getAs[Array[Byte]]("postings")).map(_.docId)
      assert(ids.forall(d => Hashing.saltOf(d, ns) == salt))
    }
  }

  test("snapshot swap: new generation replaces pointer, old stays readable") {
    val dir = tmpDir("graft-swap")
    val m1 = IndexBuilder.build(CodeCorpus.generate(spark, 200, seed = 1L), dir,
      IndexConfig(numBuckets = 4, saltThreshold = 1000000L))
    assert(Snapshot.currentVersion(dir).contains(m1.version))
    val m2 = IndexBuilder.build(CodeCorpus.generate(spark, 300, seed = 2L), dir,
      IndexConfig(numBuckets = 4, saltThreshold = 1000000L))
    assert(m2.version == m1.version + 1)
    assert(Snapshot.currentVersion(dir).contains(m2.version))
    assert(Snapshot.load(dir).get.numDocs == 300)
    // old generation data intact (time travel)
    assert(spark.read.parquet(s"$dir/v${m1.version}/docs").count() == 200)
    assert(Snapshot.listVersions(dir) == Seq(m1.version, m2.version))
  }

  test("resume: completed stages are skipped on rebuild of same version") {
    val dir = tmpDir("graft-resume")
    val corpus = CodeCorpus.generate(spark, 150, seed = 3L)
    val m1 = IndexBuilder.build(corpus, dir, IndexConfig(numBuckets = 2))
    val docsFile = new java.io.File(s"$dir/v${m1.version}/docs")
    val before = docsFile.lastModified()
    Thread.sleep(20)
    // rebuilding the SAME version resumes: docs/_SUCCESS exists → stage skipped
    val m1b = IndexBuilder.build(corpus, dir, IndexConfig(numBuckets = 2),
      versionOpt = Some(m1.version))
    assert(m1b.numDocs == m1.numDocs)
    assert(docsFile.lastModified() == before, "docs stage should not rerun")
  }

  test("queries with no matching terms return empty") {
    val rq = Searcher.resolve(spark, indexDir, "zzz_does_not_exist qqqq")
    assert(rq.terms.isEmpty)
    assert(Searcher.searchHits(spark, indexDir, rq, 10).isEmpty)
  }
}
