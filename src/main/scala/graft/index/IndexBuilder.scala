package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{functions => gf}
import scala.collection.mutable.ArrayBuffer

/** Build-time configuration.
  *
  * @param numBuckets    physical (term,salt) hash buckets = directory
  *                      partitions of the segment store. Sized so one bucket's
  *                      postings fit executor memory at target scale; at
  *                      100 TB this is thousands, locally 32.
  * @param saltThreshold df above which a term's posting list is split across
  *                      power-of-two salt shards (explicit skew handling for
  *                      hot terms like `import` / `def` — north_rule).
  * @param maxSalts      cap on shards per term (power of two).
  */
final case class IndexConfig(
    numBuckets: Int = 32,
    saltThreshold: Long = 50000L,
    maxSalts: Int = 32,
    k1: Double = 1.2,
    b: Double = 0.0,
    /** doc shards for dense docId assignment (docId = shard << 40 | rank);
      * fixed per index — determinism depends on config, not parallelism */
    docShards: Int = 64,
    /** named analyzer (graft.analyzer.Analyzers) applied at index AND query
      * time — recorded in the manifest so readers stay symmetric */
    analyzer: String = graft.analyzer.Analyzers.Standard)

/** One stored posting shard: the postings of `term` restricted to docs whose
  * salt (mix64(docId) & (numSalts-1)) equals `salt`, delta-gap varbyte
  * encoded with block-max metadata.
  */
final case class SegmentRow(
    term: String, salt: Int, numSalts: Int,
    shardDf: Long, maxTf: Int, postings: Array[Byte], bucket: Int)

/** Inverted-index construction over an Iceberg-shaped corpus
  * `(repo, path, commit, lang, content)`.
  *
  * Dataflow:
  * {{{
  *   corpus ─ repartition(key → docShard) ─ per-shard key sort ─
  *            one pass: dense docId + sha256 + analyze/tf ─► docs/
  *   docs ─ per-partition dict partials (term, df, cf, maxTf) ─
  *          groupBy(term) of |vocab|-sized partials ─► dict/ (+ hot-term map)
  *   docs ─ per-partition COMPLETE compressed partial posting lists per
  *          (term, salt) ─ shuffle one byte-array per (partition,term,salt) ─
  *          ordered concat-merge per (term, salt) ─► segments/ (bucket dirs)
  *   segments ─ per-bucket metrics ─► lineage/
  *   manifest vN + atomic pointer swap ─► meta/
  * }}}
  *
  * Scale properties: corpus content is exchanged exactly once (docId
  * assignment); the posting exchange carries compressed partial lists —
  * byte volume ≈ final index size and row count = |vocab| x partitions, not
  * one row per posting. Hot terms are split across salt shards BEFORE the
  * shuffle, so no reducer receives a whole skewed posting list (north_rule
  * skew handling). Dense docIds over per-shard key order keep delta gaps in
  * the 1-2 byte range AND make each docs partition a contiguous docId range,
  * so the merge is ordered concatenation, not a k-way heap. Each stage
  * leaves a parquet `_SUCCESS` marker; re-running the same version resumes
  * after the last complete stage (checkpoint resumability per north_rule).
  */
/** Internal row of the forward index (docs/ table). Top-level on purpose:
  * nested inside the object, Spark's generated code references
  * `IndexBuilder$DocRow` and janino fails to resolve the accessor methods,
  * silently dropping the encoder projection of the HOTTEST build stage to
  * interpreted mode ("Expr codegen error ... falling back" in stderr).
  */
private[index] final case class DocRow(docId: Long, repo: String,
    path: String, commit: String, lang: String, sha256: String,
    tfs: Map[String, Int], doclen: Int)

object IndexBuilder {

  private val hexDigits = "0123456789abcdef".toCharArray

  private def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }


  /** Per-partition (term, df, cf, maxTf) dictionary partials — map-side
    * pre-aggregation by hand: each partition folds its tf maps into one
    * HashMap; the exchange carries |vocab| x partitions skinny rows instead
    * of one row per posting. InternalRow scan: fold MapData directly (the
    * encoder path allocates ~|doc| objects per row and GC dominates past a
    * few cores).
    */
  private def dictPartials(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    final class Stat { var df = 0L; var cf = 0L; var maxTf = 0 }
    val partialRdd = docs.select(col("tfs")).queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = new java.util.HashMap[UTF8String, Stat]()
        rows.foreach { r =>
          val m = r.getMap(0)
          val keys = m.keyArray()
          val vals = m.valueArray()
          var i = 0
          val n = m.numElements()
          while (i < n) {
            val k = keys.getUTF8String(i) // transient: backed by row buffer
            val tf = vals.getInt(i)
            var s = acc.get(k)
            if (s == null) { s = new Stat; acc.put(k.clone(), s) }
            s.df += 1
            s.cf += tf
            if (tf > s.maxTf) s.maxTf = tf
            i += 1
          }
        }
        val out = new ArrayBuffer[(String, Long, Long, Int)](acc.size())
        acc.forEach((k, s) => out += ((k.toString, s.df, s.cf, s.maxTf)))
        out.iterator
      }
    spark.createDataset(partialRdd)(Encoders.product[(String, Long, Long, Int)])
      .toDF("term", "df", "cf", "maxTf")
  }

  /** Stage 3 body — two-phase posting build + ordered concat merge, written
    * bucket-partitioned to `segmentsDir`. Phase A (map side): each docs
    * partition builds COMPLETE compressed partial posting lists per
    * (term, salt) for its doc range; the exchange carries one byte-array
    * per (partition, term, salt). Hot terms split across salts BEFORE the
    * shuffle (north_rule skew handling). Shared by full and delta builds.
    */
  private def writeSegments(spark: SparkSession, docs: DataFrame,
      hotTerms: Map[String, Int], segmentsDir: String, numBuckets: Int,
      storeNorms: Boolean): Unit = {
    import spark.implicits._
    val hotB = spark.sparkContext.broadcast(hotTerms)
    val storeNormsL = storeNorms
    val partialRdd = docs.select(col("docId"), col("tfs"), col("doclen"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        import org.apache.spark.unsafe.types.UTF8String
        final class Buf(val numSalts: Int) {
          // one growable (ids, tfs, dls) triple per salt shard of this term
          val ids = Array.fill(numSalts)(new Array[Long](4))
          val tfs = Array.fill(numSalts)(new Array[Int](4))
          val dls = Array.fill(numSalts)(new Array[Int](4))
          val n = new Array[Int](numSalts)
          def add(salt: Int, id: Long, tf: Int, dl: Int): Unit = {
            if (n(salt) == ids(salt).length) {
              ids(salt) = java.util.Arrays.copyOf(ids(salt), n(salt) * 2)
              tfs(salt) = java.util.Arrays.copyOf(tfs(salt), n(salt) * 2)
              dls(salt) = java.util.Arrays.copyOf(dls(salt), n(salt) * 2)
            }
            ids(salt)(n(salt)) = id
            tfs(salt)(n(salt)) = tf
            dls(salt)(n(salt)) = dl
            n(salt) += 1
          }
        }
        val hot = hotB.value
        val acc = new java.util.HashMap[UTF8String, Buf]()
        rows.foreach { r =>
          val docId = r.getLong(0)
          val m = r.getMap(1)
          val dl = if (storeNormsL) r.getInt(2) else 0
          val keys = m.keyArray()
          val vals = m.valueArray()
          var i = 0
          val nEl = m.numElements()
          while (i < nEl) {
            val k = keys.getUTF8String(i)
            var buf = acc.get(k)
            if (buf == null) {
              buf = new Buf(hot.getOrElse(k.toString, 1))
              acc.put(k.clone(), buf)
            }
            buf.add(Hashing.saltOf(docId, buf.numSalts), docId, vals.getInt(i), dl)
            i += 1
          }
        }
        val out = new ArrayBuffer[(String, Int, Int, Long, Long, Int, Array[Byte], Int)](acc.size())
        acc.forEach { (k, buf) =>
          val term = k.toString
          var salt = 0
          while (salt < buf.numSalts) {
            val cnt = buf.n(salt)
            if (cnt > 0) {
              val ids = buf.ids(salt)
              val tfs = buf.tfs(salt)
              val dls = buf.dls(salt)
              // rows arrive docId-ascending per contiguous file split; an
              // interleaved multi-split partition needs a local sort
              var monotonic = true
              var maxTf = 0
              var i = 0
              while (i < cnt) {
                if (i > 0 && ids(i) <= ids(i - 1)) monotonic = false
                if (tfs(i) > maxTf) maxTf = tfs(i)
                i += 1
              }
              val arr = new Array[Posting](cnt)
              i = 0
              while (i < cnt) { arr(i) = Posting(ids(i), tfs(i), dls(i)); i += 1 }
              if (!monotonic)
                java.util.Arrays.sort(arr, Ordering.by((p: Posting) => p.docId))
              out += ((term, salt, buf.numSalts, arr(0).docId, cnt.toLong,
                maxTf, PostingCodec.encode(arr),
                Hashing.bucketOf(term, salt, numBuckets)))
            }
            salt += 1
          }
        }
        out.iterator
      }
    val partials = spark.createDataset(partialRdd)(
      Encoders.product[(String, Int, Int, Long, Long, Int, Array[Byte], Int)])

    // Phase B: co-locate by bucket, order runs by (term, salt, firstDocId),
    // concatenate each run's disjoint ranges into the final shard
    val segs: Dataset[SegmentRow] = partials
      .toDF("term", "salt", "numSalts", "firstDocId", "shardDf", "maxTf",
        "bytes", "bucket")
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions("term", "salt", "firstDocId")
      .as[(String, Int, Int, Long, Long, Int, Array[Byte], Int)]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[SegmentRow] {
          override def hasNext: Boolean = in.hasNext
          override def next(): SegmentRow = {
            val head = in.next()
            val (term, salt, numSalts, _, _, _, _, bucket) = head
            var df = head._5
            var maxTf = head._6
            val parts = ArrayBuffer(head._7)
            while (in.hasNext && in.head._1 == term &&
              in.head._2 == salt) {
              val p = in.next()
              df += p._5
              if (p._6 > maxTf) maxTf = p._6
              parts += p._7
            }
            require(df <= Int.MaxValue,
              s"(term=$term, salt=$salt) shard has $df postings > Int.MaxValue" +
                " — raise maxSalts/saltThreshold so shards stay addressable")
            val merged =
              if (parts.length == 1) parts(0)
              else {
                // partials normally cover disjoint docId ranges (contiguous
                // file splits of the docId-sorted docs table); a scan that
                // packed non-adjacent files into one partition can overlap
                // ranges — detect and sort before re-encoding
                val all = new Array[Posting](df.toInt)
                var off = 0
                for (bytes <- parts) {
                  val ps = PostingCodec.decode(bytes)
                  System.arraycopy(ps, 0, all, off, ps.length)
                  off += ps.length
                }
                var monotonic = true
                var i = 1
                while (monotonic && i < all.length) {
                  if (all(i).docId <= all(i - 1).docId) monotonic = false
                  i += 1
                }
                if (!monotonic)
                  java.util.Arrays.sort(all, Ordering.by((p: Posting) => p.docId))
                PostingCodec.encode(all)
              }
            SegmentRow(term, salt, numSalts, df, maxTf, merged, bucket)
          }
        }
      }
    segs.write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(segmentsDir)
  }

  def build(
      corpus: DataFrame,
      indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      versionOpt: Option[Int] = None,
      onStageTime: (String, Double) => Unit = (_, _) => ()): SnapshotMeta = {
    // b = 0 (the reference's norms-off mode, create.py:177) stores no
    // doclens and pays zero codec overhead; b > 0 stores per-posting norms
    // (doclen) so standard BM25 length normalization scores from the
    // postings alone — no side lookup at query time.
    val storeNorms = cfg.b > 0.0
    val spark = corpus.sparkSession
    import spark.implicits._

    val version = versionOpt.getOrElse(
      Snapshot.listVersions(indexDir).lastOption.getOrElse(0) + 1)
    val base = s"$indexDir/v$version"
    val docsDir = s"$base/docs"
    val dictDir = s"$base/dict"
    val segmentsDir = s"$base/segments"
    val lineageDir = s"$base/lineage"

    // Stage-resume safety (round-1 advice): a _SUCCESS marker alone would
    // let a crashed version re-run with a DIFFERENT corpus or config reuse
    // stale stage outputs. Every completed stage is stamped with a build
    // token = hash of (config, input schema, input files, normalized plan);
    // a mismatch rebuilds the stage. (In-memory test corpora with identical
    // schemas hash alike — acceptable: versions are fresh per build and
    // resume only ever applies to a same-version re-run.)
    val buildToken: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val planNorm = corpus.queryExecution.analyzed.toString
        .replaceAll("#\\d+", "")
      val idText = cfg.toString + "\u0000" + corpus.schema.catalogString +
        "\u0000" + corpus.inputFiles.sorted.mkString(",") + "\u0000" + planNorm
      toHex(md.digest(idText.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    def stampPath(dir: String) = java.nio.file.Paths.get(dir, "_GRAFT_STAMP")
    def stamp(dir: String): Unit =
      java.nio.file.Files.write(stampPath(dir),
        buildToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def done(dir: String): Boolean =
      new java.io.File(dir, "_SUCCESS").exists() &&
        java.nio.file.Files.exists(stampPath(dir)) &&
        new String(java.nio.file.Files.readAllBytes(stampPath(dir)),
          java.nio.charset.StandardCharsets.UTF_8) == buildToken

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onStageTime(label, (System.nanoTime() - t0) / 1e9)
      r
    }

    // ---- stage 1: forward index (docId, metadata, sha256, tfs, doclen) ----
    // Bucket-dense docIds: docId = docShard << 40 | rankWithinShard, where
    // docShard = hash(repo,path,commit) % docShards and the rank follows the
    // per-shard lexicographic key order. Properties:
    //  - deterministic at ANY parallelism (shard and rank are pure functions
    //    of row values + the fixed docShards config — north_rule N vs 4N)
    //  - dense within shard runs → delta gaps stay 1-2 bytes (uniform hash
    //    ids would leave ~45-bit gaps: incompressible); one large jump per
    //    shard boundary per posting list is amortized away by varlong
    //  - ONE hash exchange of the corpus + per-shard sort; no global sort,
    //    no range-sampling job, no zipWithIndex passes
    // The analyze pass (sha256 + tf map) rides the same pass that assigns
    // ids, so corpus content is read and materialized exactly once.
    if (!done(docsDir)) timed("stage1 docs") {
      val docShards = cfg.docShards
      val analyzerName = cfg.analyzer
      corpus
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"))
        .repartition(docShards, col("repo"), col("path"), col("commit"))
        .sortWithinPartitions("repo", "path", "commit")
        .as[(String, String, String, String, String)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.get().partitionId().toLong
          val md = java.security.MessageDigest.getInstance("SHA-256")
          var i = 0L
          it.map { case (repo, path, commit, lang, content) =>
            val docId = (pid << 40) | i
            i += 1
            md.reset()
            val sha = toHex(
              md.digest(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val tfs = graft.analyzer.Analyzers.termFrequencies(analyzerName, content)
            var doclen = 0
            var j = 0
            while (j < tfs.length) { doclen += tfs(j)._2; j += 1 }
            DocRow(docId, repo, path, commit, lang, sha, tfs.toMap, doclen)
          }
        }
        .write.mode(SaveMode.Overwrite).parquet(docsDir)
      stamp(docsDir)
    }
    val docs = spark.read.schema(IndexSchemas.docs).parquet(docsDir)

    // ---- stage 2: term dictionary / stats ----
    // Map-side pre-aggregation by hand: each partition folds its tf maps
    // into one HashMap and emits per-partition (term, df, cf, maxTf)
    // partials — the exchange carries |vocab| x partitions skinny rows
    // instead of one row per posting (~160x fewer at code-corpus shapes).
    if (!done(dictDir)) timed("stage2 dict") {
      val saltThreshold = cfg.saltThreshold
      val maxSalts = cfg.maxSalts
      val numSaltsU = udf((df: Long) => Hashing.numSaltsFor(df, saltThreshold, maxSalts))
      dictPartials(spark, docs)
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
        .withColumn("numSalts", numSaltsU(col("df")))
        .write.mode(SaveMode.Overwrite).parquet(dictDir)
      stamp(dictDir)
    }
    val dict = spark.read.schema(IndexSchemas.dict).parquet(dictDir)

    // hot terms: tiny by construction (df > saltThreshold) → driver map
    val hotTerms: Map[String, Int] = timed("hot-term collect")(dict.filter(col("numSalts") > 1)
      .select("term", "numSalts").as[(String, Int)].collect().toMap)

    // ---- stage 3: posting segments — two-phase partial build + merge ----
    // Phase A (map side): each docs partition builds COMPLETE compressed
    // partial posting lists per (term, salt) for its doc range. Dense docIds
    // assigned over the sorted corpus make each partition a contiguous docId
    // range, so phase B (reduce side) merges partials by simple ordered
    // concatenation. The exchange carries one compressed byte-array per
    // (partition, term, salt) — posting-count-independent row count, ~160x
    // fewer rows and a fraction of the bytes of a per-posting shuffle. Hot
    // terms are split across salts BEFORE the shuffle, so no reducer ever
    // receives a whole skewed posting list (north_rule skew handling).
    if (!done(segmentsDir)) timed("stage3 segments") {
      writeSegments(spark, docs, hotTerms, segmentsDir, cfg.numBuckets, storeNorms)
      stamp(segmentsDir)
    }

    // ---- stage 4: per-partition lineage + metrics ----
    if (!done(lineageDir)) timed("stage4 lineage") {
      spark.read.schema(IndexSchemas.segments).parquet(segmentsDir)
        .groupBy("bucket")
        .agg(count(lit(1)).as("numShards"),
          sum("shardDf").as("numPostings"),
          sum(length(col("postings"))).as("postingBytes"))
        .withColumn("snapshotVersion", lit(version))
        .write.mode(SaveMode.Overwrite).parquet(lineageDir)
      stamp(lineageDir)
    }

    // ---- stage 5: manifest + atomic pointer swap ----
    val statsRow = timed("stage5 stats")(docs.agg(
      count(lit(1)).as("n"),
      avg(col("doclen")).as("avgdl"),
      // order-independent corpus fingerprint over the per-row sha256
      // invariant; decimal sum avoids ANSI long-overflow at scale
      sum(xxhash64(col("sha256")).cast(DecimalType(38, 0))).as("fp"))
      .collect()(0))
    val n = statsRow.getLong(0)
    val avgdl = if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1)
    val fp = if (statsRow.isNullAt(2)) 0L
      else statsRow.getDecimal(2).toBigInteger.longValue()

    // sizing totals into the manifest: readers pick their serving tier
    // with zero Spark jobs at open()
    val sizing = spark.read.schema(IndexSchemas.lineage).parquet(lineageDir)
      .agg(sum("numShards"), sum("postingBytes")).collect()(0)
    val meta = SnapshotMeta(version, n, avgdl, cfg.numBuckets,
      cfg.saltThreshold, cfg.maxSalts, cfg.k1, cfg.b, fp, hotTerms,
      sizedShards = if (sizing.isNullAt(0)) 0L else sizing.getLong(0),
      sizedPostingBytes = if (sizing.isNullAt(1)) 0L else sizing.getLong(1),
      analyzer = cfg.analyzer)
    Snapshot.commit(indexDir, meta)
    meta
  }

  /** Incremental (delta) build — the streaming-scale path: index ONLY
    * `newCorpus` as generation N+1 LAYERED on the current snapshot instead
    * of rebuilding everything (per-batch full rebuild is O(corpus); a delta
    * is O(batch)).
    *
    * Contract (same on-disk format, manifest-union semantics):
    *  - new docs continue each docShard's dense rank (per-shard base offsets
    *    from the previous generations) → docId ranges are DISJOINT from and
    *    sort after the existing docs in every shard;
    *  - rows whose (repo, path, commit) already exist are skipped (the
    *    reference's upsert identity);
    *  - the dict is rewritten WHOLE with merged stats (it is |vocab|-sized);
    *    existing terms keep their salt counts — every already-stored segment
    *    stays addressable by the dict's salt algebra (a term that grows hot
    *    re-salts at the next compaction, documented trade);
    *  - only the delta's postings are built; readers union docs/segments
    *    across `meta.baseVersions` and WAND treats the extra generation
    *    lists as additional shards (disjoint docIds → no double count);
    *  - compaction = a fresh full `build` (StreamingIngest auto-compacts
    *    past a chain-length threshold).
    */
  def buildDelta(newCorpus: DataFrame, indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      onStageTime: (String, Double) => Unit = (_, _) => ()): SnapshotMeta = {
    val anySnapshot = Snapshot.load(indexDir)
    val prevOpt = anySnapshot
      .filter(_.formatVersion == Snapshot.CurrentFormatVersion)
    // a stale-format snapshot must NOT silently become a full build of just
    // this batch — that would swap the pointer to an index missing every
    // previously indexed doc; the caller owns the full corpus and must
    // rebuild from it (StreamingIngest does exactly that)
    require(anySnapshot.isEmpty || prevOpt.nonEmpty,
      s"snapshot at $indexDir has a stale on-disk format " +
        s"(${anySnapshot.get.formatVersion} != ${Snapshot.CurrentFormatVersion})" +
        " — rebuild with a full build over the complete corpus")
    if (prevOpt.isEmpty) return build(newCorpus, indexDir, cfg, None, onStageTime)
    val prev = prevOpt.get
    require(prev.numBuckets == cfg.numBuckets && prev.maxSalts == cfg.maxSalts &&
      prev.k1 == cfg.k1 && prev.b == cfg.b && prev.analyzer == cfg.analyzer,
      "delta builds must use the snapshot's own IndexConfig")
    val spark = newCorpus.sparkSession
    import spark.implicits._
    val storeNorms = cfg.b > 0.0

    val version = Snapshot.listVersions(indexDir).lastOption.getOrElse(0) + 1
    val base = s"$indexDir/v$version"
    val docsDir = s"$base/docs"
    val dictDir = s"$base/dict"
    val segmentsDir = s"$base/segments"
    val lineageDir = s"$base/lineage"

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onStageTime(label, (System.nanoTime() - t0) / 1e9)
      r
    }

    val prevDocs = spark.read.schema(IndexSchemas.docs)
      .parquet(prev.docsDirs(indexDir): _*)

    // ---- stage 1: delta forward index ----
    timed("delta1 docs") {
      // per-shard dense-rank base offsets: docShard = docId >>> 40
      val offsets: Map[Long, Long] = prevDocs
        .groupBy(shiftrightunsigned(col("docId"), 40).as("shard"))
        .agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      val offsetsB = spark.sparkContext.broadcast(offsets)
      val docShards = cfg.docShards
      val analyzerName = cfg.analyzer
      val fresh = newCorpus
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"))
        .dropDuplicates("repo", "path", "commit")
        .join(prevDocs.select("repo", "path", "commit"),
          Seq("repo", "path", "commit"), "left_anti")
        .select("repo", "path", "commit", "lang", "content")
      fresh
        .repartition(docShards, col("repo"), col("path"), col("commit"))
        .sortWithinPartitions("repo", "path", "commit")
        .as[(String, String, String, String, String)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.get().partitionId().toLong
          val md = java.security.MessageDigest.getInstance("SHA-256")
          var i = offsetsB.value.getOrElse(pid, 0L)
          it.map { case (repo, path, commit, lang, content) =>
            val docId = (pid << 40) | i
            i += 1
            md.reset()
            val sha = toHex(
              md.digest(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val tfs = graft.analyzer.Analyzers.termFrequencies(analyzerName, content)
            var doclen = 0
            var j = 0
            while (j < tfs.length) { doclen += tfs(j)._2; j += 1 }
            DocRow(docId, repo, path, commit, lang, sha, tfs.toMap, doclen)
          }
        }
        .write.mode(SaveMode.Overwrite).parquet(docsDir)
    }
    val deltaDocs = spark.read.schema(IndexSchemas.docs).parquet(docsDir)

    // ---- stage 2: merged dictionary (old stats + delta partials) ----
    timed("delta2 dict") {
      val saltThreshold = cfg.saltThreshold
      val maxSalts = cfg.maxSalts
      val numSaltsU = udf((df: Long) => Hashing.numSaltsFor(df, saltThreshold, maxSalts))
      val oldDict = spark.read.schema(IndexSchemas.dict).parquet(prev.dictDir(indexDir))
        .select(col("term"), col("df"), col("cf"), col("maxTf"),
          col("numSalts").as("oldSalts"))
      val delta = dictPartials(spark, deltaDocs)
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
        .withColumn("oldSalts", lit(null).cast("int"))
      oldDict.unionByName(delta)
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"),
          max("oldSalts").as("oldSalts"))
        .withColumn("numSalts", coalesce(col("oldSalts"), numSaltsU(col("df"))))
        .drop("oldSalts")
        .write.mode(SaveMode.Overwrite).parquet(dictDir)
    }
    val dict = spark.read.schema(IndexSchemas.dict).parquet(dictDir)
    val hotTerms: Map[String, Int] = dict.filter(col("numSalts") > 1)
      .select("term", "numSalts").as[(String, Int)].collect().toMap

    // ---- stage 3: delta posting segments only ----
    timed("delta3 segments") {
      writeSegments(spark, deltaDocs, hotTerms, segmentsDir, cfg.numBuckets,
        storeNorms)
    }

    // ---- stage 4: delta lineage (readers sum across generations) ----
    timed("delta4 lineage") {
      spark.read.schema(IndexSchemas.segments).parquet(segmentsDir)
        .groupBy("bucket")
        .agg(count(lit(1)).as("numShards"),
          sum("shardDf").as("numPostings"),
          sum(length(col("postings"))).as("postingBytes"))
        .withColumn("snapshotVersion", lit(version))
        .write.mode(SaveMode.Overwrite).parquet(lineageDir)
    }

    // ---- stage 5: global stats over ALL generations + pointer swap ----
    val statsRow = timed("delta5 stats")(
      spark.read.schema(IndexSchemas.docs)
        .parquet((prev.docsDirs(indexDir) :+ docsDir): _*)
        .agg(count(lit(1)).as("n"), avg(col("doclen")).as("avgdl"),
          sum(xxhash64(col("sha256")).cast(DecimalType(38, 0))).as("fp"))
        .collect()(0))
    val n = statsRow.getLong(0)
    val avgdl = if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1)
    val fp = if (statsRow.isNullAt(2)) 0L
      else statsRow.getDecimal(2).toBigInteger.longValue()

    // sizing totals across ALL contributing generations (manifest union)
    val sizing = spark.read.schema(IndexSchemas.lineage)
      .parquet((prev.lineageDirs(indexDir) :+ lineageDir): _*)
      .agg(sum("numShards"), sum("postingBytes")).collect()(0)
    val meta = SnapshotMeta(version, n, avgdl, cfg.numBuckets,
      cfg.saltThreshold, cfg.maxSalts, cfg.k1, cfg.b, fp, hotTerms,
      baseVersions = prev.allVersions,
      sizedShards = if (sizing.isNullAt(0)) 0L else sizing.getLong(0),
      sizedPostingBytes = if (sizing.isNullAt(1)) 0L else sizing.getLong(1),
      analyzer = cfg.analyzer)
    Snapshot.commit(indexDir, meta)
    meta
  }

  /** Resolve-or-build: readers get the committed snapshot if one exists AND
    * its on-disk format matches this code (older formats rebuild as a new
    * generation — the old one stays readable by old code, pointer-swap
    * semantics as usual).
    */
  def buildIfAbsent(corpus: => DataFrame, indexDir: String,
      cfg: IndexConfig = IndexConfig()): SnapshotMeta =
    Snapshot.load(indexDir)
      .filter(_.formatVersion == Snapshot.CurrentFormatVersion)
      .getOrElse(build(corpus, indexDir, cfg))
}
