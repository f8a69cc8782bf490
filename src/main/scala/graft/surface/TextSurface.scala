package graft.surface

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzer
import graft.index.PostingCodec
import graft.query.{BM25, IndexReader, Searcher}

/** The `/v2/text` detection path (SURVEY.md §3.1) on the engine:
  *
  *   analyze(message) → fuzzy/exact term resolution → scored variant hits
  *   restricted by entity/language filter context → full-coverage highlight
  *   filter (R1) → per-entity variant→value mapping in score order (R2) →
  *   greedy exact-then-fuzzy span assignment with consumption (R3) →
  *   detections (value, original_text).
  *
  * The ES query it re-expresses (ner_v2/detectors/textual/queries.py:15-125):
  * bool { filter: [terms entity_data, terms language_script],
  *        should: [match variants fuzzy], minimum_should_match: 1 } with
  * highlights. Filter clauses do not contribute to the BM25 score (filter
  * context); idf is index-global — both reproduced here.
  */
object TextSurface {

  /** R8 request limits (reference ner_constants.py:73-74). */
  val MaxBulkMessages = 100
  val MaxEntities = 150

  final case class VariantHit(entity: String, value: String, variant: String,
      score: Double)
  final case class Detection(entity: String, value: String,
      original_text: String, detection: String, language: String)

  /** Full detection for one message (steps 4-9: the engine pass, then
    * R2 + R3) — a one-message [[detectBulk]].
    */
  def detect(spark: SparkSession, storeDir: String, message: String,
      entities: Seq[String], languages: Seq[String] = Seq("en"),
      fuzzy: Boolean = true, lo: Int = 4, hi: Int = 7,
      minTokenSize: Int = 4): Map[String, Seq[Detection]] =
    detectBulk(spark, storeDir, Seq(message), entities, languages, fuzzy,
      lo, hi, minTokenSize).head

  /** R2 + R3, pure client-side logic (deterministic greedy — the order IS
    * the contract, text_detection.py:256-331).
    */
  private[surface] def postProcess(hits: Seq[VariantHit], processedText: String,
      entities: Seq[String], language: String, lo: Int, hi: Int,
      minTokenSize: Int): Map[String, Seq[Detection]] = {
    import graft.analyzer.Tokenizer
    entities.map { entity =>
      // R2: variant→value in score order; a duplicate lowercased variant
      // keeps its first position but takes the LAST value — Python dict
      // re-assignment semantics (text_detection.py:291-296: the v2 test
      // expects 'Mumbai' from [('mumbai','mumbai'),('Mumbai','Mumbai')])
      val vToV = scala.collection.mutable.LinkedHashMap.empty[String, String]
      hits.iterator.filter(_.entity == entity).foreach { h =>
        vToV(h.variant.toLowerCase(java.util.Locale.ROOT)) = h.value
      }
      // R3: exact before fuzzy, token count desc within each (stable sort).
      // The exact check runs against the CANONICAL tokenize-and-rejoin form
      // (reference text_detection.py:153-164): "new,york" must still
      // classify the variant "new york" as exact. Span recovery stays on
      // the raw text (the reference's offset-mapping keeps dropped chars
      // like '&' in originals). Each variant tokenizes exactly once.
      val canonical = Tokenizer.tokenizeTerms(processedText).mkString(" ")
      val variants = vToV.keys.toSeq
        .map(v => (v, Tokenizer.tokenizeTerms(v)))
      val (exactM, fuzzyM) = variants.partition { case (_, toks) =>
        canonical.contains(toks.mkString(" ")) }
      val ordered = (exactM.sortBy(-_._2.length) ++ fuzzyM.sortBy(-_._2.length))
        .map(_._1)
      var remaining = processedText
      val out = Seq.newBuilder[Detection]
      for (variant <- ordered) {
        Alignment.entitySubstring(remaining, variant, lo, hi, minTokenSize)
          .foreach { original =>
            out += Detection(entity, vToV(variant), original, "message", language)
            remaining = Alignment.consume(remaining, original, entity)
          }
      }
      entity -> out.result()
    }.toMap
  }

  final case class VerifiedDetection(entity: String, value: String,
      original_text: String, detection: String, language: String,
      datastoreVerified: Boolean, modelVerified: Boolean)

  /** R5 — merge datastore detections with model pre-detected values
    * (reference combine_results, text_detection.py:516-560). Per predetected
    * value, scanning datastore entries in order and stopping at the first
    * match: an entry whose original equals the LOWERCASED value is UPGRADED
    * to model_verified (no new entry); an entry whose original contains the
    * raw value word-bounded subsumes it (dropped); otherwise the value
    * appends as a model-only entry (value = original = the raw string).
    * The detection label is the CALLER's path — the reference stamps one
    * method across the whole combined list (text_detection.py:653-668), so
    * model-only survivors read 'message' / 'structure_value_verified' too.
    */
  def combineResults(datastore: Seq[Detection], predetected: Seq[String],
      entity: String, language: String = "en",
      detection: String = Priority.FromMessage): Seq[VerifiedDetection] = {
    val ds = datastore.map(d => VerifiedDetection(d.entity, d.value,
      d.original_text, detection, d.language,
      datastoreVerified = true, modelVerified = false)).toArray
    val extra = Seq.newBuilder[VerifiedDetection]
    for (p <- predetected) {
      val lowered = p.toLowerCase(java.util.Locale.ROOT)
      val pat = java.util.regex.Pattern.compile(
        raw"\b" + java.util.regex.Pattern.quote(p) + raw"\b")
      var i = 0
      var matched = false
      while (i < ds.length && !matched) {
        if (ds(i).original_text == lowered) {
          ds(i) = ds(i).copy(modelVerified = true); matched = true
        } else if (pat.matcher(ds(i).original_text).find()) {
          matched = true // subsumed by a datastore original
        }
        i += 1
      }
      if (!matched)
        extra += VerifiedDetection(entity, p, p, detection, language,
          datastoreVerified = false, modelVerified = true)
    }
    ds.toSeq ++ extra.result()
  }

  /** Bulk variant search — the msearch batch fusion (reference
    * elastic_search.py:153-163, rewrite noted at SURVEY §4.1): ALL messages'
    * terms resolve once, the postings of the union term set decode in ONE
    * pass, and scoring fans back out per message via a broadcast
    * (message, term) join. One job for N messages instead of N jobs.
    */
  def searchVariantsBulk(spark: SparkSession, storeDir: String,
      messages: Seq[String], entities: Seq[String],
      languages: Seq[String] = Seq("en"), fuzzy: Boolean = true,
      size: Int = 1000): Seq[Seq[VariantHit]] = {
    require(messages.length <= MaxBulkMessages,
      s"at most $MaxBulkMessages messages per bulk request (reference R8)")
    require(entities.length <= MaxEntities,
      s"at most $MaxEntities entities per request (reference R8)")
    import spark.implicits._
    val reader = IndexReader.open(spark, storeDir)
    val meta = reader.meta
    // one dictionary job for the whole batch (resolveBulk warms the dict
    // cache with the union token set), not one per message
    val resolved: Seq[Searcher.ResolvedQuery] =
      reader.resolveBulk(messages, fuzzy)
    val allTerms = resolved.flatMap(_.terms).distinctBy(_.term)
    if (allTerms.isEmpty) return messages.map(_ => Seq.empty)
    val bm25 = BM25(meta.k1, meta.b)
    val idf = allTerms.map(t => t.term -> bm25.idf(t.df, meta.numDocs)).toMap
    val idfB = spark.sparkContext.broadcast(idf)
    val termNames = allTerms.map(_.term)

    // (msgId, term) fan-out table — tiny, broadcast side of the join
    val msgTerms = resolved.zipWithIndex
      .flatMap { case (rq, i) => rq.terms.map(t => (i, t.term)) }
      .toDF("msgId", "term")

    // J1 prewarm: ONE pushdown job fetches the union term set's shards into
    // the reader's byte-budgeted cache; contributions then decode
    // driver-side with zero further segment jobs (repeat bulk calls over
    // warm terms run the whole candidate stage locally). Terms past the
    // budget — or a disabled cache — fall back to the distributed decode,
    // which is also the 100 TB path. Both branches produce the identical
    // (docId, term, contrib) rows: same shards, same kernel.
    val contributions = reader.bulkShards(termNames) match {
      case Some(shards) =>
        shards.flatMap { case (term, _, _, _, postings) =>
          PostingCodec.decode(postings).iterator
            .map(p => (p.docId, term,
              idfB.value(term) * bm25.tfWeight(p.tf, bm25.normOf(p.doclen, meta.avgDocLen))))
        }.toDF("docId", "term", "contrib")
      case None => graft.index.IndexSchemas
        .readSegments(spark, meta.segmentsDirs(storeDir))
        .filter(col("term").isin(termNames: _*))
        .select("term", "postings").as[(String, Array[Byte])]
        .flatMap { case (term, postings) =>
          PostingCodec.decode(postings).iterator
            .map(p => (p.docId, term,
              idfB.value(term) * bm25.tfWeight(p.tf, bm25.normOf(p.doclen, meta.avgDocLen))))
        }
        .toDF("docId", "term", "contrib")
    }

    val scored = contributions
      .join(broadcast(msgTerms), "term")
      .groupBy("msgId", "docId")
      .agg(
        sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"),
        collect_set("term").as("matched"))
      .withColumn("score",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")))
      .select("msgId", "docId", "score", "matched")

    val docs = spark.read.schema(graft.index.IndexSchemas.docs)
      .parquet(meta.docsDirs(storeDir): _*)
      .filter(col("repo").isin(entities: _*) &&
        (if (languages.nonEmpty) col("lang").isin(languages: _*) else lit(true)))
      .select(col("docId"), col("repo").as("entity"), col("path").as("value"),
        col("commit").as("variant"), map_keys(col("tfs")).as("variantTerms"))

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("msgId").orderBy(desc("score"), asc("docId"))
    val rows = docs.join(scored, "docId")
      .filter(forall(col("variantTerms"), t => array_contains(col("matched"), t)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= size)
      .select("msgId", "entity", "value", "variant", "score", "docId")
      .orderBy(col("msgId"), desc("score"), asc("docId"))
      .as[(Int, String, String, String, Double, Long)]
      .collect()

    val byMsg = rows.groupBy(_._1)
    messages.indices.map { i =>
      byMsg.getOrElse(i, Array.empty)
        .map(r => VariantHit(r._2, r._3, r._4, r._5)).toSeq
    }
  }

  /** Bulk detection (the reference's detect_bulk): one fused engine pass,
    * then per-message R2/R3 post-processing.
    */
  def detectBulk(spark: SparkSession, storeDir: String, messages: Seq[String],
      entities: Seq[String], languages: Seq[String] = Seq("en"),
      fuzzy: Boolean = true, lo: Int = 4, hi: Int = 7,
      minTokenSize: Int = 4): Seq[Map[String, Seq[Detection]]] = {
    val language = languages.headOption.getOrElse("en")
    val hitsPerMsg = searchVariantsBulk(spark, storeDir, messages, entities,
      languages, fuzzy)
    messages.zip(hitsPerMsg).map { case (message, hits) =>
      postProcess(hits, Analyzer.lower(message), entities, language, lo, hi,
        minTokenSize)
    }
  }

  /** Per-entity request options — the /v2/text entity body (reference
    * ner_v2/detectors/textual/utils.py:91-141). `predetectedValues` is
    * indexed PER MESSAGE (list-of-lists), as the reference consumes it
    * (text_detection.py:636-644 `predetected_values[index]`).
    */
  final case class EntitySpec(
      structuredValue: Option[String] = None,
      fallbackValue: Option[String] = None,
      predetectedValues: Seq[Seq[String]] = Nil,
      ignoreMessage: Boolean = false)

  /** One message's detection envelope (utils.py:169-177). */
  final case class RequestOutput(entities: Map[String, Seq[VerifiedDetection]],
      language: String)

  /** Fallback-only output for ignore_message entities (reference
    * get_output_for_fallback_entities, utils.py:222-270): the fallback
    * value passes through unverified; a null fallback yields an empty list.
    */
  def fallbackOutputs(specs: Seq[(String, EntitySpec)],
      language: String = "en"): Map[String, Seq[VerifiedDetection]] =
    specs.map { case (entity, s) =>
      entity -> s.fallbackValue.map(fv =>
        VerifiedDetection(entity, fv, fv, Priority.FromFallbackValue,
          language, datastoreVerified = false, modelVerified = false)).toSeq
    }.toMap

  /** Single-message detection with full per-entity routing (reference
    * TextDetector.detect, text_detection.py:562-674): an entity with a
    * structured value is searched against THAT text — the reference batches
    * every structured text plus the message into ONE msearch
    * (text_detection.py:351-369), mirrored here via searchVariantsBulk —
    * then priority routes the combined (datastore + model) list:
    * structured hit → structure_value_verified, structured miss →
    * unverified passthrough, else message, else fallback.
    */
  def detectWithSpecs(spark: SparkSession, storeDir: String, message: String,
      specs: Seq[(String, EntitySpec)], language: String = "en",
      fuzzy: Boolean = true, lo: Int = 4, hi: Int = 7,
      minTokenSize: Int = 4): Map[String, Seq[VerifiedDetection]] = {
    val structured = specs.filter(_._2.structuredValue.isDefined)
    val textual = specs.filterNot(_._2.structuredValue.isDefined)
    // one bulk engine pass over [structured texts..., message]
    val texts = structured.map(_._2.structuredValue.get) ++
      (if (textual.nonEmpty) Seq(message) else Nil)
    val hitsPerText = searchVariantsBulk(spark, storeDir, texts,
      specs.map(_._1), Seq(language), fuzzy)
    val textOf: Map[String, (Seq[VariantHit], String)] =
      structured.zipWithIndex.map { case ((e, s), i) =>
        e -> ((hitsPerText(i), s.structuredValue.get))
      }.toMap ++ textual.map { case (e, _) =>
        e -> ((hitsPerText.last, message))
      }.toMap

    specs.map { case (entity, spec) =>
      val (hits, text) = textOf(entity)
      val det = postProcess(hits, Analyzer.lower(text), Seq(entity), language,
        lo, hi, minTokenSize)(entity)
      val pre = spec.predetectedValues.headOption.getOrElse(Nil)
      val method =
        if (spec.structuredValue.isDefined) Priority.FromStructureValueVerified
        else Priority.FromMessage
      val combined = combineResults(det, pre, entity, language, method)
      entity -> (spec.structuredValue match {
        case Some(sv) =>
          if (combined.nonEmpty) combined
          else Seq(VerifiedDetection(entity, sv, sv,
            Priority.FromStructureValueNotVerified, language,
            datastoreVerified = false, modelVerified = false))
        case None =>
          if (combined.nonEmpty) combined
          else spec.fallbackValue.map(fv =>
            VerifiedDetection(entity, fv, fv, Priority.FromFallbackValue,
              language, datastoreVerified = false,
              modelVerified = false)).toSeq
      })
    }.toMap
  }

  /** Bulk detection with per-message predetected/fallback routing
    * (reference detect_bulk, text_detection.py:674-776): no structured
    * path, per-message model merge, fallback when a message yields nothing.
    */
  def detectBulkWithSpecs(spark: SparkSession, storeDir: String,
      messages: Seq[String], specs: Seq[(String, EntitySpec)],
      language: String = "en", fuzzy: Boolean = true, lo: Int = 4,
      hi: Int = 7, minTokenSize: Int = 4): Seq[Map[String, Seq[VerifiedDetection]]] = {
    val perMsg = detectBulk(spark, storeDir, messages, specs.map(_._1),
      Seq(language), fuzzy, lo, hi, minTokenSize)
    perMsg.zipWithIndex.map { case (byEntity, idx) =>
      specs.map { case (entity, spec) =>
        val pre = spec.predetectedValues.lift(idx).getOrElse(Nil)
        val combined = combineResults(
          byEntity.getOrElse(entity, Seq.empty), pre, entity, language)
        entity -> (if (combined.nonEmpty) combined
        else spec.fallbackValue.map(fv =>
          VerifiedDetection(entity, fv, fv, Priority.FromFallbackValue,
            language, datastoreVerified = false,
            modelVerified = false)).toSeq)
      }.toMap
    }
  }

  /** The /v2/text request envelope (reference
    * get_text_entity_detection_data + validate_text_request,
    * utils.py:19-213): R8 limits validated up front; a SINGLE message
    * splits entities on ignore_message — ignored entities emit only their
    * fallback output, the rest run full detection; MULTIPLE messages run
    * bulk detection with ignore_message (and structured values) ignored,
    * per the reference's routing.
    */
  /** R8 request validation alone (reference validate_text_request,
    * utils.py:19-64) — callers building the HTTP-style envelope run THIS
    * first and map only its failures to the 400 response, so an internal
    * detection error can never masquerade as a client request error.
    */
  def validateRequest(messages: Seq[String],
      specs: Seq[(String, EntitySpec)]): Unit = {
    require(messages.nonEmpty,
      "Key `messages` is required to be a non-empty List[str]")
    require(specs.nonEmpty,
      "Key `entities` is required to be a non-empty Dict[str, Dict]")
    require(messages.length <= MaxBulkMessages,
      s"Length of key `messages` can be at most $MaxBulkMessages")
    require(specs.length <= MaxEntities,
      s"Length of key `entities` can be at most $MaxEntities")
  }

  def detectRequest(spark: SparkSession, storeDir: String,
      messages: Seq[String], specs: Seq[(String, EntitySpec)],
      language: String = "en", fuzzy: Boolean = true, lo: Int = 4,
      hi: Int = 7, minTokenSize: Int = 4): Seq[RequestOutput] = {
    validateRequest(messages, specs)
    if (messages.length == 1) {
      val (ignored, texted) = specs.partition(_._2.ignoreMessage)
      val out = fallbackOutputs(ignored, language) ++
        (if (texted.nonEmpty)
          detectWithSpecs(spark, storeDir, messages.head, texted, language,
            fuzzy, lo, hi, minTokenSize)
        else Map.empty[String, Seq[VerifiedDetection]])
      Seq(RequestOutput(out, language))
    } else {
      detectBulkWithSpecs(spark, storeDir, messages, specs, language, fuzzy,
        lo, hi, minTokenSize).map(RequestOutput(_, language))
    }
  }
}
