package graft.surface

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.index.Snapshot

/** Entity-dictionary surface: fixtures patterned after the reference's
  * postman datastore seeds (city/cuisine dictionaries with misspelling-prone
  * variants) — synthesized, not copied.
  */
class SurfaceSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val storeDir = {
    val dir = tmpDir("graft-store")
    val dict = Seq(
      ("city", "Mumbai", Seq("mumbai", "bombay"), "en"),
      ("city", "New Delhi", Seq("new delhi", "delhi", "dilli"), "en"),
      ("city", "Chennai", Seq("chennai", "madras"), "en"),
      ("city", "Bengaluru", Seq("bengaluru", "bangalore", "blore"), "en"),
      ("cuisine", "Italian", Seq("italian", "pasta", "pizza"), "en"),
      ("cuisine", "South Indian", Seq("south indian", "dosa", "idli"), "en"),
      ("city", "Mumbai", Seq("मुंबई"), "hi")
    ).toDF("entity_data", "value", "variants", "language_script")
    EntityStore.commitDictionary(spark, dir, dict)
    dir
  }

  test("exact single-token detection") {
    val d = TextSurface.detect(spark, storeDir, "book a flight to Chennai",
      Seq("city"))
    assert(d("city").map(x => (x.value, x.original_text)) ==
      Seq(("Chennai", "chennai")))
  }

  test("misspelling detected via fuzzy match + alignment") {
    // reference doc example: 'delehi' → New Delhi (text_detection.py:466-470)
    val d = TextSurface.detect(spark, storeDir,
      "I will visit Delehi next year", Seq("city"))
    assert(d("city").map(x => (x.value, x.original_text)) ==
      Seq(("New Delhi", "delehi")))
  }

  test("multi-word variant wins over its single-token substring") {
    val d = TextSurface.detect(spark, storeDir,
      "moving to new delhi soon", Seq("city"))
    assert(d("city").map(_.value) == Seq("New Delhi"))
    assert(d("city").head.original_text == "new delhi")
  }

  test("multiple entities detected and consumed independently") {
    val d = TextSurface.detect(spark, storeDir,
      "best pizza in mumbai or bangalore", Seq("city", "cuisine"))
    assert(d("city").map(_.value).toSet == Set("Mumbai", "Bengaluru"))
    assert(d("cuisine").map(_.value) == Seq("Italian"))
  }

  test("greedy consumption: same span not claimed twice") {
    val d = TextSurface.detect(spark, storeDir,
      "dosa dosa in chennai", Seq("city", "cuisine"))
    // two dosa occurrences → the word-boundary substitution consumes both
    // after the first claim (reference regex-sub semantics)
    assert(d("cuisine").map(_.value) == Seq("South Indian"))
    assert(d("city").map(_.value) == Seq("Chennai"))
  }

  test("language filter restricts variants") {
    val en = TextSurface.searchVariantsBulk(spark, storeDir, Seq("मुंबई"),
      Seq("city"), languages = Seq("en")).head
    val hi = TextSurface.searchVariantsBulk(spark, storeDir, Seq("मुंबई"),
      Seq("city"), languages = Seq("hi")).head
    assert(en.isEmpty)
    assert(hi.map(_.value).distinct == Seq("Mumbai"))
  }

  test("request envelope: structured / ignore_message / fallback routing") {
    // single-message routing of get_text_entity_detection_data
    // (utils.py:91-213): structured entity searched against its structured
    // text, ignore_message entity emits only its fallback, rest detect
    import TextSurface.{EntitySpec, VerifiedDetection}
    val specs = Seq(
      "city" -> EntitySpec(structuredValue = Some("Delhi")),
      "cuisine" -> EntitySpec(),
      "restaurant" -> EntitySpec(fallbackValue = Some("Dominos"),
        ignoreMessage = true))
    val out = TextSurface.detectRequest(spark, storeDir,
      Seq("I want pizza in Jabalpur"), specs)
    assert(out.length == 1 && out.head.language == "en")
    val e = out.head.entities
    assert(e("city").map(x => (x.value, x.original_text, x.detection)) ==
      Seq(("New Delhi", "delhi", "structure_value_verified")))
    assert(e("city").head.datastoreVerified && !e("city").head.modelVerified)
    assert(e("cuisine").map(x => (x.value, x.detection)) ==
      Seq(("Italian", "message")))
    assert(e("restaurant") == Seq(VerifiedDetection("restaurant", "Dominos",
      "Dominos", "fallback_value", "en", datastoreVerified = false,
      modelVerified = false)))
  }

  test("request envelope: structured miss passthrough; bulk predetected + fallback") {
    import TextSurface.{EntitySpec, VerifiedDetection}
    // a structured value that fails detection passes through UNVERIFIED
    val miss = TextSurface.detectRequest(spark, storeDir, Seq("hello there"),
      Seq("city" -> EntitySpec(structuredValue = Some("xyzzy"))))
    assert(miss.head.entities("city") == Seq(VerifiedDetection("city",
      "xyzzy", "xyzzy", "structure_value_not_verified", "en",
      datastoreVerified = false, modelVerified = false)))
    // bulk: per-message model merge; fallback when a message yields nothing
    val bulk = TextSurface.detectRequest(spark, storeDir,
      Seq("flight to madras", "no hits here"),
      Seq("city" -> EntitySpec(fallbackValue = Some("Pune"),
        predetectedValues = Seq(Seq("Goa"), Seq.empty))))
    val m0 = bulk(0).entities("city")
    assert(m0.map(_.value) == Seq("Chennai", "Goa"))
    assert(m0(0).datastoreVerified && !m0(0).modelVerified)
    assert(m0(1).modelVerified && m0(1).detection == "message")
    assert(bulk(1).entities("city") == Seq(VerifiedDetection("city", "Pune",
      "Pune", "fallback_value", "en", datastoreVerified = false,
      modelVerified = false)))
  }

  test("entity filter is filter-context (no score contribution)") {
    val hits = TextSurface.searchVariantsBulk(spark, storeDir,
      Seq("pizza in mumbai"), Seq("cuisine")).head
    assert(hits.nonEmpty && hits.forall(_.entity == "cuisine"))
  }

  test("aggregations: unique values + supported languages") {
    val vals = EntityStore.uniqueValues(spark, storeDir, "city")
      .as[String].collect().toSeq
    assert(vals == Seq("Bengaluru", "Chennai", "Mumbai", "New Delhi"))
    val langs = EntityStore.supportedLanguages(spark, storeDir, "city")
      .as[String].collect().toSeq
    assert(langs == Seq("en", "hi"))
  }

  test("CRUD: upsert and delete roll new snapshots; old stays readable") {
    val dir = tmpDir("graft-store-crud")
    val dict = Seq(
      ("city", "Pune", Seq("pune", "poona"), "en"),
      ("city", "Goa", Seq("goa"), "en")
    ).toDF("entity_data", "value", "variants", "language_script")
    val m1 = EntityStore.commitDictionary(spark, dir, dict)

    val m2 = EntityStore.upsert(spark, dir,
      Seq(("city", "Pune", Seq("pune", "poona", "punee"), "en"))
        .toDF("entity_data", "value", "variants", "language_script"))
    assert(m2.version == m1.version + 1)
    val d2 = TextSurface.detect(spark, dir, "flying to punee", Seq("city"))
    assert(d2("city").map(_.value) == Seq("Pune"))

    val m3 = EntityStore.deleteValues(spark, dir, "city", Seq("Goa"))
    assert(EntityStore.uniqueValues(spark, dir, "city").as[String].collect()
      .toSeq == Seq("Pune"))

    EntityStore.deleteEntity(spark, dir, "city")
    assert(EntityStore.uniqueValues(spark, dir, "city").count() == 0)

    // time travel: first generation still lists Goa
    assert(Snapshot.listVersions(dir).size == 4)
    assert(spark.read.parquet(s"$dir/v${m1.version}/dictionary")
      .filter(col("value") === "Goa").count() == 1)
    assert(m3.version == m2.version + 1)
  }

  test("bulk detection equals per-message detection (msearch fusion)") {
    val messages = Seq(
      "book a flight to Chennai",
      "I will visit Delehi next year",
      "best pizza in mumbai or bangalore",
      "nothing to see here",
      "dosa in madras")
    val bulk = TextSurface.detectBulk(spark, storeDir, messages,
      Seq("city", "cuisine"))
    val single = messages.map(m =>
      TextSurface.detect(spark, storeDir, m, Seq("city", "cuisine")))
    assert(bulk == single)
    assert(bulk(0)("city").map(_.value) == Seq("Chennai"))
    assert(bulk(3).values.forall(_.isEmpty))
  }

  test("distributed LocalDetector detections equal the bulk surface path") {
    val messages = Seq(
      "book a flight to Chennai",
      "I will visit Delehi next year",
      "best pizza in mumbai or bangalore",
      "nothing to see here",
      "dosa in madras",
      "dosa dosa in chennai",
      "pizza pasta italian in new delhi and blore")
    val entities = Seq("city", "cuisine")
    val bulk = TextSurface.detectBulk(spark, storeDir, messages, entities)
    val expected = messages.zipWithIndex.flatMap { case (_, i) =>
      entities.flatMap(e => bulk(i).getOrElse(e, Seq.empty)
        .map(d => (i.toLong, e, d.value, d.original_text)))
    }.toSet
    val msgsDf = messages.zipWithIndex
      .map { case (m, i) => (i.toLong, m) }.toDF("doc_id", "text")
    val dist = LocalDetector.detect(spark, storeDir, msgsDf, entities)
      .as[(Long, String, String, String)].collect().toSet
    assert(dist == expected)
    // and the plan is one distributed pass: no unbounded collect
    assert(dist.nonEmpty)
  }

  test("LocalDetector refuses indexes above the broadcast budget") {
    intercept[IllegalArgumentException] {
      LocalDetector.load(spark, storeDir, maxPostingBytes = 1L)
    }
  }

  test("LocalDetector runs unchanged on a stream; equals the batch pass") {
    // the detect pipeline is a stateless broadcast mapPartitions, so the
    // SAME call works under readStream (append mode, no state, no
    // watermark) — entity detection over an unbounded message stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val messages = Seq(
      "book a flight to Chennai",
      "I will visit Delehi next year",
      "best pizza in mumbai or bangalore",
      "nothing to see here")
    val entities = Seq("city", "cuisine")
    val batch = LocalDetector.detect(spark,
      storeDir, messages.zipWithIndex.map { case (m, i) => (i.toLong, m) }
        .toDF("doc_id", "text"), entities)
      .as[(Long, String, String, String)].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = LocalDetector.detect(spark, storeDir,
        stream.toDF().toDF("doc_id", "text"), entities)
      .writeStream.format("memory").queryName("stream_detect")
      .outputMode("append").start()
    stream.addData(messages.zipWithIndex.take(2)
      .map { case (m, i) => (i.toLong, m) }: _*)
    q.processAllAvailable()
    stream.addData(messages.zipWithIndex.drop(2)
      .map { case (m, i) => (i.toLong, m) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_detect")
      .as[(Long, String, String, String)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("CRF training store: grouped read path + copy-on-write update") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("graft-crf")
    val rows = Seq(
      ("restaurant", "book a table at mainland china", Seq("mainland china"), "en"),
      ("restaurant", "dinner at barbeque nation", Seq("barbeque nation"), "en"),
      ("restaurant", "मेनलैंड चाइना में टेबल", Seq("मेनलैंड चाइना"), "hi"),
      ("city", "fly to mumbai", Seq("mumbai"), "en")
    ).toDF("entity_data", "sentence", "entities", "language_script")
    TrainingStore.commit(spark, dir, rows)

    // term query on entity_data + group-by-language, (lang, sentence) sorted
    val grouped = TrainingStore.groupedByLanguage(spark, dir, "restaurant")
    assert(grouped.keySet == Set("en", "hi"))
    assert(grouped("en").map(_._1) ==
      Seq("book a table at mainland china", "dinner at barbeque nation"))
    assert(grouped("en").head._2 == Seq("mainland china"))
    // language filter
    assert(TrainingStore.groupedByLanguage(spark, dir, "restaurant",
      Seq("hi")).keySet == Set("hi"))

    // partition pruning: the entity_data term query prunes to one partition
    val plan = TrainingStore.trainingData(spark, dir, "restaurant")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))

    // copy-on-write update: entity replaced, other entity intact, old
    // generation still on disk
    val v2 = TrainingStore.updateEntity(spark, dir, "restaurant",
      Seq(("restaurant", "lunch at olive garden", Seq("olive garden"), "en"))
        .toDF("entity_data", "sentence", "entities", "language_script"))
    assert(v2 == 2)
    assert(TrainingStore.groupedByLanguage(spark, dir, "restaurant")("en")
      .map(_._1) == Seq("lunch at olive garden"))
    assert(TrainingStore.groupedByLanguage(spark, dir, "city")("en")
      .map(_._1) == Seq("fly to mumbai"))
    assert(spark.read.parquet(s"$dir/v1/training")
      .filter(col("entity_data") === "restaurant").count() == 3)
  }

  test("punctuation between tokens still classifies multi-word variants exact") {
    // canonical tokenize-rejoin (reference text_detection.py:153-164):
    // 'new,delhi' must classify the 2-token variant exact so it wins R3
    // priority over the 1-token 'delhi'
    val d = TextSurface.detect(spark, storeDir, "moving to new,delhi soon",
      Seq("city"))
    assert(d("city").map(_.value) == Seq("New Delhi"))
  }

  test("entity names with regex-special chars do not break consumption") {
    val dir = tmpDir("graft-store-dollar")
    val dict = Seq(("price_$1", "Cheap", Seq("cheap", "budget"), "en"))
      .toDF("entity_data", "value", "variants", "language_script")
    EntityStore.commitDictionary(spark, dir, dict)
    val d = TextSurface.detect(spark, dir, "cheap and budget options",
      Seq("price_$1"))
    assert(d("price_$1").map(_.value) == Seq("Cheap", "Cheap"))
  }

  test("alignment unit behavior matches reference doc examples") {
    assert(Alignment.entitySubstring(
      "come to chennai, tamil nadu, i will visit delehi next year", "chennai")
      .contains("chennai"))
    assert(Alignment.entitySubstring(
      "come to chennai, tamil nadu, i will visit delehi next year", "delhi")
      .contains("delehi"))
    // dropped-char recovery: '&' preserved inside the span
    assert(Alignment.entitySubstring(
      "i want to order 1 pc hot & crispy", "1 pc hot crispy")
      .contains("1 pc hot & crispy"))
    // short tokens stay strict (< minTokenSize → no fuzzy)
    assert(Alignment.entitySubstring("go to goaa now", "goa").isEmpty)
  }
}
