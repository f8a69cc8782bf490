package graft.plans

import graft.SparkTestBase
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.Searcher

class FullTextMatchSpec extends SparkTestBase {

  private lazy val indexDir = {
    val dir = tmpDir("graft-ftm")
    IndexBuilder.build(CodeCorpus.generate(spark, 600, seed = 21L), dir,
      IndexConfig(numBuckets = 4, saltThreshold = 100000L))
    dir
  }

  test("custom operator plans into FullTextMatchExec") {
    val df = Searcher.search(spark, indexDir, "import merge", 10)
    val execNodes = df.queryExecution.executedPlan.collect {
      case e: FullTextMatchExec => e
    }
    assert(execNodes.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.columns.toSeq == Seq("rank", "doc_id", "score"))
  }

  test("results equal the direct searcher (same kernel)") {
    val viaPlan = Searcher.search(spark, indexDir, "posting merge", 20)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = Searcher.searchHits(spark, indexDir,
        Searcher.resolve(spark, indexDir, "posting merge"), 20)
      .zipWithIndex.map { case (h, i) => (i + 1, h.docId, h.score) }.toSeq
    assert(viaPlan == direct)
  }

  test("optimizer rule folds LIMIT into k") {
    val df = Searcher.search(spark, indexDir, "import", 1000).limit(5)
    val optimized = df.queryExecution.optimizedPlan
    val ks = optimized.collect { case f: FullTextMatch => f.k }
    assert(ks == Seq(5), s"limit not pushed:\n$optimized")
    assert(df.count() == 5)
  }

  test("composes with relational operators downstream") {
    import org.apache.spark.sql.functions._
    val df = Searcher.search(spark, indexDir, "import merge", 50)
      .filter(col("score") > 0)
      .agg(count(lit(1)).as("n"), max("score").as("best"))
    val row = df.collect()(0)
    assert(row.getLong(0) > 0 && row.getDouble(1) > 0)
  }
}
