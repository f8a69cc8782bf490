package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Limit, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.{IntegerLiteral}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.types._

import graft.query.{IndexReader, Searcher}

/** Catalyst-native full-text search: `FullTextMatch` is a logical LEAF node
  * (the index snapshot is the "table"), planned by `FullTextMatchStrategy`
  * into `FullTextMatchExec`, which runs block-max WAND through the cached
  * IndexReader. Registered through the public `spark.experimental` hooks
  * (equivalently injectable via SparkSessionExtensions — see
  * `GraftSearch.register`).
  *
  * Why a custom operator instead of a UDF/DataFrame recipe: the optimizer
  * can now SEE the search — `PushLimitIntoFullTextMatch` folds a LIMIT n
  * under the node into k = min(k, n), so `search(...).limit(5)` retrieves 5,
  * not 1000 (the reference's `size` cap done by the planner instead of by
  * convention). This is the (c) rung of the custom-operator ladder the
  * build guidelines name: LogicalPlan + Rule + Strategy + SparkPlan.
  */
final case class FullTextMatch(indexDir: String, query: String, k: Int,
    fuzzy: Boolean,
    // output attributes live in the constructor so copy() (optimizer
    // rewrites) preserves exprIds — upstream references stay bound
    override val output: Seq[Attribute] = FullTextMatch.newOutput())
  extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = math.max(1L, k.toLong) * 24L)
}

object FullTextMatch {
  def newOutput(): Seq[Attribute] = Seq(
    AttributeReference("rank", IntegerType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

final case class FullTextMatchExec(indexDir: String, query: String, k: Int,
    fuzzy: Boolean, override val output: Seq[Attribute]) extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    // resolve + WAND on the driver via the cached reader (ms-latency tier;
    // the distributed tier launches its own narrow job — legal from here,
    // doExecute runs driver-side when this plan materializes)
    val spark = SparkSession.active
    val reader = IndexReader.open(spark, indexDir)
    val hits = reader.searchHits(reader.resolve(query, fuzzy), k)
    val rows = hits.zipWithIndex.map { case (h, i) =>
      InternalRow(i + 1, h.docId, h.score)
    }
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    sparkContext.parallelize(rows.toSeq, 1).mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map(proj)
    }
  }
}

object FullTextMatchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case f: FullTextMatch =>
      FullTextMatchExec(f.indexDir, f.query, f.k, f.fuzzy, f.output) :: Nil
    case _ => Nil
  }
}

/** LIMIT n over a search retrieves only n — fold it into k. */
object PushLimitIntoFullTextMatch extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Limit(IntegerLiteral(n), f: FullTextMatch) if n < f.k =>
      Limit(org.apache.spark.sql.catalyst.expressions.Literal(n), f.copy(k = n))
  }
}

/** Registers the operator's planner hooks on a session. */
object GraftSearch {

  /** Idempotent registration on an existing session (public hooks). */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(FullTextMatchStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ FullTextMatchStrategy
    if (!spark.experimental.extraOptimizations.contains(PushLimitIntoFullTextMatch))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushLimitIntoFullTextMatch
  }
}
