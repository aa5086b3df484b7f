package graft.plans

import graft.functions.{BpeIds, CosineSim, DotProduct, LshBuckets, SimHash32}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Session extensions for `spark.sql.extensions=graft.plans.GraftExtensions`:
  * graft's native expressions by name, for SQL text, and [[GraftStrategy]].
  * The Scala API needs neither: operators build the expressions directly,
  * and every native-plan entry point runs [[GraftStrategy.setup]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => GraftStrategy)
  }
}

/** The one planner strategy for graft's native logical nodes. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, pay) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, pay) :: Nil
    case IntervalAggNode(l, r, lk, rk, lt, rt, rv, w, n, t) =>
      IntervalAggExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, w, n, t) :: Nil
    case TopKPerKeyNode(c, key, order, tid, k, rank) =>
      // the partial/final split HashAggregate gets, hand-planned: the
      // exchange between them (inserted by EnsureRequirements for the
      // final's ClusteredDistribution) sees only per-partition top-k
      // survivors
      TopKPerKeyExec(
        TopKPerKeyExec(planLater(c), key, order, tid, k, rank, partial = true),
        key, order, tid, k, rank, partial = false) :: Nil
    case _ => Nil
  }

  /** Make `spark`'s planner hold this strategy (idempotent: a session
    * built with [[GraftExtensions]] already holds it). */
  def setup(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_simhash32",
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32"),
      (args: Seq[Expression]) => SimHash32(args.head)),
    ("graft_lsh_buckets",
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => LshBuckets(c)
        // optional literal bits — the corpus-density dial; guard the
        // eager eval so a non-foldable/NULL/odd-arity call fails as a
        // clean analysis error, not a ClassCastException/MatchError
        case Seq(c, b) =>
          if (!b.foldable)
            throw new org.apache.spark.sql.AnalysisException("INTERNAL_ERROR",
              Map("message" -> "graft_lsh_buckets: the bits argument must be a foldable integer literal"))
          b.eval() match {
            case n: Number => LshBuckets(c, n.intValue())
            case other => throw new org.apache.spark.sql.AnalysisException("INTERNAL_ERROR",
              Map("message" -> s"graft_lsh_buckets: bits must be a non-null integer literal, got $other"))
          }
        case other => throw new org.apache.spark.sql.AnalysisException("INTERNAL_ERROR",
          Map("message" -> s"graft_lsh_buckets expects (vector) or (vector, bits); got ${other.length} arguments"))
      }),
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_bpe_ids",
      new ExpressionInfo(classOf[BpeIds].getName, "graft_bpe_ids"),
      (args: Seq[Expression]) => BpeIds(args.head)),
    // Spark's OWN bloom-filter expressions (the pair InjectRuntimeFilter
    // uses internally), exposed by name so an EXPLICIT semi-filter can be
    // declared in a query: build the filter from a selective dim column
    // (one aggregate, broadcast as a scalar subquery), apply it row-wise
    // at the fact scan BEFORE the join shuffle. False positives are
    // removed by the real join, so results are exactly the plain join's —
    // the bloom only cuts shuffled bytes (RuntimeFilters.bloomJoin).
    ("graft_bloom_agg",
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(c)    => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case other => throw new org.apache.spark.sql.AnalysisException("INTERNAL_ERROR",
          Map("message" -> s"graft_bloom_agg expects (xxhash64_col) or (xxhash64_col, est_items); got ${other.length} arguments"))
      }),
    ("graft_might_contain",
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (args: Seq[Expression]) => BloomFilterMightContain(args(0), args(1))),
  )

  /** Imperative registration on an existing session, for SQL text. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
}
