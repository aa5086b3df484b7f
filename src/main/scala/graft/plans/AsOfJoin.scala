package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

/** A NATIVE backward AS-OF JOIN — the whole-operator extension path
  * (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`), for the one
  * operator family the built-in join strategies cannot express without
  * a workaround: "for each left row, the single right row with the same
  * key and the greatest time ≤ the left row's time".
  *
  * The declarative workaround (`Events.asofAttribution`: union both
  * sides, one window, `last(ignoreNulls)`) is plan-equivalent to a
  * sort; this operator expresses the same semantics as a first-class
  * physical node instead:
  *
  *  - logical [[AsOfJoinNode]] carries resolved children + key/time
  *    attributes; analysis/optimization flow through it untouched
  *    (column pruning still prunes unused right columns via
  *    [[AsOfJoinNode.references]]);
  *  - [[GraftStrategy]] (set up by [[GraftPlans.asofJoin]], or injected
  *    by [[GraftExtensions]]) plans it to [[AsOfJoinExec]];
  *  - the exec declares `ClusteredDistribution` on both keys and
  *    per-partition (key, time) sort orders — `EnsureRequirements`
  *    inserts the co-partitioning exchanges and sorts exactly as it
  *    does for a sort-merge join — then streams ONE forward merge pass
  *    per partition: O(|L| + |R|) comparisons, no window state, no
  *    union row inflation, and the output keeps the left side's hash
  *    partitioning and (key, time) ordering for downstream reuse.
  *
  * Semantics notes (gated by `ev_asof_native` against the SAME DuckDB
  * `ASOF JOIN` oracle as the declarative form — the machine-checked
  * native ≡ declarative pattern of `dedup_simhash_native`):
  *  - INNER backward join: left rows with no qualifying right row drop;
  *  - NULL keys/times never match and never update the match candidate;
  *  - determinism at equal right times is the CALLER's job (pre-collapse
  *    the right side to one row per (key, time) — the same contract the
  *    declarative form and DuckDB's ASOF carry).
  *
  * Scale: identical exchange footprint to a co-partitioned merge join —
  * one shuffle per side (none when the input is already key-partitioned,
  * e.g. bucketed layouts), constant per-partition state (the current
  * match candidate), no fan-out. A hot key costs its row count, never a
  * pair product. */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightPayload: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ rightPayload
  // every left column is emitted; the right side needs key/time/payload —
  // declaring exactly that lets ColumnPruning strip unused right columns
  override def references: AttributeSet =
    AttributeSet(left.output) ++ AttributeSet(Seq(rightKey, rightTime) ++ rightPayload)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** The physical frame of a (key, time) merge of two sides, shared by
  * [[AsOfJoinExec]] and [[IntervalAggExec]]: both sides clustered on
  * their key and sorted by (key, time) within a partition — the
  * requirements `EnsureRequirements` meets with the same exchanges and
  * sorts as for a sort-merge join — and the output keeps the left
  * side's partitioning and (key, time) order. */
private[plans] trait KeyTimeMergeExec extends BinaryExecNode {
  def leftKey: Attribute
  def rightKey: Attribute
  def leftTime: Attribute
  def rightTime: Attribute

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
}

/** The analyzed sides of a (key, time) merge, shared by
  * [[GraftPlans.asofJoin]] and [[IntervalAggPlans.trailingAgg]]: the
  * right side gets fresh aliases, so no exprId collides with the left
  * side when both frames derive from the same base relation (the native
  * nodes are invisible to DeduplicateRelations). Checks, at call time,
  * that the key types match — the merge compares keys with one ordering
  * — and that both times are TIMESTAMP or BIGINT (epoch-µs). `op` names
  * the operator in error messages. */
private[plans] class KeyTimeSides(op: String, left: DataFrame, right: DataFrame,
    key: (String, String), time: (String, String)) {
  val lPlan: LogicalPlan = left.queryExecution.analyzed
  val rPlan: LogicalPlan =
    right.select(right.columns.map(c => col(c).as(c)).toIndexedSeq: _*).queryExecution.analyzed

  /** The right side's column `name`; `side` labels it in the error. */
  def rightAttr(name: String, side: String = "right"): Attribute = attr(rPlan.output, name, side)

  private def attr(out: Seq[Attribute], name: String, side: String): Attribute =
    out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"$op: $side column '$name' not found in ${out.map(_.name)}"))

  val leftKey: Attribute = attr(lPlan.output, key._1, "left")
  val rightKey: Attribute = rightAttr(key._2)
  val leftTime: Attribute = attr(lPlan.output, time._1, "left")
  val rightTime: Attribute = rightAttr(time._2)
  for (t <- Seq(leftTime, rightTime))
    require(t.dataType == TimestampType || t.dataType == LongType,
      s"$op: time column '${t.name}' must be TIMESTAMP or BIGINT, got ${t.dataType}")
  require(leftKey.dataType == rightKey.dataType,
    s"$op: key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightPayload: Seq[Attribute]) extends KeyTimeMergeExec {

  override def output: Seq[Attribute] = left.output ++ rightPayload

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyB = BindReferences.bindReference(leftKey: Expression, lOut)
      val lTimeB = BindReferences.bindReference(leftTime: Expression, lOut)
      val rKeyB = BindReferences.bindReference(rightKey: Expression, rOut)
      val rTimeB = BindReferences.bindReference(rightTime: Expression, rOut)
      val payProj = UnsafeProjection.create(rightPayload: Seq[Expression], rOut)
      val resultProj = UnsafeProjection.create(output: Seq[Expression], lOut ++ rightPayload)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var ready: InternalRow = _
        // lookahead right row — COPIED because sort iterators reuse
        // their row object across next() calls
        private var rNext: InternalRow = fetchR()
        private var candKey: Any = _
        private var candPay: InternalRow = _

        private def fetchR(): InternalRow =
          if (rIter.hasNext) rIter.next().copy() else null

        private def advance(): Boolean = {
          while (lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyB.eval(l)
            val ltRaw = lTimeB.eval(l)
            if (lk != null && ltRaw != null) {
              val lt = ltRaw.asInstanceOf[Long]
              // consume right rows that are ≤ (lk, lt); remember the
              // latest same-key one — sorted input makes this the
              // greatest right time ≤ lt once the loop stops
              var advancing = true
              while (advancing && rNext != null) {
                val rk = rKeyB.eval(rNext)
                val rtRaw = rTimeB.eval(rNext)
                if (rk == null || rtRaw == null) {
                  rNext = fetchR() // null key/time: never a candidate
                } else {
                  val cmp = keyOrd.compare(rk, lk)
                  if (cmp < 0 || (cmp == 0 && rtRaw.asInstanceOf[Long] <= lt)) {
                    if (cmp == 0) { candKey = rk; candPay = payProj(rNext).copy() }
                    rNext = fetchR()
                  } else advancing = false
                }
              }
              if (candKey != null && keyOrd.compare(candKey, lk) == 0) {
                ready = resultProj(joined(l, candPay))
                return true
              }
            }
          }
          false
        }

        override def hasNext: Boolean = ready != null || advance()
        override def next(): InternalRow = {
          if (ready == null && !advance()) throw new NoSuchElementException
          val r = ready; ready = null; r
        }
      }
    }
  }
}

/** The user-facing API for the native as-of join. */
object GraftPlans {

  /** Backward AS-OF inner join: for each left row, the columns of the
    * single right row with `rightKey == leftKey` and the greatest
    * `rightTime <= leftTime`; unmatched left rows drop. `payload` names
    * the right columns to emit. Times must be TIMESTAMP or BIGINT
    * (epoch-µs) columns; the right frame should be unique per
    * (key, time) for a deterministic result. */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: (String, String), time: (String, String),
      payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    GraftStrategy.setup(spark)
    val sides = new KeyTimeSides("asofJoin", left, right, key, time)
    import sides._
    val node = AsOfJoinNode(lPlan, rPlan, leftKey, rightKey, leftTime, rightTime,
      payload.map(rightAttr(_, "payload")))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, node)
  }
}
