package graft

import graft.operators.Events
import graft.plans.IntervalAggPlans
import org.apache.spark.sql.functions._

class IntervalAggSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf)

  test("native interval agg: the custom physical operator actually plans") {
    val plan = Events.intervalNative(ev).queryExecution.executedPlan.toString
    assert(plan.contains("IntervalAgg "), s"native node missing from plan:\n$plan")
  }

  test("native interval agg: window edges, zero rows, null values, cross-key isolation") {
    val s = spark
    import s.implicits._
    val W = 100L // µs window for readability
    val left = Seq(
      (1L, 10L, 1000L),  // window [900, 1000)
      (1L, 11L, 1500L),  // empty window → zero row
      (2L, 20L, 1000L),  // other key: must not see key 1's rows
      (3L, 30L, 1000L))  // no right rows at all
      .toDF("k", "lid", "lt")
    val right = Seq(
      (1L, 900L, 1.0),    // == lt − W → IN (>=)
      (1L, 999L, 2.0),    // inside
      (1L, 1000L, 4.0),   // == lt → OUT (<)
      (1L, 899L, 8.0),    // before window → OUT
      (2L, 950L, 16.0))
      .toDF("k2", "rt", "value")
    val got = IntervalAggPlans.trailingAgg(left, right,
        key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
        windowUs = W, nName = "n", totalName = "total")
      .select(col("k"), col("lid"), col("n"), col("total").cast("double"))
      .orderBy("k", "lid")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 10L, 2L, 3.0), (1L, 11L, 0L, 0.0),
      (2L, 20L, 1L, 16.0), (3L, 30L, 0L, 0.0)), s"got $got")
    // null value: the click counts, contributes 0 to the sum
    val rightN = Seq((1L, 950L, Some(2.0)), (1L, 960L, None: Option[Double]))
      .toDF("k2", "rt", "value")
    val gotN = IntervalAggPlans.trailingAgg(
        Seq((1L, 10L, 1000L)).toDF("k", "lid", "lt"), rightN,
        key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
        windowUs = W, nName = "n", totalName = "total")
      .select(col("n"), col("total").cast("double"))
      .as[(Long, Double)].head()
    assert(gotN == ((2L, 2.0)), s"got $gotN")
  }

  test("native interval agg: mismatched key types fail at call time") {
    val s = spark
    import s.implicits._
    // the merge compares both keys with one ordering: an INT left key
    // against a BIGINT right key must be refused, not merged
    val left = Seq((1, 10L, 1000L)).toDF("k", "lid", "lt")
    val right = Seq((1L, 900L, 1.0)).toDF("k2", "rt", "value")
    val e = intercept[IllegalArgumentException](IntervalAggPlans.trailingAgg(left, right,
      key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
      windowUs = 100L, nName = "n", totalName = "total"))
    assert(e.getMessage.contains("key types differ"), e.getMessage)
  }

  test("native interval agg: subtract-on-evict stays exact over drift-prone decimals") {
    val s = spark
    import s.implicits._
    // 0.1 is inexact in binary; thousands of adds/subtracts through a
    // DOUBLE accumulator would drift. Sliding windows force every row
    // through one add and one subtract.
    val right = (0L until 3000L).map(i => (1L, i * 10L, 0.1)).toDF("k2", "rt", "value")
    val left = (1L to 290L).map(i => (1L, i, i * 100L)).toDF("k", "lid", "lt")
    val W = 1000L // each window holds exactly 100 rows of 0.1 → 10.00
    val got = IntervalAggPlans.trailingAgg(left, right,
        key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
        windowUs = W, nName = "n", totalName = "total")
      .select(col("total").cast("double")).distinct()
      .as[Double].collect().toSeq.sorted
    // early windows are partially filled; every FULL window must be
    // exactly 10.0 — no 9.999999 drift values may exist
    assert(got.forall(v => v == 10.0 || (v < 10.0 && v == math.rint(v * 10) / 10)),
      s"drifted values: ${got.filterNot(v => v == 10.0 || v == math.rint(v * 10) / 10)}")
    assert(got.contains(10.0))
  }

  test("native operators: empty sides never crash, left-outer vs inner contracts hold") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 1000L)).toDF("k", "lid", "lt")
    val right = Seq((1L, 900L, 1.0)).toDF("k2", "rt", "value")
    val emptyL = left.where(lit(false))
    val emptyR = right.where(lit(false))
    // trailingAgg: empty right → zero rows for every left row (outer)
    val zr = IntervalAggPlans.trailingAgg(left, emptyR,
        key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
        windowUs = 100L, nName = "n", totalName = "total")
      .select(col("n"), col("total").cast("double")).as[(Long, Double)].collect().toSeq
    assert(zr == Seq((0L, 0.0)))
    // trailingAgg: empty left → empty output
    assert(IntervalAggPlans.trailingAgg(emptyL, right,
      key = ("k", "k2"), time = ("lt", "rt"), valueCol = "value",
      windowUs = 100L, nName = "n", totalName = "total").count() == 0)
    // asofJoin: empty right → inner join drops everything; empty left → empty
    assert(graft.plans.GraftPlans.asofJoin(left, emptyR,
      key = ("k", "k2"), time = ("lt", "rt"), payload = Seq("value")).count() == 0)
    assert(graft.plans.GraftPlans.asofJoin(emptyL, right,
      key = ("k", "k2"), time = ("lt", "rt"), payload = Seq("value")).count() == 0)
  }

  test("native interval result equals the binned range join on the corpus") {
    val native = Events.intervalNative(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val binned = Events.intervalJoin(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(native == binned)
    assert(native.nonEmpty)
  }
}
