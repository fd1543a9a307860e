package graft.operators

import graft.SparkSpec
import graft.Tables

/** Round-13 scale gate for the column profiler: the exact multi-distinct
  * Expand is the profiler's scale killer (211× wall at ×1000 data,
  * BASELINE.md sf100 probe), so [[RelationalQueries.profileColumns]]
  * switches EXACT↔APPROX on input size. This spec pins BOTH regimes:
  * plan shape (Expand + exact countDistinct below the gate; a single
  * Expand-free pass with approx_count_distinct above it) and the approx
  * regime's 3·rsd accuracy against the exact counts.
  */
class ProfilingSpec extends SparkSpec {

  private def plannedString(df: org.apache.spark.sql.DataFrame): String = {
    // execute THIS queryExecution so the inspected plan is the final one
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("exact regime below the size gate: Expand + exact NDVs") {
    val o = Tables.orders(spark, sf0001)
    val df = RelationalQueries.profileColumns(o, RelationalQueries.ProfileCols)
    val plan = plannedString(df)
    assert(plan.contains("Expand"),
      s"exact regime lost its multi-distinct Expand:\n${plan.take(2000)}")
    assert(!plan.contains("approx_count_distinct"),
      "exact regime must not estimate")
    // exact NDVs replayed: o_orderkey is the PK — distinct == non-null
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val n = o.count()
    assert(rows("o_orderkey") == n, s"${rows("o_orderkey")} vs $n")
  }

  test("approx regime above the size gate: no Expand, one pass, 3·rsd accurate") {
    val o = Tables.orders(spark, sf0001)
    // force the gate: any input is 'too big' at exactMaxBytes = -1
    val df = RelationalQueries.profileColumns(
      o, RelationalQueries.ProfileCols, exactMaxBytes = -1L)
    val plan = plannedString(df)
    assert(!plan.contains("Expand"),
      s"approx regime must not Expand:\n${plan.take(2000)}")
    assert(plan.contains("approx_count_distinct"),
      s"approx regime lost its estimator:\n${plan.take(2000)}")
    // single aggregation pass: exactly one scan of orders
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"approx profile should read the data once, saw $scans scans")
    // accuracy: every estimate within 3·rsd (15%) of exact
    val est = df.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = RelationalQueries.ProfileCols.map { c =>
      c -> o.select(c).distinct().count()
    }.toMap
    for (c <- RelationalQueries.ProfileCols) {
      assert(math.abs(est(c) - exact(c)).toDouble <= exact(c) * 0.15,
        s"$c: est ${est(c)} vs exact ${exact(c)}")
    }
  }

  test("the gate itself switches on the plan-stats input size") {
    val o = Tables.orders(spark, sf0001)
    // the gate's probe: the frame's leaf input bytes
    val bytes = graft.Gates.leafBytes(o)
    assert(bytes > 0, "size stats must be available for the gate to bind")
    // a gate just under the input size → approx; just over → exact
    val under = RelationalQueries.profileColumns(
      o, RelationalQueries.ProfileCols, exactMaxBytes = bytes.toLong - 1)
    val over = RelationalQueries.profileColumns(
      o, RelationalQueries.ProfileCols, exactMaxBytes = bytes.toLong)
    assert(under.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    assert(!over.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    // both regimes agree on everything but the estimator columns
    val u = under.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4), r.getString(5)))
    val v = over.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4), r.getString(5)))
    assert(u.toSeq == v.toSeq)
  }
}
