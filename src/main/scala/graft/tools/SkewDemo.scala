package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: demonstrate AQE's OptimizeSkewedJoin at a real data scale —
  * the 100 TB story for skew that is NOT hand-salted (skew_salted_join
  * covers the manual path). Joins the sf-dir lineitem (60 M rows at
  * sf10) against an orders-key dim after collapsing 90% of the fact to
  * ONE hot key, then prints whether the final adaptive plan split the
  * hot partition (`skew=true`) and the AQEShuffleRead details. Evidence
  * is recorded in PLANS.md. Not shipped surface.
  *
  * Usage: `runMain graft.tools.SkewDemo <sfDir>`
  */
object SkewDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession(Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // deployment-tuning knobs: the skew threshold must sit below the
      // hot partition's bytes for the optimization to engage; at sf10
      // the hot partition is ~54M rows × ~16 B ≈ 860 MB, so even the
      // 256 MB default fires — set explicitly for reproducibility
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val fact = graft.Tables.lineitem(spark, sfDir).select(
      when(col("l_orderkey") % 10 < 9, lit(0L)).otherwise(col("l_orderkey"))
        .as("k"),
      col("l_quantity").cast("decimal(18,2)").as("q"))
    // unique-by-construction dim (orders PK; a distinct() would leave a
    // HashAggregate between the shuffle read and the join and break
    // OptimizeSkewedJoin's Sort-over-shuffle pattern match)
    val dim = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 9)
      .select(col("o_orderkey").as("k"))
      .union(spark.range(0, 1).select(lit(0L).as("k")))
    val t0 = System.nanoTime()
    val j = fact.join(dim, "k")
    // drive THIS queryExecution's physical plan directly (count() or
    // .rdd/foreachPartition each wrap the logical plan in a NEW
    // QueryExecution, leaving this one un-finalized) — no driver collect
    val n = j.queryExecution.executedPlan.execute().count()
    val dt = (System.nanoTime() - t0) / 1e9
    val plan = j.queryExecution.executedPlan.toString
    println(f"[skew] rows=$n time=$dt%.1f s skewSplit=${plan.contains("skew=true")}")
    plan.linesIterator
      .filter(l => l.contains("skew=true") || l.contains("AQEShuffleRead"))
      .foreach(l => println("[skew] " + l.trim.take(160)))
    if (!plan.contains("skew=true"))
      plan.linesIterator.take(40).foreach(l => println("[plan] " + l.take(150)))
    spark.stop()
  }
}
