package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: time [[graft.operators.Mining.pageRankConverged]] on the
  * co-purchase graph of a given sf dir — per-iteration cost + where the
  * eps/cap exit binds, the PLANS.md evidence for the convergence path.
  * Not part of the shipped surface.
  *
  * Usage: `runMain graft.tools.PageRankProbe <sfDir> [epsMicro] [maxIters]`
  */
object PageRankProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val eps = if (args.length > 1) args(1).toLong else 1000L
    val maxIters = if (args.length > 2) args(2).toInt else 20
    val spark = graft.GraftSession()
    val t0 = System.nanoTime()
    val pairs = graft.operators.Mining.pairsCached(spark, sfDir)
    val e = pairs.select(col("part_a").as("src"), col("part_b").as("dst"))
    val edges = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val nEdges = edges.count()
    val tBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (ranks, iters, delta) =
      graft.operators.Mining.pageRankConverged(edges, eps, maxIters)
    val n = ranks.count()
    val tIter = (System.nanoTime() - t1) / 1e9
    println(f"[prprobe] edges=$nEdges nodes=$n build=${tBuild}%.1fs " +
      f"iters=$iters delta=$delta eps=$eps total=${tIter}%.1fs " +
      f"per_iter=${tIter / iters}%.2fs")
    spark.stop()
  }
}
