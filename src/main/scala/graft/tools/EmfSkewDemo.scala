package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.emf.{EmfParser, EmfPlanner}

/** Dev tool: receipt for the EMF dependent-pass skew fallback (r18) —
  * the companion to [[SkewDemo]], which covers AQE's equi-join split.
  * AQE cannot split this join (the dependent pass is equality + a
  * θ-residual against the MF frame), so the planner's own stats-gated
  * salt is the only defense; this main shows it ENGAGING NATURALLY
  * (leaf bytes > salt.statMinBytes, sampled hot key > salt.maxPerKey)
  * and prints per-task time spread so the "one task owns the hot key"
  * pathology and its bound are both visible.
  *
  * Fact: lineitem rows with 90% of tuples funneled to ONE cust value
  * (the EmfPropertySpec hot fixture at data scale) and a FRACTIONAL
  * order attr quant with ~500 distinct values. Query: groups
  * (cust, quant), dependent avg over
  * `{MF.cust.v}[=]{cust} : {MF.quant.v}[<]{quant}` — the shape that
  * actually REACHES dependentPass: eq+<> shapes take the complement
  * rewrite (immune by construction) and integral order attrs take the
  * windowed lowering; a fractional order attr falls back to the
  * groups × tuples join, where the hot key's ~4.5M tuples meet ALL
  * ~500 of its groups (≈2.2B residual evals) in ONE sort-merge
  * partition unless salted. The quant width matters: the pathology is
  * OUTPUT amplification (tuples × groups), which AQE's input-byte skew
  * detector does not see (the hot partition is ~130 MB, under
  * spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes). Arms: plain form forced (maxPerKey=Long.MaxValue) vs the
  * UNTOUCHED default gate. Evidence lands in PLANS.md /
  * OPTIMIZATION_r18.md. Not shipped surface.
  *
  * Usage: `runMain graft.tools.EmfSkewDemo <sfDir>`
  */
object EmfSkewDemo {
  private class TaskStats extends SparkListener {
    val byStage = scala.collection.concurrent.TrieMap[Int, Vector[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskInfo.successful)
        byStage.updateWith(t.stageId) {
          case Some(v) => Some(v :+ t.taskInfo.duration)
          case None    => Some(Vector(t.taskInfo.duration))
        }
    /** Stages ranked by straggler (max task duration) — the join
      * stage's hot task, not the scan stage's bulk, is the pathology. */
    def stragglers(n: Int): Seq[(Int, Vector[Long])] =
      byStage.toSeq.sortBy { case (_, v) => -v.max }.take(n)
    def reset(): Unit = byStage.clear()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // mirror SkewDemo: with only ~130 groups the MF side would
    // broadcast and no shuffle partition could hot-spot — force the
    // sort-merge path so the pathology (and the salt's fix) is visible.
    // Heap comes from the fork's -Xmx (SPARK_DRIVER_MEM, build.sbt) —
    // spark.driver.memory is a no-op after the JVM is up.
    val spark = graft.GraftSession(Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)

    // ~5M rows at sf10 (1/12 of lineitem), 90% on one cust key (the
    // quotient-mod keeps the hot test independent of the 1/12 filter);
    // the parquet LEAF is the full 1.5 GB lineitem, so the salt stat
    // floor (1 GiB) is crossed naturally — no conf override in the
    // salt arm.
    val fact = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 12 === 0)
      .select(
        when((col("l_orderkey") / 12).cast("long") % 10 < 9, lit("HOT"))
          .otherwise(concat(lit("c"), (col("l_orderkey") % 1000).cast("string")))
          .as("cust"),
        (col("l_quantity").cast("double") +
          (col("l_partkey") % 10).cast("double") / 10.0).as("quant"))

    val q = EmfParser.parseOne(
      """cust,quant,avg_quant_lt
        |1
        |cust,quant
        |avg_quant_lt
        |{MF.cust.avg_quant_lt}[=]{cust}:{MF.quant.avg_quant_lt}[<]{quant}""".stripMargin,
      Set("cust", "quant"))

    def arm(name: String, conf: Map[String, String]): (Long, Double) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      stats.reset()
      val t0 = System.nanoTime()
      val n = EmfPlanner.plan(q, fact).count()
      val dt = (System.nanoTime() - t0) / 1e9
      EmfPlanner.unpersistAll()
      conf.keys.foreach(spark.conf.unset)
      println(f"[emfskew] arm=$name rows=$n wall=$dt%.1f s")
      stats.stragglers(3).foreach { case (stage, ds) =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2)
        println(f"[emfskew]   stage=$stage tasks=${ds.size} " +
          f"maxTask=${sorted.last / 1e3}%.2f s medianTask=${med / 1e3}%.3f s " +
          f"spread=${sorted.last.toDouble / math.max(med, 1)}%.0fx")
      }
      (n, dt)
    }

    // default gate first (must salt on its own from the sampled
    // hot-key stat), THEN the plain forced form — so page cache favors
    // the plain arm and the receipt is conservative
    val (nSalt, _) = arm("gated-default", Map.empty)
    val (nPlain, _) = arm("plain", Map(
      "spark.graft.emf.salt.maxPerKey" -> Long.MaxValue.toString))
    println(s"[emfskew] rowsAgree=${nPlain == nSalt}")
    spark.stop()
  }
}
