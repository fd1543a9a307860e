package graft.tools

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries on a given sf dir — the source for PLANS.md plan audits.
  * Not part of the shipped surface.
  *
  * Usage: `runMain graft.tools.PlanDump <sfDir> [--exec] <name> [name ...]`
  *
  * With `--exec` the query is executed first and the FINAL
  * AQE-re-optimized physical plan is printed (runtime join strategy
  * picks, DPP, skew splits) — the pre-execution plan hides those.
  *
  * Each entry first prints `form=interpreted|compiled leafBytes=N`: the
  * execution form read from the returned frame's session conf (an EMF
  * entry over a fact below `spark.graft.emf.interpret.maxBytes` runs
  * interpreted) and the leaf input bytes of the entry's frame. That is
  * the probe the planner's gate reads, but on the whole frame: a frame
  * whose passes read the fact twice counts its leaves twice, while the
  * gate counts them once.
  *
  * Gate confs come from system properties, which `SparkConf` loads:
  * `-Dspark.graft.share.minBytes=0` prints every share gate's
  * above-gate shape (see `graft.Gates` for the keys).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val exec = args.contains("--exec")
    val names = args.drop(1).filterNot(_ == "--exec")
    val spark = graft.GraftSession()
    for (name <- names) {
      println(s"===== $name =====")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val form = if (graft.emf.EmfPlanner.isInterpreted(df)) "interpreted" else "compiled"
      println(s"form=$form leafBytes=${graft.Gates.leafBytes(df)}")
      if (exec) {
        // drive the plan to completion WITHOUT materializing the result
        // on the driver (a collect() here OOMs the tool on large-output
        // queries at sf100). foreach executes the dataset's OWN
        // QueryExecution — a noop-sink write or count() would run a
        // different one and the executedPlan below would print the
        // UN-executed AQE plan (the exact trap this tool exists to avoid)
        df.foreach(_ => ())
        println(df.queryExecution.executedPlan.toString)
      } else
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      graft.emf.EmfPlanner.unpersistAll()
    }
    spark.stop()
  }
}
