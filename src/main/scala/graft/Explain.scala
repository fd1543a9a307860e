package graft

/** CLI: print the formatted physical plan of any SparkEntry query —
  * `runMain graft.Explain q1_pricing emf_q6 [sfDir] [--executed]`. Used
  * to audit that plans have the shape the scale design claims: filters
  * pushed to the parquet scan, dimension joins broadcast, whole-stage
  * codegen spans covering the hot path, no unexpected shuffles.
  *
  * `--executed` additionally materializes each query and prints the
  * AQE-FINAL plan (broadcast decisions, coalesced shuffle reads, skew
  * splits only exist there) — PLANS.md audits use this form.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val executed = args.contains("--executed")
    val (names, dirs) = args.filterNot(_ == "--executed")
      .partition(!_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(logLevel = "ERROR")
    val targets = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names.toSeq
    targets.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          val df = fn(spark, sfDir)
          df.explain("formatted")
          if (executed) {
            // materialize THIS plan (a count() would plan a different
            // query and prune columns) so AQE finalizes
            df.collect()
            println(s"---------- $n (executed, AQE-final) ----------")
            println(df.queryExecution.executedPlan.toString)
          }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
