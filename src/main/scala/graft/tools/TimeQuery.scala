package graft.tools

/** Dev tool: time named SparkEntry queries (and `_shared_*` lines such as
  * `_shared_ngram_build`) on a given sf dir, printing seconds per query
  * per iteration. Not part of the shipped surface. Spark confs come from
  * [[graft.GraftSession]]; a `-Dspark.*` system property overrides any of
  * them (tools/README.md).
  *
  * Usage: `runMain graft.tools.TimeQuery <sfDir> <iters> <name> [name ...]`
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2)
    val spark = graft.GraftSession()
    graft.Tables.lineitem(spark, sfDir).count() // warmup
    val shared = graft.Memo.builds.map(_.name).toSet
    for (it <- 1 to iters; name <- names) {
      val t0 = System.nanoTime()
      val n =
        if (shared(name)) graft.Memo.build(name, spark, sfDir)
        else graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[time] iter=$it $name%-24s ${dt}%8.3f s  ($n rows)")
      graft.emf.EmfPlanner.unpersistAll()
      // fresh rebuild per ITERATION (clearing inside the name loop would
      // also wipe the shared caches between queries of the same pass,
      // which is not how Bench runs them)
      if (it < iters && name == names.last) graft.Memo.evictAll()
    }
    spark.stop()
  }
}
