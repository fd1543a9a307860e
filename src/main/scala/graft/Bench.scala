package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata tables are a handful of MB-sized files; the 128 MB
      // default bin-packs them into ONE scan split, serializing every
      // CPU-bound per-row pipeline (shingles, signatures, regex). 4 MB
      // keeps ~file-per-split here; at warehouse scale the default is
      // right because scans have thousands of splits regardless.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    // crossover while the sf0.1 one is above it, so the EMF entries
    // warm with the compiled form forced — the form they are timed in.
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
      val interpretMax = graft.emf.EmfPlanner.InterpretMaxBytes
      graft.emf.EmfPlanner.InterpretMaxBytes = 0L
      try SparkEntry.queries
        .filter { case (n, _) => only.isEmpty || only(n) }
        .foreach { case (name, fn) =>
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
      finally graft.emf.EmfPlanner.InterpretMaxBytes = interpretMax
      graft.dedup.Dedup.clearCache()
      graft.ann.Similarity.clearCache()
      graft.ann.KMeans.clearCache()
      graft.operators.Mining.clearCache()
      graft.text.Bpe.clearCache()
      graft.emf.GoldenQueries.clearCache()
      graft.ann.FixedPointAnn.clearCache()
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
    // Cache lifetime policy: the sweep runs queries in name order, so
    // each shared frame is built right BEFORE its first consumer and
    // each family cache is evicted right AFTER its last consumer —
    // instead of building everything upfront and holding every cache to
    // the end, which put the whole cached working set's memory pressure
    // (eviction churn + GC) on every mid-sweep query at sf10
    // (dedup_embcos read 3× its standalone time under r9's
    // build-all-then-sweep policy).
    //
    // The build/evict POINTS are DERIVED from each entry's declared
    // consumer list (first/last consumer in sweep order) — hardcoding
    // the points themselves silently shifted shared-build billing when
    // a consumer landed earlier/later in the alphabet (round-11
    // advice). The consumer lists are the single source of truth; every
    // name is validated against the query surface so a renamed or
    // removed consumer fails the sweep loudly instead of mis-deriving
    // billing. A query newly consuming a family without being added to
    // its list only costs a visible rebuild, never a wrong result (the
    // memos rebuild on demand).
    final case class SharedBuild(name: String, consumers: Seq[String],
        build: () => Unit)
    final case class CacheFamily(consumers: Seq[String], clear: () => Unit)
    val sharedBuilds = Seq(
      SharedBuild("_shared_ngram_build",
        Seq("dedup_clusters", "dedup_containment", "dedup_ngram",
          "dedup_pipeline", "dedup_recall", "split_leakage_safe"),
        () => { graft.dedup.Dedup.queriesNgramPairs(spark, sfDir).count(); () }),
      SharedBuild("_shared_cc_labels",
        Seq("dedup_clusters", "split_leakage_safe"),
        () => { graft.dedup.Dedup.ccLabelsCached(spark, sfDir).count(); () }),
      SharedBuild("_shared_kmeans_assign",
        Seq("cluster_purity", "cluster_sample", "emb_kmeans", "emb_prototypes"),
        () => { graft.ann.KMeans.assignmentCached(spark, sfDir).count(); () }),
      SharedBuild("_shared_basket_pairs",
        Seq("assoc_rules", "basket_pairs", "graph_pagerank",
          "graph_pagerank_converged", "graph_triangles"),
        () => { graft.operators.Mining.pairsCached(spark, sfDir).count(); () }),
      SharedBuild("_shared_sales_view",
        Seq("emf_batch", "emf_q1", "emf_q2", "emf_q3", "emf_q4",
          "emf_q5", "emf_q6", "emf_q7", "emf_q8"),
        () => { graft.emf.GoldenQueries.salesViewCached(spark, sfDir).count(); () }),
      SharedBuild("_shared_ann_models",
        Seq("ann_recall", "knn_ivf", "knn_ivfpq", "knn_pq"),
        () => {
          import graft.ann.FixedPointAnn
          val (c1, g1) = FixedPointAnn.modelCached(spark, sfDir, 1, FixedPointAnn.Nlist)
          val (c2, g2) = FixedPointAnn.modelCached(spark, sfDir,
            FixedPointAnn.M, FixedPointAnn.Kpq)
          // centroids FIRST: the k-row training frames materialize
          // cheaply, then each full-corpus code frame rewrites its
          // centroid subtree to the cached InMemoryRelation instead of
          // re-running the Lloyd fit
          Seq(g1, g2, c1, c2).foreach(_.count()); ()
        }),
      // one-time partitioned/bucketed ingest writes (round-10 verdict
      // item 4): previously billed to the first TIMED query touching
      // each memo (join_dpp's line carried the month-partitioned write,
      // layout_compact's the compaction rewrite, join_bucketed's the
      // two bucketed tables) — the _shared_ lines bill the writes as
      // the one-time layout costs they are, so the query lines time
      // only the reads the layouts exist to serve
      SharedBuild("_shared_layout_ingest",
        Seq("join_dpp", "layout_compact"),
        () => { graft.operators.Layout.monthPartitionedLineitem(spark, sfDir); () }),
      SharedBuild("_shared_layout_compact",
        Seq("layout_compact"),
        () => { graft.operators.Layout.compactedLineitem(spark, sfDir); () }),
      SharedBuild("_shared_bucketed_tables",
        Seq("join_bucketed"),
        () => { graft.operators.Layout.bucketedOrdersCustomer(spark, sfDir); () }))
    val cacheFamilies = Seq(
      CacheFamily(Seq("dedup_clusters", "dedup_containment", "dedup_ngram",
          "dedup_pipeline", "dedup_recall", "split_leakage_safe"),
        () => graft.dedup.Dedup.clearCache()),
      CacheFamily(Seq("dedup_embcos", "dedup_semantic", "emb_hard_negatives",
          "knn_brute"),
        () => graft.ann.Similarity.clearCache()),
      CacheFamily(Seq("cluster_purity", "cluster_sample", "emb_kmeans",
          "emb_prototypes"),
        () => graft.ann.KMeans.clearCache()),
      CacheFamily(Seq("assoc_rules", "basket_pairs", "graph_pagerank",
          "graph_pagerank_converged", "graph_triangles"),
        () => graft.operators.Mining.clearCache()),
      CacheFamily(Seq("emf_batch", "emf_q1", "emf_q2", "emf_q3", "emf_q4",
          "emf_q5", "emf_q6", "emf_q7", "emf_q8"),
        () => graft.emf.GoldenQueries.clearCache()),
      CacheFamily(Seq("ann_recall", "knn_ivf", "knn_ivfpq", "knn_pq"),
        () => graft.ann.FixedPointAnn.clearCache()),
      CacheFamily(Seq("bpe_apply", "bpe_fertility", "bpe_train", "tokenize_ids"),
        () => graft.text.Bpe.clearCache()))
    locally {
      val qNames = SparkEntry.queries.keySet
      (sharedBuilds.flatMap(_.consumers) ++ cacheFamilies.flatMap(_.consumers))
        .foreach(c => require(qNames.contains(c),
          s"bench shared-frame registry names unknown query '$c' — " +
            "update the consumer list"))
    }
    val buildBefore: Map[String, Seq[String]] =
      sharedBuilds.groupBy(_.consumers.min).view
        .mapValues(_.map(_.name)).toMap
    val clearAfter: Map[String, Seq[() => Unit]] =
      cacheFamilies.groupBy(_.consumers.max).view
        .mapValues(_.map(_.clear)).toMap
    // under a filter, a shared build runs only if asked for by name
    // (its consumers then absorb the build cost — fine for one-offs)
    val sharedDefs = sharedBuilds.map(b => b.name -> b.build)
    val sharedByName = sharedDefs.toMap
    // a filtered one-off keeps the old upfront behavior; the full sweep
    // schedules each build inline, before its first consumer
    val sharedUpfront =
      if (only.isEmpty) Seq.empty
      else sharedDefs.filter { case (n, _) => only(n) }
        .map { case (n, body) => timed(n)(body()) }
    val sharedInline = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val results0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
      if (only.isEmpty)
        for (b <- buildBefore.getOrElse(name, Seq.empty))
          sharedInline += timed(b)(sharedByName(b)())
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // per-plan EMF frames die with the query; dedup memo is cross-query
      graft.emf.EmfPlanner.unpersistAll()
      if (only.isEmpty) clearAfter.getOrElse(name, Nil).foreach(_.apply())
      name -> dt
    }.toMap
    val results = results0 ++ sharedUpfront ++ sharedInline
    graft.dedup.Dedup.clearCache()
    graft.ann.Similarity.clearCache()
    graft.ann.KMeans.clearCache()
    graft.operators.Mining.clearCache()
    graft.text.Bpe.clearCache()
    graft.emf.GoldenQueries.clearCache()
    graft.ann.FixedPointAnn.clearCache()
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
