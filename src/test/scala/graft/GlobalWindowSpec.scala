package graft

/** Repo-wide sweep: an UNPARTITIONED window funnels its whole input
  * through one task, so every such site must be provably bounded (a
  * calendar grid, a LIMIT, a k-row model frame). This spec walks every
  * query's ANALYZED plan (pre-cache-substitution, so memoized frames
  * don't hide their lineage) and pins the exact per-query count of
  * empty-partition Window nodes. A new accidental global window — the
  * kind that silently serializes a 100 TB stage — fails here by name
  * instead of hiding as a WindowExec WARN in the bench log.
  */
class GlobalWindowSpec extends SparkSpec {

  test("unpartitioned windows appear only at the known-bounded sites") {
    // query -> expected number of unpartitioned Window NODES in the
    // analyzed tree. Counts are tree OCCURRENCES: the analyzer keeps one
    // Window node per window function (window_ranks' five rank functions
    // collapse into one WindowExec only at planning), and a bounded
    // frame joined against itself contributes its lineage once per
    // branch (cluster_sample/dedup_semantic reuse the k-means assignment
    // in 3 branches). Every occurrence below is one of THREE bounded
    // sites:
    //  - window_moving: runs over the MONTHLY aggregate (calendar-sized)
    //  - window_ranks: ranks after orderBy().limit(1000)
    //  - KMeans.iterate centroid init: row_number over the k-row LIMIT
    //    frame (emb_* / cluster_* / dedup_semantic lineages)
    //  - FixedPointAnn.lloydSub centroid init: same k-row LIMIT shape;
    //    appears once per lineage branch (iteration-1 assignment +
    //    iteration-2 centroid chain → 2 per lloydSub call; knn_ivfpq
    //    runs two lloydSub chains → 4)
    val whitelist = Map(
      "window_moving" -> 1,
      "window_ranks" -> 5,
      "emb_kmeans" -> 1,
      "emb_prototypes" -> 1,
      "cluster_purity" -> 1,
      "cluster_sample" -> 3,
      "dedup_semantic" -> 3,
      "knn_ivf" -> 2,
      "knn_pq" -> 2,
      "knn_ivfpq" -> 4,
      // ann_recall = the knn_ivfpq lineage (4) doubled: the approx side
      // appears once under the hit join and once under the MRR join —
      // all still the k-row centroid-init LIMIT frames
      "ann_recall" -> 8)
    val got = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sf0001)
      val n = df.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      name -> n
    }.toMap
    val offenders = got.filter { case (name, n) => n != whitelist.getOrElse(name, 0) }
    assert(offenders.isEmpty,
      s"unpartitioned-window count drift (query -> found, expected): " +
        offenders.toSeq.sorted.map { case (k, n) =>
          s"$k -> $n (expected ${whitelist.getOrElse(k, 0)})"
        }.mkString("; "))
    // stale whitelist entries fail too, so the list tracks reality
    val stale = whitelist.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"whitelist names unknown queries: $stale")
    graft.Memo.evictAll()
  }
}
