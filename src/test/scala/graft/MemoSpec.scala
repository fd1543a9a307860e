package graft

import graft.emf.GoldenQueries

class MemoSpec extends SparkSpec {

  test("the registry's schedule is the full sweep's shared-build billing and eviction table") {
    // The full-sweep schedule: for each entry in name order, the
    // `_shared_*` lines built before it and the memo families evicted
    // after it (entries with neither omitted).
    val pinned = Seq(
      ("ann_recall", Seq("_shared_ann_models"), Nil),
      ("assoc_rules", Seq("_shared_basket_pairs"), Nil),
      ("cluster_purity", Seq("_shared_kmeans_assign"), Nil),
      ("dedup_clusters", Seq("_shared_ngram_build", "_shared_cc_labels"), Nil),
      ("dedup_semantic", Nil, Seq("Similarity")),
      ("emb_prototypes", Nil, Seq("KMeans")),
      ("emf_batch", Seq("_shared_sales_view"), Nil),
      ("emf_q8", Nil, Seq("GoldenQueries")),
      ("graph_triangles", Nil, Seq("Mining")),
      ("join_bucketed", Seq("_shared_bucketed_tables"), Nil),
      ("join_dpp", Seq("_shared_layout_ingest"), Nil),
      ("knn_pq", Nil, Seq("FixedPointAnn")),
      ("layout_compact", Seq("_shared_layout_compact"), Nil),
      ("split_leakage_safe", Nil, Seq("Dedup")),
      ("tokenize_ids", Nil, Seq("Bpe")))
    val sweep = Memo.schedule(SparkEntry.queries.keys.toSeq.sorted)
    val got = sweep.filter(s => s.builds.nonEmpty || s.evicts.nonEmpty)
      .map(s => (s.entry, s.builds, s.evicts))
    assert(got == pinned)
    val shared = Set("_shared_ngram_build", "_shared_cc_labels", "_shared_kmeans_assign",
      "_shared_basket_pairs", "_shared_sales_view", "_shared_ann_models",
      "_shared_layout_ingest", "_shared_layout_compact", "_shared_bucketed_tables")
    val built = sweep.flatMap(_.builds)
    assert(built.size == built.distinct.size && built.toSet == shared)
    assert(Memo.builds.map(_.name).toSet == shared)
  }

  test("evictAll releases every cached frame the memos hold") {
    val sc = spark.sparkContext
    // lineage-truncation blocks (the CC and PageRank loops' local
    // checkpoints) belong to the ContextCleaner, not to a memo
    def cached = sc.getPersistentRDDs.filter { case (_, r) => !r.isCheckpointed }.keySet
    Memo.evictAll()
    val before = cached
    Memo.builds.foreach(_.run(spark, sf0001))
    Seq("dedup_minhash", "bpe_train", "dedup_embcos")
      .foreach(SparkEntry.queries(_)(spark, sf0001).count())
    for (m <- Seq(Memo.ngramPairs, Memo.ccLabels, Memo.dedupCaches, Memo.kmeansAssign,
        Memo.basketPairs, Memo.salesView, Memo.annModels, Memo.bpeMerges, Memo.embeddings))
      assert(!m.isEmpty, s"a ${m.family} memo was not built")
    assert((cached -- before).size >= 9)
    Memo.evictAll()
    assert(cached == before)
    assert(Memo.all.forall(_.isEmpty))
  }

  test("a memo built twice in one session returns the same frame and caches once") {
    Memo.evictAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = GoldenQueries.salesViewCached(spark, sf0001)
    a.count()
    val b = GoldenQueries.salesViewCached(spark, sf0001)
    b.count()
    assert(a eq b)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(Memo.salesView.size == 1)
    GoldenQueries.clearCache()
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
