package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract safety nets: things that would silently zero a round
  * if they broke. */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql key has a queries entry and column-name parity risk checked") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle keys without queries: ${os -- qs}")
    // floor == the driver's authoritative count (CORRECTNESS_r07: 172,
    // +1 round-8 knn_ivfpq, +1 bpe_apply, +1 corpus_overlap,
    // +1 stream_topk, +1 ts_seasonal, +1 corpus_diff, +1 ann_recall,
    // +1 bpe_fertility, +1 sketch_hll_intersect, +1 dedup_recall,
    // +9 round-10-continued: quantile_exact, stream_quantile,
    // dedup_containment, text_ppl_filter, join_dpp, agg_mode, agg_bitmap_distinct, stream_bitmap_distinct, layout_compact) so a silently-dropped
    // query fails the suite; raise when adding.
    assert(qs.size >= 196, s"query surface shrank: ${qs.size}")
    // the rows-only set is CLOSED at ZERO: every query has a DuckDB
    // oracle. History of the graduations that got here:
    // dedup_minhash/dedup_simhash in round 7 via XxhSql; knn_ivf/knn_pq
    // in round 8 via the FixedPointAnn grid replay; knn_lsh in round 9
    // via integer-grid SRP; text_quality_filter_approx in round 9 via
    // the fixed-grid histogram cutoff; agg_hll_merge in round 10 by
    // re-basing on graft.sketch.Hll's oracle-replayable registers;
    // agg_approx_distinct in round 10 via exact NDVs + 3σ bound flags.
    // A new query missing its oracle fails HERE instead of silently
    // weakening the driver gate.
    assert((qs -- os).isEmpty,
      s"queries without an oracle: ${qs -- os}")
  }

  test("every oracleSqlScale entry substitutes an existing primary oracle") {
    val os = SparkEntry.oracleSql.keySet
    val sc = SparkEntry.oracleSqlScale
    assert(sc.keySet.subsetOf(os),
      s"scale forms without a primary oracle: ${sc.keySet -- os}")
    // a scale form that accidentally EQUALS its primary would make the
    // sf10 gate silently re-run the infeasible form
    sc.foreach { case (k, v) =>
      assert(v != SparkEntry.oracleSql(k), s"$k scale form == primary")
    }
    // the sf10 comparator sorts columns by name before hashing, so the
    // scale form must not rename the projection. That alias parity is
    // enforced at stamp time, not here: tools/check_scale_form.py runs
    // BOTH forms through DuckDB and digests (count, sum-of-row-hashes)
    // over name-sorted DESCRIBE columns — a renamed or dropped output
    // column digests differently and the stamp never reads ok. (An
    // earlier textual guard here compared the last ORDER BY line; it
    // passed vacuously on ORDER-BY-free pairs and scale forms now drop
    // the final ORDER BY on purpose — the digest is order-independent
    // and a 287M-row sort at sf100 is pure spill.)
  }

  test("every margin probe diagnoses an existing scale form") {
    val sc = SparkEntry.oracleSqlScale.keySet
    val probes = SparkEntry.oracleMarginProbes
    assert(probes.keySet.subsetOf(sc),
      s"probes without a scale form: ${probes.keySet -- sc}")
    // the probe contract: scale forms whose pipelines divide or round
    // FLOATS carry a probe; the two pure-integer pipelines (hamming /
    // cross-multiplied mean test) are the only exemptions. A new scale
    // form must either add a probe or extend this exemption list with
    // an argument in its scaladoc.
    val integerOnly = Set("dedup_simhash", "multimodal_phash")
    assert(sc -- probes.keySet == integerOnly,
      s"unprobed scale forms beyond the integer-only exemptions: " +
        s"${sc -- probes.keySet -- integerOnly}")
  }

  test("oracle SQL strings survive the Verify JSON escaping round-trip") {
    // mirror Verify.q's escaping, then parse with a strict JSON parser
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // strict-ish structural validation without a JSON library: the same
    // escapes must keep quotes balanced and no raw control chars
    assert(!json.exists(c => c < ' '), "raw control char leaked into JSON")
    val unescapedQuotes = json.replaceAll("\\\\\\\\", "").replaceAll("\\\\\"", "")
    assert(unescapedQuotes.count(_ == '"') % 2 == 0, "unbalanced quotes")
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  test("pushdown regression net: q1_pricing filter reaches the parquet scan") {
    val spark = TestSpark.spark
    val plan = SparkEntry.queries("q1_pricing")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n${plan.take(2000)}")
    assert(!plan.contains("l_orderkey"), "column pruning regressed: unused column read")
  }

  test("plan regression net: knn_lsh buckets via codegen'd srp_bands_fp, ngram joins on hashed key") {
    val spark = TestSpark.spark
    val lsh = SparkEntry.queries("knn_lsh")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(lsh.contains("srp_bands_fp("),
      "knn_lsh no longer buckets through the codegen'd integer-grid SRP kernel")
    val ngram = SparkEntry.queries("dedup_ngram")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    // round 5: the hash moved INTO the fused shingle kernel — the join
    // key is still the 8-byte hash, now computed without materializing
    // shingle strings at all
    assert(ngram.contains("shingle_hashes("),
      "dedup_ngram self-join key is no longer the 8-byte shingle hash")
    graft.Memo.evict("Dedup")
    // round 10b: bag-of-words consumers are born collapsed at the scan;
    // a revert silently reintroduces a corpus-token exchange per query
    Seq("text_top_terms", "text_surprisal", "langid_nb").foreach { q =>
      val p = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan.toString
      assert(p.contains("word_counts("),
        s"$q no longer collapses (doc, word) pairs in-row")
    }
    // the cosine dedup candidate stream keeps its in-kernel fingerprint
    // prune (the pair generator IS the filter)
    val emb = SparkEntry.queries("dedup_embcos")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    assert(emb.contains("fp_packed_pairs("),
      "dedup_embcos lost the fingerprint-pruned pair kernel")
    graft.ann.Similarity.clearCache()
  }

  test("Bench summary line fits the driver's 2000-char output tail at the current query count") {
    // rounds 3 and 4 lost their bench numbers to exactly this: the driver
    // keeps the LAST 2000 chars of process output, sbt appends ~80 chars
    // after our line, and 89 per-query entries overflowed the window.
    val fakeResults = (SparkEntry.queries.keySet + "_shared_ngram_build")
      .toSeq.sortBy(identity).zipWithIndex
      .map { case (k, i) => k -> (0.05 + (i % 97) * 0.131) }.toMap
    val line = Bench.summaryLine(fakeResults, Seq.empty, 3.427,
      "/root/testdata/sf0.1", writeFull = false)
    assert(line.length <= Bench.MaxLineLen, s"line too long: ${line.length}")
    assert(line.length <= 1900, "would be truncated by the driver tail")
    // must parse as strict JSON (jackson ships with Spark)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    val shown = node.get("queries").size
    assert(shown + node.get("omitted").asInt == fakeResults.size)
    // total covers ALL queries, not just the shown subset
    val expected = fakeResults.values.sum
    assert(math.abs(node.get("value").asDouble - expected) < 0.01)
    // the slowest queries are the ones kept
    val keptMin = {
      val it = node.get("queries").elements()
      var m = Double.MaxValue
      while (it.hasNext) m = math.min(m, it.next().asDouble)
      m
    }
    val droppedMax = fakeResults.values.toSeq.sorted.reverse.drop(shown)
      .headOption.getOrElse(0.0)
    assert(keptMin >= droppedMax - 1e-9, "kept entries are not the slowest")
  }

  test("every query is deterministic-output shaped (ends ordered or is a single row)") {
    // structural guard: all queries ORDER BY or aggregate to one row —
    // enforced by convention; spot-check the newest entries exist
    Seq("join_cross", "setop_union_all", "null_handling", "q6_revenue_delta",
      "window_firstlast", "join_full_outer", "text_levenshtein", "agg_unpivot",
      "dedup_clusters", "pack_sequences", "sample_split",
      // round-5 session-5 surface
      "temporal_decay", "interval_join", "mv_refresh", "word_neighbors",
      "basket_pairs", "heavy_hitters", "graph_triangles", "graph_pagerank",
      "scd2_history", "feature_zscore", "cohort_retention", "text_bigram_lm")
      .foreach(k => assert(SparkEntry.queries.contains(k), k))
  }
}
