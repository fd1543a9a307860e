package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for LLM-pipeline data (BASELINE.json north
  * star): exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Exact dedup: one shuffle on a 64-bit content hash (not the full
  *    text), min-id survivor per group. xxhash64 collisions at 100 TB doc
  *    counts (~1e11 docs) are possible → survivor selection groups on the
  *    full text within a hash bucket, so a collision costs nothing.
  *  - MinHash LSH: per-doc signature (k=32 hashes) computed in one
  *    narrow pass (array expressions, codegen'd, no shuffle); banding
  *    posexplodes to (band, bandHash) — the ONLY shuffle is on bandHash,
  *    which distributes uniformly; candidate pairs then verify exact
  *    Jaccard within buckets. Skewed buckets (boilerplate docs) are
  *    capped — a bucket with >`maxBucket` docs is all-pairs quadratic, so
  *    we keep the first `maxBucket` by id (standard practice; such
  *    buckets are near-identical boilerplate anyway).
  *  - n-gram Jaccard (the exact verifier, also usable standalone at
  *    moderate pair counts): explode distinct shingles, self-join on the
  *    64-bit shingle hash — shuffle keyed by an 8-byte key, the same
  *    pattern as a word-count; no driver materialization anywhere.
  *
  * Reference has nothing comparable (single `sales` table, SURVEY.md §2.2)
  * — this module is north-star surface.
  */
object Dedup {

  /** Word-level shingles (n-grams joined by a space), distinct per doc. */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => array_join(slice(words, i + 1, lit(n)), " ")))
  }

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Seeded xxhash64 — all computed in one codegen'd projection. */
  def minhash(shingleCol: Column, k: Int): Column =
    array((0 until k).map { seed =>
      array_min(transform(shingleCol, sh => xxhash64(sh, lit(seed))))
    }: _*)

  /** 64-bit SimHash over the word multiset: sign-sum of per-word hash
    * bits. Implemented as 64 parallel bit-votes using only codegen'd
    * expressions (no UDF). */
  def simhash64(text: Column): Column = {
    val words = split(text, " ")
    val hashes = transform(words, w => xxhash64(w))
    // for each bit b: vote = +1 if bit set else -1; simhash bit = vote>0
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    // disjoint bit values: OR-reduce (no ANSI overflow concerns)
    bits.reduce(_ bitwiseOR _)
  }

  /** documents ∪ deterministic near-duplicate copies (first word dropped,
    * doc_id + stride) — gives the near-dup operators real positives on the
    * synthetic corpus (whose base texts are all unique). The id stride is
    * corpus-derived (max(doc_id)+1, a broadcast 1-row frame — no driver
    * action): a fixed offset would collide with base ids once the corpus
    * outgrows it, silently merging a near-dup with an unrelated base doc. */
  def docsWithNearDups(s: SparkSession, d: String): DataFrame = {
    // spread the corpus across the cores BEFORE the CPU-bound signature/
    // shingle derivations: the testdata arrives as one or a few MB-sized
    // parquet files whose single row groups bin-pack into one scan split,
    // which would serialize everything downstream (measured: the sf1
    // ngram build and minhash pass ran 1-task). The shuffled bytes are
    // just the raw text (MBs); at warehouse scale the scan has thousands
    // of splits and this becomes a no-op-sized rebalance.
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    val stride = docs.agg((max(col("doc_id")) + 1).as("__stride"))
    // r17: base ∪ near generated IN-ROW (explode of a 2-element array)
    // instead of a self-union — the union form scanned + repartitioned
    // the corpus once PER BRANCH, doubling the ingest cost of every
    // dedup-family consumer (plan-verified; the multiset of rows is
    // identical, and every consumer aggregates, so row order is
    // irrelevant). The stride scan remains: it reads only the pruned
    // doc_id column.
    docs.crossJoin(broadcast(stride))
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + col("__stride")).as("doc_id"),
          array_join(slice(split(col("text"), " "), 2, 1000000), " ")
            .as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-bucketed, full-text-confirmed survivor per group.
    "dedup_exact" -> ((s, d) => {
      docsWithNearDups(s, d)
        .withColumn("h", xxhash64(col("text")))
        .groupBy(col("h"), col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard near-dup pairs (J ≥ 0.6 on 3-gram shingles).
    // The DuckDB oracle runs the same explode/join/agg formulation.
    "dedup_ngram" -> ((s, d) =>
      queriesNgramPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Asymmetric CONTAINMENT pairs (|A∩B| / min(|A|,|B|) ≥ 0.9): the
    // boilerplate/quote detector Jaccard structurally misses — a small
    // doc fully embedded in a large one has high containment but LOW
    // Jaccard (J ≤ min/max), so a symmetric threshold never fires.
    // Shares [[sizedPairsCached]] with dedup_ngram: the exact prune
    // bound (4·I ≥ 3·min_nsh) already covers the 0.9·min containment
    // requirement, so this whole query is a map-only integer filter
    // over the one cached pair frame — no new shuffle anywhere.
    "dedup_containment" -> ((s, d) =>
      sizedPairsCached(s, d)
        .filter(col("n_inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          least(col("n_a"), col("n_b")).as("n_small"),
          round(col("n_inter").cast("double") /
            least(col("n_a"), col("n_b")), 6).as("cont6"))
        .orderBy(col("id_a"), col("id_b"))),

    // End-to-end dedup pipeline: near-dup pairs (J ≥ 0.6) → keep the
    // smallest doc_id of each duplicate set's pairs → surviving corpus.
    "dedup_pipeline" -> ((s, d) => {
      val pairs = queriesNgramPairs(s, d)
      val losers = pairs.select(col("id_b")).distinct()
      docsWithNearDups(s, d)
        .join(losers, col("doc_id") === col("id_b"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Connected components over the near-dup pair graph — the step that
    // completes dedup at corpus scale: pairs (a,b),(b,c) must collapse to
    // ONE surviving representative for {a,b,c}, which per-pair min-id
    // (dedup_pipeline's contract) cannot see. Alternating min-label
    // propagation: every node adopts min(own label, neighbors' labels)
    // per round — O(cluster diameter) rounds, each one shuffle keyed by
    // node id; deterministic (min is assoc/comm, partitioning-independent).
    // At 1000-executor scale the same loop is the standard dataflow CC;
    // the large-star/small-star variant (Kiveris et al., "Connected
    // Components in MapReduce") halves round count if diameters grow —
    // near-dup cluster diameters are tiny, so plain propagation is right.
    "dedup_clusters" -> ((s, d) =>
      ccLabelsCached(s, d).orderBy(col("doc_id"))),

    // Leakage-safe train/val/test split — the decontamination-aware
    // variant of sample_split: hashing doc_id scatters near-duplicate
    // twins across splits (a val doc's 95%-identical sibling lands in
    // train and the eval leaks), so the split key must be the DEDUP
    // CLUSTER, not the doc. Composition of two existing pieces: the
    // connected-components labels over the near-dup graph (same shared
    // pair frame as dedup_clusters) and sample_split's multiplicative-
    // xorshift bucket — applied to the cluster label, making the split
    // a function of the cluster so whole clusters move together by
    // construction. The output carries its own audit: n_straddling
    // (clusters seen in >1 split) is oracle-checked to be 0, and the
    // spec shows the doc_id-keyed hash DOES straddle on the fixture.
    // Scale: cluster labeling is the audited CC loop; the assignment is
    // a map; the census is two aggregations — nothing new shuffles
    // beyond the distinct-count audit itself.
    "split_leakage_safe" -> ((s, d) => {
      val cc = ccLabelsCached(s, d)
      val m = pmod(col("cluster"), lit(1000003L)) * lit(2654435761L)
      val bucket = pmod(m.bitwiseXOR(shiftright(m, 13)), lit(10))
      val assigned = cc.withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test"))
      val perSplit = assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
      val straddle = assigned.groupBy(col("cluster"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_straddling"))
      perSplit.crossJoin(broadcast(straddle)).orderBy(col("split"))
    }),

    // MinHash+LSH candidate generation + exact-Jaccard verification.
    // Hash-dependent pipeline → no SQL oracle (rows-only check); its
    // recall against dedup_ngram is asserted in DedupSpec.
    "dedup_minhash" -> ((s, d) => minhashPairs(s, d, k = 32, bands = 8, tau = 0.6)),

    // Dedup evaluation harness — the `ann_recall` of the near-dup stack:
    // scores the banded MinHash pipeline against the exact n-gram Jaccard
    // truth (the pair set a full O(n²) verify would emit, computed by the
    // shared df-capped pair frame). One row: truth/found/hit counts,
    // recall and precision. Both sides are themselves hash-green oracle
    // queries, so the composition replays bit-exactly in DuckDB — this is
    // the measurement a 100 TB dedup deployment runs on a sampled slice
    // before committing LSH parameters (k, bands, τ) for the full corpus.
    // Scale: truth and found frames are the existing audited builds; the
    // scoring join is keyed by (id_a, id_b) over pair sets that are tiny
    // relative to the corpus, then a single global one-row aggregate.
    "dedup_recall" -> ((s, d) => {
      val truth = queriesNgramPairs(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("t"))
      val found = minhashPairs(s, d, k = 32, bands = 8, tau = 0.6)
        .select(col("id_a"), col("id_b"), lit(1L).as("f"))
      truth.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(sum(col("t")).as("n_truth"), sum(col("f")).as("n_found"),
          sum(when(col("t").isNotNull && col("f").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
        .select(col("n_truth"), col("n_found"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"),
          (col("n_hit").cast("double") / col("n_found")).as("precision"))
    }),

    // SimHash near-dup: hamming distance ≤ 6 on 64-bit signatures.
    // Banded buckets over PAIRS of the 8 8-bit blocks: d ≤ 6 bit errors
    // touch at most 6 blocks, so ≥ 2 blocks are untouched and the pair
    // agrees on that specific block-combination's concatenated 16-bit
    // key — recall at the d≤6 filter is total over the C(8,2) = 28
    // combos, exactly the single-band pigeonhole upgraded one level.
    // Why combos: single 8-bit bands have only 256 buckets, so random
    // (non-dup) bucket collisions grow as n²/256 per band — 15.6G
    // hamming evaluations at the sf10 rehearsal (1M docs, 163 s). The
    // 16-bit combo keys give 65536 buckets: 3.5× more posting rows
    // (28/doc vs 8) but ~73× fewer random candidates at 1M docs; the
    // output set is unchanged (both schemes emit exactly the hamming≤6
    // pairs), so the DuckDB single-band replay oracle still matches
    // bit-for-bit. Asymptotically candidates are still n²/2¹⁶-shaped —
    // inherent to exact-recall banding of a fixed 64-bit signature —
    // but the onset moves two orders of magnitude out; past that,
    // accept the d≤3 guarantee with C(8,4)=70 32-bit combos.
    "dedup_simhash" -> ((s, d) => {
      // Grouped-postings per (combo, key) bucket — each bucket's
      // (doc_id, sig) members become one sorted struct array (sorted by
      // doc_id, the struct's leading field), pairs stream out of
      // codegen'd generators with id_a < id_b by construction, and the
      // hamming filter still runs BEFORE the distinct shuffle: only
      // near-pairs (thousands) move, not every same-bucket candidate.
      // Replaces a window-less but sort-heavy SMJ self-join of the
      // banded frame with one hash aggregation.
      val docs = docsWithNearDups(s, d)
        .withColumn("sig", SignatureExprs.simhash64Fast(col("text")))
      val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield
        shiftright(col("sig"), i * 8).bitwiseAND(lit(0xFFL))
          .bitwiseOR(shiftleft(
            shiftright(col("sig"), j * 8).bitwiseAND(lit(0xFFL)), 8))
      val posts = docs.select(col("doc_id"), col("sig"),
        posexplode(array(combos: _*)).as(Seq("band", "key")))
        .groupBy(col("band"), col("key"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
        .filter(size(col("ms")) >= 2)
      // round 9: the hamming verify moved INSIDE the codegen'd pair
      // kernel — a bucket emits only its near pairs (B²/2 popcounts in
      // registers, no candidate row stream, no post-filter); emitted
      // set identical to the explode + bit_count chain it replaces
      posts
        .select(explode(
          SignatureExprs.hammingPairs(col("ms"), 6)).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.dist").as("hamming"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),
  )

  /** Exact n-gram Jaccard pairs (J ≥ 0.6, 3-gram shingles): distinct
    * shingles exploded, grouped postings keyed by shingle hash,
    * intersection counts vs set sizes — a map-only threshold filter
    * over [[sizedPairsCached]] (the memoized shared artifact;
    * `dedup_ngram`, `dedup_pipeline`, `dedup_clusters` and
    * `dedup_containment` all derive from it — the standard
    * shared-subexpression materialization a pipeline scheduler would
    * do). */
  def queriesNgramPairs(s: SparkSession, d: String): DataFrame =
    sizedPairsCached(s, d)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Sized prune survivors — (id_a, id_b, n_inter, n_a, n_b) with NO
    * similarity threshold applied — memoized per (session, dir) as THE
    * shared pair artifact: the exact pre-join prune keeps every pair
    * with 4·I ≥ 3·min_nsh, which covers both downstream thresholds
    * (J ≥ 0.6 ⟹ I ≥ 0.75·min(n_a,n_b); containment ≥ 0.9 ⟹ I ≥
    * 0.9·min(n_a,n_b); both ≥ the corpus-min bound), so `dedup_ngram`'s
    * Jaccard pairs AND `dedup_containment`'s asymmetric pairs are
    * map-only filters over this one cached frame — the expensive
    * candidate-count shuffle runs once per corpus, not per threshold
    * family. */
  def sizedPairsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.ngramPairs(s, d)(buildNgramPairs(s, d).cache())

  /** Connected-component labels over the near-dup graph, memoized per
    * (session, dir): `dedup_clusters` and `split_leakage_safe` both
    * consume them, and the CC loop (the expensive part — O(diameter)
    * shuffles) should run once per corpus, not once per consumer. Bench
    * charges the build to `_shared_cc_labels`; [[graft.Memo]] evicts. */
  def ccLabelsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.ccLabels(s, d) {
      val pairs = queriesNgramPairs(s, d).select(col("id_a"), col("id_b"))
      val nodes = docsWithNearDups(s, d).select(col("doc_id"))
      connectedComponents(nodes, pairs).cache()
    }

  /** Cache `df` unless a canonical-plan twin is already cached.
    * `dedup_recall` re-runs [[minhashPairs]] over the exact frame
    * `dedup_minhash` cached moments earlier — CacheManager serves the
    * twin either way, but a second `.cache()` call logs
    * "Asked to cache already cached data"; this guard keeps the bench
    * log warning-clean. Registered in [[graft.Memo.dedupCaches]] regardless
    * so the Dedup family's eviction releases whichever instance owns the
    * cache entry. */
  private def cacheOnce(df: DataFrame): DataFrame =
    graft.Memo.dedupCaches(df.sparkSession, df) {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.cache()
      df
    }

  /** Hot-shingle document-frequency cap: a shingle present in B docs
    * contributes B²/2 rows to the self-join, so one boilerplate shingle in
    * 1e6 docs is 5e11 pairs. Shingles above `maxDf` are dropped from the
    * shingle universe entirely (postings AND sizes — Jaccard is computed
    * over the capped universe, so the semantics stay self-consistent and
    * SQL-mirrorable). Such shingles are corpus-wide boilerplate and carry
    * no within-pair signal; on the synthetic corpus df≤32 leaves the
    * sf0.1 pair set byte-identical (max df there is 50) and sf0.01
    * untouched (max df 14). */
  private[dedup] val maxShingleDf = 32

  private def buildNgramPairs(s: SparkSession, d: String): DataFrame = {
    // Grouped-postings formulation: ONE hash aggregation groups each
    // shingle's posting list into a sorted array; the df cap is an
    // array-size filter; candidate pairs stream out of the array via
    // codegen'd generators. Value-identical to the window + self-join
    // formulation (and to the oracle SQL), but with zero sorts: the
    // window form paid a full sort of the posting list (window over sh)
    // and a sort-merge self-join of the same rows — both gone here.
    // Remaining shuffles, all uniform-keyed and partial-agg reduced:
    //   1. groupBy(sh): E = Σ per-doc distinct shingles rows in, one row
    //      per distinct shingle out (map-side combine collapses the
    //      near-dup copies' repeats before the wire);
    //   2. sizes groupBy(doc_id): E rows (re-exploded from the compact
    //      cached postings, not rescanned);
    //   3. pair groupBy(id_a, id_b): ≤ maxDf²/2 rows per shingle,
    //      bounded by the cap exactly as before.
    //
    // Shuffle-size levers unchanged vs the string/DISTINCT oracle
    // formulation:
    //  - shingleHashes array_distincts per doc, so (doc_id, sh) is
    //    globally distinct with NO extra shuffle;
    //  - keys are xxhash64(sh) (8 bytes), not ~25-byte shingle strings.
    //    Counts over 64-bit hashes equal the string counts up to
    //    collisions (~2⁻⁶⁴ per shingle pair; at 1e12 corpus shingles a
    //    collision nudges one pair's Jaccard by 1/|union|).
    //  - shingleHashes fuses split → n-grams → distinct → xxhash64 into
    //    one zero-allocation byte walk (bit-identical; DedupSpec).
    // The cached frame is one compact row per distinct shingle (ids
    // array ≤ maxDf longs) — far smaller than the E-row posting list
    // the previous formulation pinned in memory.
    val posts = cacheOnce(docsWithNearDups(s, d)
      .select(col("doc_id"),
        explode(SignatureExprs.shingleHashes(col("text"), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxShingleDf))
    val sizes = posts.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Pair generation: the codegen'd [[PackedPairsExpr]] emits every
    // ordered pair of a posting list as ONE packed long ((a<<31)|b,
    // a < b because ids are sorted) in a single output array per row —
    // replacing the posexplode + per-position slice chain (|ids| array
    // copies per row) and HALVING the bytes the pair-count shuffle
    // moves, the dominant wire volume here (measured 411M distinct
    // candidate pairs from 1M docs at the ×100 rehearsal).
    val pairCnt = posts
      .select(explode(SignatureExprs.packedPairs(col("ids"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_inter"))
    // EXACT pre-join pruning: J ≥ 0.6 ⟹ n_inter ≥ 0.375·(n_a+n_b)
    // ≥ 0.75·min(n_a,n_b) ≥ 0.75·(corpus-min n_sh), so pairs below
    // 4·n_inter ≥ 3·min_nsh cannot qualify — no false negatives, pure
    // integer arithmetic, and the threshold is a 1-ROW broadcast. At
    // the ×100 rehearsal this keeps 835,800 of 411M candidates
    // (−99.8%), turning the sizes join from the build's second-largest
    // term (a shuffle of every candidate) into noise. Degenerate
    // corpora (min n_sh ≤ 1) make the filter vacuous — correct, just
    // back to the unpruned join cost.
    val minN = sizes.agg(min(col("n_sh")).as("__mn"))
    val surv = pairCnt.crossJoin(broadcast(minN))
      .filter(col("n_inter") * 4 >= col("__mn") * 3)
      .select(shiftrightunsigned(col("pk"), 31).as("id_a"),
        col("pk").bitwiseAND(lit((1L << 31) - 1)).as("id_b"),
        col("n_inter"))
    surv
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("n_a"), col("n_b"))
  }

  /** Connected components by alternating min-label propagation:
    * every node adopts min(own label, neighbors' labels) per round —
    * O(component diameter) rounds, each one shuffle keyed by node id;
    * deterministic (min is assoc/comm, partitioning-independent).
    * Returns (doc_id, cluster) with cluster = the component's min id.
    *
    * `nodes` needs a `doc_id` column; `pairs` an undirected edge list
    * (id_a, id_b). Fails (never returns a wrong partition) if a
    * component's diameter exceeds `maxRounds`. At 1000-executor scale
    * this loop is the standard dataflow CC; the large-star/small-star
    * variant (Kiveris et al., "Connected Components in MapReduce")
    * halves round count if diameters grow.
    *
    * Fault tolerance: the default lineage truncation is `localCheckpoint`
    * — cheapest (executor-local blocks, one job per round) but NOT
    * fault-tolerant: blocks die with their executor and the truncated
    * lineage leaves no recompute path, so a single lost executor after
    * round k kills the job. Fine on local[*]; on a real cluster pass
    * `reliableCheckpointEvery = n` to write a RELIABLE checkpoint (HDFS/
    * object store via `SparkContext.setCheckpointDir`) every n rounds —
    * each one costs an extra job + a DFS write, and the ≤ 2ⁿ⁻¹-fold plan
    * growth between checkpoints trades off against that cost. Results are
    * identical in both modes (min-label propagation is deterministic;
    * asserted in DedupSpec). */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 32, reliableCheckpointEvery: Int = 0): DataFrame = {
    if (reliableCheckpointEvery > 0)
      require(nodes.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable connectedComponents needs SparkContext.setCheckpointDir")
    val edges = cacheOnce(pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst"))
    var labels = nodes.select(col("doc_id")).withColumn("cluster", col("doc_id"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      // Lineage truncation — without it the logical plan doubles every
      // round (`labels` feeds both the neighbor pass and the outer join):
      // exponential plan growth that OOMs the driver around round 10.
      // LAZY checkpoint: the convergence count below is the materializing
      // action, so the local mode runs ONE job per round (a reliable
      // checkpoint adds the DFS-write job Spark schedules after the
      // count). Old round blocks are released by the ContextCleaner once
      // unreferenced. Carrying the previous label through the pass makes
      // convergence a filter-count, not an extra comparison join.
      val stepped = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(labels("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          col("cluster").as("__old"))
      val next =
        if (reliableCheckpointEvery <= 0) stepped.localCheckpoint(false)
        else if ((rounds + 1) % reliableCheckpointEvery == 0) stepped.checkpoint(false)
        else stepped // lineage grows ≤ 2^(n-1)-fold between checkpoints
      changed = next.filter(col("cluster") =!= col("__old")).count()
      labels = next.drop("__old")
      rounds += 1
    }
    // a component with diameter ≥ the cap would exit with multiple
    // labels — refuse to return a silently-wrong partition
    require(changed == 0,
      s"connectedComponents: not converged after $rounds rounds")
    labels
  }

  /** MinHash LSH pipeline, parameterized. `maxBucket` caps any (band,
    * key) bucket: a bucket of B docs yields B²/2 candidate pairs, so
    * boilerplate floods are truncated to the first `maxBucket` docs by id
    * (such buckets are near-identical content; the survivors still pair). */
  def minhashPairs(s: SparkSession, d: String, k: Int, bands: Int, tau: Double,
      maxBucket: Int = 64): DataFrame = {
    val rows = k / bands
    // hashed shingle sets (8 B/element) for the exact-Jaccard verify;
    // same counts as string sets up to ~2⁻⁶⁴-probability collisions
    // cached: feeds four subtrees (both banded self-join sides + the two
    // candidate set joins) — the shingle/signature pass runs once
    val docs = cacheOnce(docsWithNearDups(s, d)
      .withColumn("hsh", SignatureExprs.shingleHashes(col("text"), 3))
      .withColumn("mh", SignatureExprs.minhashFromHashes(col("hsh"), k)))
    // the band explode/shuffle carries ONLY (doc_id, band, key) — the
    // shingle sets would be duplicated ×bands through the shuffle
    // otherwise; candidates (few) join them back below. Grouped-postings
    // pair generation (the buildNgramPairs shape): one hash aggregation
    // into sorted per-bucket id arrays (no sorts, map-side combined);
    // slice(1, maxBucket) keeps the first maxBucket ids — identical to
    // the previous row_number-over-(doc_id-ordered-window) cap, without
    // the window's full sort of the banded frame or the SMJ self-join.
    val posts = docs.select(col("doc_id"),
      posexplode(array((0 until bands).map(bd =>
        xxhash64((slice(col("mh"), bd * rows + 1, rows) +: Seq(lit(bd))): _*)): _*))
        .as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .filter(size(col("ids")) >= 2)
    val cand = posts
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = docs.select(col("doc_id"), col("hsh"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("hsh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("hsh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared DuckDB oracle prefix for the n-gram pipeline: docs ∪
    * near-dups → distinct 3-gram shingles → df-capped shingle universe →
    * set sizes → pairwise intersection counts. One definition so the
    * Spark path's [[maxShingleDf]] and the oracle can never diverge. */
  private def ngramOracleCtes: String =
    s"""$docsSh0Ctes,
       |sh AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, sh, count(1) OVER (PARTITION BY sh) AS df
       |    FROM sh0) WHERE df <= $maxShingleDf),
       |sizes AS (SELECT doc_id, count(1) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS n_inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle prefix: docs ∪ near-dups and their distinct word
    * 3-gram shingle strings — the common root of both the exact-Jaccard
    * and the MinHash-replay CTE chains. */
  private def docsSh0Ctes: String =
    """docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
      |         array_to_string(string_split(text, ' ')[2:], ' ')
      |  FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(string_split(text, ' ')[i:i+2], ' ') AS sh
      |  FROM docs,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      greatest(len(string_split(text, ' ')) - 2, 1))) AS i))""".stripMargin

  /** Bit-exact MinHash+LSH replay over [[docsSh0Ctes]] (k=32 element
    * hashes via the seed-42 xxhash64 chain, 8 bands × 4 rows, bucket cap
    * 64, exact hashed-set Jaccard verify at τ=0.6), ending in the
    * `mh_pairs` CTE. CTE names are disjoint from [[ngramOracleCtes]] /
    * [[ngramOraclePairsCte]] so the two chains compose in one WITH for
    * the evaluation query. */
  private def minhashOracleTailCtes: String = minhashTailCtes(scale = false)

  /** [[minhashOracleTailCtes]] with a switchable `minter`: the primary
    * form counts intersections by joining every candidate pair against
    * TWO copies of the full (doc, shingle-hash) posting table — its
    * intermediate is |cand| × avg-shingles rows (~60M × rows of join
    * probe state at sf10), the CTE whose spill exhausted temp disk.
    * The scale form folds each doc's distinct hash set into ONE sorted
    * list row (`dlists`, n_docs rows) and computes the same |A ∩ B|
    * per pair as `len(list_intersect(...))` — set semantics are exact
    * because `doc_sh` is DISTINCT per doc. A candidate pair with an
    * empty intersection now yields ni = 0 instead of no row; the
    * jaccard ≥ 0.6 filter in `mh_pairs` drops it identically (0 / n
    * with n ≥ 1 since every doc has ≥ 1 shingle). */
  private def minhashTailCtes(scale: Boolean): String = {
    // Scale form of the signature build: the primary materializes mhv =
    // one row per (doc, element-hash index) — a 51.6M×32 ≈ 1.65·10⁹-row
    // join intermediate grouped on 32M keys at sf10, the stage that blew
    // the comparator's wall budget. The rewrite folds the 32 hash values
    // of each DISTINCT shingle hash into one list row (hil, |dh| rows)
    // and takes the 32 mins in a SINGLE doc-keyed aggregate — same
    // min-per-index arithmetic, 1M groups instead of 32M, nothing
    // (doc × index)-shaped ever materialized.
    val sigBuild =
      if (!scale)
        """mhv AS (
          |  SELECT ds.doc_id, hi.i, min(hi.hv) AS m
          |  FROM doc_sh ds JOIN hi ON hi.h = ds.h GROUP BY 1, 2),
          |mharr AS (SELECT doc_id, list(m ORDER BY i) AS mh FROM mhv GROUP BY doc_id),""".stripMargin
      else
        s"""hil AS (SELECT h, list(hv ORDER BY i) AS hv FROM hi GROUP BY h),
           |mharr AS (
           |  SELECT ds.doc_id,
           |    [${(1 to 32).map(i => s"min(l.hv[$i])").mkString(", ")}] AS mh
           |  FROM doc_sh ds JOIN hil l ON l.h = ds.h
           |  GROUP BY ds.doc_id),""".stripMargin
    val minter =
      if (!scale)
        """minter AS (
          |  SELECT c.id_a, c.id_b, count(1) AS ni
          |  FROM cand c JOIN doc_sh a ON a.doc_id = c.id_a
          |              JOIN doc_sh b ON b.doc_id = c.id_b AND b.h = a.h
          |  GROUP BY 1, 2),""".stripMargin
      else
        """dlists AS (
          |  SELECT doc_id, list(h ORDER BY h) AS hs FROM doc_sh GROUP BY 1),
          |minter AS (
          |  SELECT c.id_a, c.id_b,
          |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS ni
          |  FROM cand c JOIN dlists a ON a.doc_id = c.id_a
          |              JOIN dlists b ON b.doc_id = c.id_b),""".stripMargin
    s"""dsh AS (SELECT DISTINCT sh FROM sh0),
       |shh AS (SELECT sh, ${XxhSql.toI64(XxhSql.hashString("sh"))} AS h FROM dsh),
       |doc_sh AS (SELECT DISTINCT s.doc_id, hh.h FROM sh0 s JOIN shh hh USING (sh)),
       |dh AS (SELECT DISTINCT h FROM doc_sh),
       |hi AS (
       |  SELECT h, i, ${XxhSql.toI64(XxhSql.hashInt("i", XxhSql.toU64("h")))} AS hv
       |  FROM dh CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS i) r),
       |$sigBuild
       |mposts AS (
       |  SELECT doc_id, band, $minhashBandKeySql AS key
       |  FROM mharr CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS band) bd),
       |capped AS (
       |  SELECT doc_id, band, key FROM (
       |    SELECT *, row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
       |    FROM mposts) WHERE rn <= 64),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |msizes AS (SELECT doc_id, count(1) AS n FROM doc_sh GROUP BY 1),
       |$minter
       |mh_pairs AS (
       |  SELECT i.id_a, i.id_b,
       |    CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS jaccard
       |  FROM minter i JOIN msizes sa ON sa.doc_id = i.id_a
       |                JOIN msizes sb ON sb.doc_id = i.id_b
       |  WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.6)""".stripMargin
  }

  /** SimHash signature CTE chain (docs ∪ near-dups → per-word seed-42
    * xxhash64 → 64 count-weighted majority votes → signed 64-bit
    * signature), shared by the primary dedup_simhash oracle and its
    * scale form so the replayed signature arithmetic cannot drift.
    *
    * `scale = true` swaps the vote layout only: the primary's `bits`
    * materializes one row per (doc, bit) — (word-doc pairs) × 64 ≈
    * 6·10⁹ join rows into a 64M-group aggregate at sf10, the stage
    * that blew the comparator's wall budget — while the scale layout
    * takes the SAME 64 count-weighted sums as 64 aggregate columns of
    * ONE doc-keyed pass (1M groups, nothing (doc × bit)-shaped ever
    * materialized) and packs the sign bits in the projection. A pure
    * regrouping of identical sums — vote, threshold, and bit values
    * are equal term for term. */
  private def simhashSigCtes(scale: Boolean = false): String = {
    val sigPart =
      if (!scale)
        s"""bits AS (
           |  SELECT wc.doc_id, b.b,
           |    CASE WHEN sum(CASE WHEN (wh.h // (CAST(1 AS HUGEINT) << b.b)) % 2 = 1
           |                       THEN wc.c ELSE -wc.c END) > 0
           |         THEN CAST(1 AS HUGEINT) << b.b ELSE CAST(0 AS HUGEINT) END AS bv
           |  FROM wc JOIN wh USING (word)
           |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
           |  GROUP BY 1, 2),
           |sig AS (
           |  SELECT doc_id, ${XxhSql.toI64("sum(bv)")} AS sig FROM bits GROUP BY doc_id)""".stripMargin
      else {
        val votes = (0 until 64).map(b =>
          s"sum(CASE WHEN (wh.h // (CAST(1 AS HUGEINT) << $b)) % 2 = 1 " +
            s"THEN wc.c ELSE -wc.c END) AS v$b").mkString(",\n  ")
        val pack = (0 until 64).map(b =>
          s"CASE WHEN v$b > 0 THEN CAST(1 AS HUGEINT) << $b " +
            "ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
        s"""bits AS (
           |  SELECT wc.doc_id,
           |  $votes
           |  FROM wc JOIN wh USING (word)
           |  GROUP BY 1),
           |sig AS (
           |  SELECT doc_id, ${XxhSql.toI64(s"($pack)")} AS sig FROM bits)""".stripMargin
      }
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
       |         array_to_string(string_split(text, ' ')[2:], ' ')
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs),
       |wc AS (SELECT doc_id, word, count(1) AS c FROM w GROUP BY 1, 2),
       |dw AS (SELECT DISTINCT word FROM w),
       |wh AS (SELECT word, ${XxhSql.hashString("word")} AS h FROM dw),
       |$sigPart""".stripMargin
  }

  /** pairs CTE (J >= 0.6) over [[ngramOracleCtes]]. */
  private def ngramOraclePairsCte: String =
    """pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6)""".stripMargin

  /** DuckDB replay of the MinHash band key: seed 42 chained through the
    * band's four signature longs (array hashing) then the band index
    * (`xxhash64(slice(mh, bd*4+1, 4), bd)`). */
  private def minhashBandKeySql: String = {
    var k: String = "42"
    for (r <- 0 until 4)
      k = XxhSql.hashLong(XxhSql.toU64(s"mh[band * 4 + ${r + 1}]"), k)
    XxhSql.toI64(XxhSql.hashInt("band", k))
  }

  def oracle: Map[String, String] = Map(
    // Full bit-exact replay of the MinHash+LSH pipeline (k=32 element
    // hashes, 8 bands × 4 rows, bucket cap 64, exact-Jaccard verify at
    // τ=0.6): shingle strings re-derived relationally, their seed-42
    // xxhash64 replayed by [[XxhSql.hashString]], the per-element chain
    // by hashInt(i, seed=shingle hash) — SIGNED mins, as the engine
    // compares — the band keys by the hashLong/hashInt chain, then the
    // same sorted-bucket cap, pair generation, and hashed-set Jaccard.
    // sf10 note: the shared shingle/signature CTEs are consumed by
    // several downstream CTEs — without OracleSql.materialized DuckDB
    // re-evaluates them per reference and dies on temp disk at sf10.
    "dedup_minhash" -> graft.OracleSql.materialized(
      s"""WITH $docsSh0Ctes,
         |$minhashOracleTailCtes
         |SELECT id_a, id_b, jaccard FROM mh_pairs
         |ORDER BY id_a, id_b""".stripMargin,
      "docs", "sh0", "dsh", "shh", "doc_sh", "dh", "hi", "mhv", "mharr",
      "mposts", "capped", "cand", "msizes", "minter", "mh_pairs"),
    // MinHash-vs-exact evaluation: both CTE chains above composed over
    // the SAME docs/sh0 prefix — truth from the df-capped exact-Jaccard
    // `pairs`, found from the bit-exact LSH replay `mh_pairs`.
    "dedup_recall" -> graft.OracleSql.materialized(
      s"""WITH $ngramOracleCtes,
         |$ngramOraclePairsCte,
         |$minhashOracleTailCtes
         |SELECT n_truth, n_found, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_truth AS recall,
         |  CAST(n_hit AS DOUBLE) / n_found AS precision
         |FROM (SELECT
         |  (SELECT count(1) FROM pairs) AS n_truth,
         |  (SELECT count(1) FROM mh_pairs) AS n_found,
         |  (SELECT count(1) FROM pairs p JOIN mh_pairs m
         |     ON p.id_a = m.id_a AND p.id_b = m.id_b) AS n_hit)""".stripMargin,
      "docs", "sh0", "sh", "sizes", "inter", "pairs", "dsh", "shh",
      "doc_sh", "dh", "hi", "mhv", "mharr", "mposts", "capped", "cand",
      "msizes", "minter", "mh_pairs"),
    // Full bit-exact replay of SimHash banding: per-WORD-OCCURRENCE
    // seed-42 xxhash64 (hashes computed once per distinct word, votes
    // weighted by occurrence counts), 64 per-bit majority votes, 8×8-bit
    // band keys off the unsigned pattern (≡ the engine's arithmetic
    // shift + 0xFF mask), bucket self-join, hamming ≤ 6.
    "dedup_simhash" -> graft.OracleSql.materialized(
      s"""WITH ${simhashSigCtes()},
         |posts AS (
         |  SELECT doc_id, sig, band,
         |    CAST((${XxhSql.toU64("sig")}) // (CAST(1 AS HUGEINT) << (band * 8)) % 256 AS BIGINT) AS key
         |  FROM sig CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS band) bd)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM posts a JOIN posts b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,
      "docs", "w", "wc", "dw", "wh", "bits", "sig", "posts"),
    "dedup_exact" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |         array_to_string(string_split(text, ' ')[2:], ' ')
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, count(1) AS n_copies
        |FROM docs GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_pipeline" ->
      s"""WITH $ngramOracleCtes,
         |$ngramOraclePairsCte
         |SELECT doc_id FROM docs
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY doc_id""".stripMargin,
    "dedup_ngram" ->
      s"""WITH $ngramOracleCtes
         |SELECT id_a, id_b,
         |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,
    // same shingle CTEs, asymmetric min-side threshold (integer
    // cross-multiplied; the ratio only surfaces as the rounded readout)
    "dedup_containment" ->
      s"""WITH $ngramOracleCtes
         |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(least(sa.n_sh, sb.n_sh) AS BIGINT) AS n_small,
         |  round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
         |    AS cont6
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE n_inter * 10 >= least(sa.n_sh, sb.n_sh) * 9
         |ORDER BY id_a, id_b""".stripMargin,
    // connected components of the near-dup graph: transitive closure via
    // recursive CTE (min reachable id per node) — exact same cluster
    // semantics the label-propagation loop converges to
    "dedup_clusters" ->
      s"""WITH RECURSIVE $ngramOracleCtes,
         |$ngramOraclePairsCte,
         |edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS lab FROM docs
        |  UNION
        |  SELECT e.s AS node, r.lab FROM edges e JOIN reach r ON r.node = e.t)
        |SELECT node AS doc_id, min(lab) AS cluster
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // identical transitive closure, identical xorshift bucket on the
    // CLUSTER label, identical census + straddle audit
    // all non-recursive CTEs hinted (reach stays plain — it's the
    // recursive member); without the hints `asg` is inlined into both
    // `per` and `st`, re-running the whole recursive closure and its
    // pair-join inputs twice
    "split_leakage_safe" -> graft.OracleSql.materialized(
      s"""WITH RECURSIVE $ngramOracleCtes,
         |$ngramOraclePairsCte,
         |edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS lab FROM docs
        |  UNION
        |  SELECT e.s AS node, r.lab FROM edges e JOIN reach r ON r.node = e.t),
        |cc AS (
        |  SELECT node AS doc_id, min(lab) AS cluster
        |  FROM reach GROUP BY node),
        |asg AS (
        |  SELECT doc_id, cluster,
        |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id, cluster,
        |      xor((cluster % 1000003) * 2654435761,
        |          ((cluster % 1000003) * 2654435761) >> 13) % 10 AS b
        |    FROM cc)),
        |per AS (
        |  SELECT split, CAST(count(1) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
        |  FROM asg GROUP BY 1),
        |st AS (
        |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_straddling
        |  FROM (SELECT cluster, count(DISTINCT split) AS ns
        |        FROM asg GROUP BY 1))
        |SELECT per.split, per.n_docs, per.n_clusters, st.n_straddling
        |FROM per, st ORDER BY split""".stripMargin,
      "docs", "sh0", "sh", "sizes", "inter", "pairs", "edges", "cc",
      "asg", "per", "st"),
  )

  /** Scale-form oracles for the sf10+ comparator only (see
    * `SparkEntry.oracleSqlScale`; each substitution requires the
    * `tools/check_scale_form.py` sf0.1 digest-equivalence stamp).
    *
    * dedup_minhash / dedup_recall — [[minhashTailCtes]] with the
    * list_intersect `minter` (set-exact; see that method's scaladoc).
    *
    * dedup_simhash — the primary buckets on SINGLE 8-bit band keys:
    * 8 bands × 256 keys over 1M docs at sf10 ≈ 490 docs per bucket,
    * a ~10¹⁰-row self-join intermediate. The scale form buckets on
    * the 28 ORDERED BYTE PAIRS (16-bit keys, the bucket 256× finer).
    * Output equality is deterministic pigeonhole, not probability:
    * hamming(a,b) ≤ 6 means the ≤ 6 differing bits touch at most 6 of
    * the 8 signature bytes, so at least TWO bytes are equal — the
    * pair therefore shares ≥ 1 single-byte bucket (primary finds it)
    * AND ≥ 1 byte-pair bucket (scale form finds it). Conversely both
    * forms apply the same `hamming ≤ 6` filter, so both emit exactly
    * the set {(a,b) : hamming ≤ 6} — data-independent equality. */
  def scaleOracle: Map[String, String] = Map(
    "dedup_minhash" -> graft.OracleSql.materialized(
      s"""WITH $docsSh0Ctes,
         |${minhashTailCtes(scale = true)}
         |SELECT id_a, id_b, jaccard FROM mh_pairs
         |ORDER BY id_a, id_b""".stripMargin,
      "docs", "sh0", "dsh", "shh", "doc_sh", "dh", "hi", "hil", "mharr",
      "mposts", "capped", "cand", "msizes", "dlists", "minter",
      "mh_pairs"),
    "dedup_recall" -> graft.OracleSql.materialized(
      s"""WITH $ngramOracleCtes,
         |$ngramOraclePairsCte,
         |${minhashTailCtes(scale = true)}
         |SELECT n_truth, n_found, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_truth AS recall,
         |  CAST(n_hit AS DOUBLE) / n_found AS precision
         |FROM (SELECT
         |  (SELECT count(1) FROM pairs) AS n_truth,
         |  (SELECT count(1) FROM mh_pairs) AS n_found,
         |  (SELECT count(1) FROM pairs p JOIN mh_pairs m
         |     ON p.id_a = m.id_a AND p.id_b = m.id_b) AS n_hit)""".stripMargin,
      "docs", "sh0", "sh", "sizes", "inter", "pairs", "dsh", "shh",
      "doc_sh", "dh", "hi", "hil", "mharr", "mposts", "capped", "cand",
      "msizes", "dlists", "minter", "mh_pairs"),
    "dedup_simhash" -> graft.OracleSql.materialized(
      s"""WITH ${simhashSigCtes(scale = true)},
         |cposts AS (
         |  SELECT doc_id, sig, CAST(c.i * 8 + c.j AS INT) AS band,
         |    CAST((${XxhSql.toU64("sig")})
         |        // (CAST(1 AS HUGEINT) << CAST(c.i * 8 AS INT)) % 256
         |      + 256 * ((${XxhSql.toU64("sig")})
         |        // (CAST(1 AS HUGEINT) << CAST(c.j * 8 AS INT)) % 256)
         |      AS BIGINT) AS key
         |  FROM sig CROSS JOIN (
         |    SELECT i.i, j.j FROM (SELECT unnest(range(0, 8)) AS i) i
         |    JOIN (SELECT unnest(range(0, 8)) AS j) j ON j.j > i.i) c)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM cposts a JOIN cposts b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,
      "docs", "w", "wc", "dw", "wh", "bits", "sig", "cposts"),
  )

  /** Margin diagnostics recorded next to a green stamp by
    * `tools/check_scale_form.py` (see `SparkEntry.oracleMarginProbes`).
    * Both probes ride the scale forms' own CTE chains (same generator
    * calls — they cannot drift from what they diagnose).
    *
    * The minhash-family τ=0.6 comparison divides INTEGER operands
    * (intersection and set sizes) that the primary and scale forms
    * derive by different routes (posting-join count vs list_intersect
    * length) but that are set-theoretically equal, so the division is
    * bit-identical whenever the integers are — the probes' value is
    * corpus drift detection: a bigger SF whose nearest candidate sits
    * AT the τ boundary (margin ~0) would flag that the gate's
    * greenness depends on that integer equality rather than slack.
    * dedup_simhash and multimodal_phash carry no probe: their
    * pipelines are pure integer arithmetic end to end (hamming ≤ 6,
    * cross-multiplied mean test) with no float division or round. */
  def marginProbes: Map[String, String] = Map(
    // nearest hashed-set jaccard to τ over the UNFILTERED candidate
    // set (mh_pairs applies the ≥ 0.6 cut; the probe must see both
    // sides of it)
    "dedup_minhash" -> graft.OracleSql.materialized(
      s"""WITH $docsSh0Ctes,
         |${minhashTailCtes(scale = true)}
         |SELECT min(abs(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) - 0.6))
         |    AS min_threshold_margin
         |FROM minter i JOIN msizes sa ON sa.doc_id = i.id_a
         |              JOIN msizes sb ON sb.doc_id = i.id_b""".stripMargin,
      "docs", "sh0", "dsh", "shh", "doc_sh", "dh", "hi", "hil", "mharr",
      "mposts", "capped", "cand", "msizes", "dlists", "minter"),
    // dedup_recall divides on BOTH sides of its comparison: the truth
    // set's exact n-gram jaccard (inter/sizes) and the found set's
    // hashed-set jaccard (minter/msizes) — one margin per side
    "dedup_recall" -> graft.OracleSql.materialized(
      s"""WITH $ngramOracleCtes,
         |${minhashTailCtes(scale = true)}
         |SELECT
         |  (SELECT min(abs(CAST(n_inter AS DOUBLE)
         |       / (sa.n_sh + sb.n_sh - n_inter) - 0.6))
         |   FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |              JOIN sizes sb ON sb.doc_id = id_b)
         |    AS min_truth_margin,
         |  (SELECT min(abs(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) - 0.6))
         |   FROM minter i JOIN msizes sa ON sa.doc_id = i.id_a
         |                 JOIN msizes sb ON sb.doc_id = i.id_b)
         |    AS min_found_margin""".stripMargin,
      "docs", "sh0", "sh", "sizes", "inter", "dsh", "shh",
      "doc_sh", "dh", "hi", "hil", "mharr", "mposts", "capped", "cand",
      "msizes", "dlists", "minter"),
  )
}
