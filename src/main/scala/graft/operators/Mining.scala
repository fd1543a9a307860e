package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Co-occurrence pair mining (frequent itemset pairs / "market
  * basket") — the recommender-and-curation primitive that turns a
  * transaction log into an item-affinity table.
  *
  * The quadratic danger is the per-basket pair fanout: an uncapped
  * basket of B items emits B(B−1)/2 pairs, and real logs have
  * pathological baskets (crawlers, bulk orders) that turn one key into
  * a straggler task. The standard mitigation — used by production
  * covisitation engines — is a deterministic PER-BASKET CONTRIBUTION
  * CAP: only each basket's first `MaxBasket` items (by item id — stable
  * under any partitioning) generate pairs, bounding every basket's
  * fanout at MaxBasket(MaxBasket−1)/2 while leaving small-basket
  * statistics untouched. The cap is applied BEFORE the items are
  * collected (a windowed rank-filter, orderkey-keyed), so no task ever
  * materializes an uncapped basket; it is mirrored exactly in the
  * oracle, so the capped semantics — not an approximation of the
  * uncapped ones — is what's verified.
  *
  * Plan shape: distinct (basket, item) → rank-cap window → per-basket
  * collect of ≤ MaxBasket sorted items → pairs generated IN-ROW
  * (shifted-slice transform, the `skipgram_pairs` trick — no self-join
  * shuffle) → ONE pair-keyed count aggregation with map-side combine.
  * The pair-count shuffle carries at most min(Σ fanouts, |items|²)
  * rows, keys are uniform 16-byte (a, b) pairs, and the support
  * threshold prunes the long tail at the aggregate, never the scan.
  */
object Mining {

  private val MaxBasket = 8
  private val MinSupport = 2

  /** Capped per-order baskets (l_orderkey, parts[≤MaxBasket] sorted) in
    * ONE orderkey-keyed aggregation: `collect_set` dedups inside the
    * same shuffle a DISTINCT would cost, `sort_array`+`slice` applies
    * the first-MaxBasket-by-id cap in-row — value-identical to the
    * previous distinct → rank-window → re-collect chain but with one
    * shuffle instead of three (measured 15.2× at the ×100 rehearsal
    * before; the window sorted 60 M rows per partition key). Memoized:
    * the pair build AND `assoc_rules`' cap-aware denominators consume
    * it. Built inside the `_shared_basket_pairs` bench line via
    * [[pairsCached]]. */
  private def baskets(s: SparkSession, d: String): DataFrame =
    graft.Memo.baskets(s, d) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasket)
          .as("parts"))
        .cache()
    }

  /** Capped (basket, item) memberships — the exploded view of
    * [[baskets]] (identical to the old distinct+rank-cap frame). */
  private def cappedItems(s: SparkSession, d: String): DataFrame =
    baskets(s, d)
      .select(col("l_orderkey"), explode(col("parts")).as("l_partkey"))

  /** Support-filtered co-occurrence pair counts (part_a < part_b,
    * n_orders ≥ MinSupport). The full capped-basket pipeline described
    * above. */
  private def pairCounts(s: SparkSession, d: String): DataFrame = {
    // pair generation via the codegen'd packed-pair kernel (the ngram
    // build's [[graft.dedup.PackedPairsExpr]]): one long per pair from
    // the already-sorted basket array, replacing a nested interpreted
    // HOF chain (two lambda dispatches + a struct allocation PER PAIR)
    // and halving the bytes the support-count shuffle moves
    baskets(s, d)
      .select(explode(
        graft.dedup.SignatureExprs.packedPairs(col("parts"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= MinSupport)
      .select(shiftrightunsigned(col("pk"), 31).as("part_a"),
        col("pk").bitwiseAND(lit((1L << 31) - 1)).as("part_b"),
        col("n_orders"))
  }

  /** The pair frame, memoized per (session, dir): `basket_pairs` and
    * `graph_triangles` both consume it — a curation pipeline mines the
    * affinity table once and feeds every downstream graph diagnostic
    * from it. Bench charges the build to `_shared_basket_pairs` (the
    * Dedup/KMeans convention); [[clearCache]] evicts. */
  def pairsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.basketPairs(s, d)(pairCounts(s, d).cache())

  /** Evict the memoized basket and pair frames; the next call rebuilds. */
  def clearCache(): Unit = graft.Memo.evict("Mining")

  /** PageRank iterated to CONVERGENCE — the production path behind the
    * `graph_pagerank` query's fixed two-round unroll (kept there because
    * the DuckDB oracle replays exactly two rounds). A fixed iteration
    * count is arbitrary at 100 TB: this runs the identical integer
    * micro-unit damped power step (see the query's scaladoc — truncating
    * `r div outdeg` mass, `150000 + (850000·Σin) div 10⁶` update, every
    * term exact in long) while max |Δrank| > `epsMicro`, bounded by
    * `maxIters`.
    *
    * Loop mechanics mirror [[graft.dedup.Dedup.connectedComponents]]:
    * the previous rank rides through the step as `__old`, so
    * convergence is a max-abs-diff aggregate on the SAME frame — one
    * job per round, no extra comparison join; `localCheckpoint(false)`
    * truncates lineage (the rank frame feeds both the contribution join
    * and the join-back — plan growth is exponential without it). Per
    * round the work is one node-keyed join of the rank frame onto the
    * (src, dst, od) edge list + one dst-keyed sum — linear in |edges|,
    * shuffle-partitioned on the node key; the delta aggregate is a
    * one-row reduction. On a real cluster swap localCheckpoint for
    * reliable checkpoints exactly as connectedComponents documents.
    *
    * `edges0` must carry (src, dst) with every node having outdeg ≥ 1
    * (no dangling-mass correction; the co-purchase graph is undirected
    * so this holds by construction). Returns (ranks(node, rank_micro),
    * itersRun, finalDeltaMicro) — callers assert
    * `finalDeltaMicro <= epsMicro` when they need proven convergence;
    * MiningSpec pins that the early exit binds on a fast-converging
    * fixture and the cap binds on a slow one. */
  def pageRankConverged(edges0: DataFrame, epsMicro: Long = 1000L,
      maxIters: Int = 20): (DataFrame, Int, Long) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(epsMicro >= 0, s"epsMicro must be >= 0, got $epsMicro")
    val edges = edges0.select(col("src"), col("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val ed = edges.join(outdeg, "src").cache()
    try {
      val nodes = outdeg.select(col("src").as("node"))
      var rank = nodes.select(col("node"), lit(1000000L).as("r"))
      var iters = 0
      var delta = Long.MaxValue
      while (delta > epsMicro && iters < maxIters) {
        val contrib = ed
          .join(rank.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("r div od")).as("in_mass"))
        val stepped = rank.join(contrib, Seq("node"), "left")
          .select(col("node"),
            // the 850000·in_mass product rides decimal(38,0) (like the
            // EMF exact paths): in long it overflows past in_mass ≈
            // 1.08e13 micro-units — a 10M+-node graph funneling into one
            // hub throws mid-iteration under ANSI. Through decimal the
            // product is exact to 10³⁸ (mass conservation bounds in_mass
            // by Σrank ≈ n·10⁶, so ~10²⁶ nodes) and the truncating div
            // returns the same long as the narrow form on every
            // in-domain input — bit-identical where both are defined.
            expr("150000L + (cast(850000 as decimal(38,0)) * " +
              "coalesce(in_mass, 0L)) div 1000000L")
              .as("r"),
            col("r").as("__old"))
        val next = stepped.localCheckpoint(false)
        delta = Option(next.agg(max(abs(col("r") - col("__old"))))
          .collect()(0).get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
        rank = next.drop("__old")
        iters += 1
      }
      (rank.select(col("node"), col("r").as("rank_micro")), iters, delta)
    } finally ed.unpersist(blocking = false)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Parts co-ordered in the same order, support ≥ 2 — the affinity
    // table a "frequently bought together" model trains on.
    "basket_pairs" -> ((s, d) =>
      pairsCached(s, d).orderBy(col("part_a"), col("part_b"))),

    // Triangle census of the co-purchase graph (edges = the support-≥2
    // pair frame): the density diagnostic that separates a genuinely
    // clustered affinity graph from hub noise. The quadratic danger is
    // wedge enumeration at hubs (a degree-D node yields D(D−1)/2
    // wedges); the standard fix — used by every distributed triangle
    // counter since Cohen's MapReduce construction — is DEGREE-ORDERED
    // ORIENTATION: direct each edge from its lower-(degree, id)
    // endpoint to the higher, so every out-degree is O(√|E|) and each
    // triangle has EXACTLY ONE vertex owning both oriented edges (its
    // min-rank corner) — counted once, no post-dedup, no D² hub blowup.
    // Plan shape: the KB degree frame broadcasts onto the edge scan,
    // the wedge self-join keys on the oriented source (bounded fanout
    // by construction), and closure is a semi join against the
    // canonical edge set. Everything downstream of the shared pair
    // frame is |E|-sized, never |corpus|.
    "graph_triangles" -> ((s, d) => {
      val e = pairsCached(s, d)
        .select(col("part_a").as("u"), col("part_b").as("v")) // u < v
      // deg and oriented each feed several count subtrees below —
      // persist the KB/|E|-sized frames so Catalyst doesn't replay the
      // degree shuffle + broadcast joins once per aggregate (measured
      // 3.5s → sub-second at sf0.1); the registry reclaims post-action
      val deg = e.select(col("u").as("x"))
        .unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dg"))
        .persist()
      graft.emf.EmfPlanner.registerPersisted(deg)
      val du = deg.select(col("x").as("u"), col("dg").as("du"))
      val dv = deg.select(col("x").as("v"), col("dg").as("dv"))
      val srcFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      // UNHINTED: the degree table is |V| rows and grows with the
      // graph — the u/v keys hash uniformly, AQE broadcasts small
      // graphs on its own
      val oriented = e.join(du, "u").join(dv, "v")
        .select(when(srcFirst, col("u")).otherwise(col("v")).as("src"),
          when(srcFirst, col("v")).otherwise(col("u")).as("dst"))
        .persist()
      graft.emf.EmfPlanner.registerPersisted(oriented)
      // wedge COUNT needs no join at all: Σ C(outdeg, 2) over sources
      val nWedges = oriented.groupBy(col("src"))
        .agg(count(lit(1)).as("od"))
        .agg(sum(expr("od * (od - 1) div 2")).as("n_wedges"))
      // the wedge join runs ONCE, only for closure
      val tri = oriented.select(col("src"), col("dst").as("w1"))
        .join(oriented.select(col("src"), col("dst").as("w2")), "src")
        .filter(col("w1") < col("w2"))
        .join(e.select(col("u").as("w1"), col("v").as("w2")),
          Seq("w1", "w2"), "left_semi")
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(nWedges)
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
        // oriented-wedge closure rate (exact integer ppm)
        .withColumn("closure_ppm",
          expr("n_triangles * 1000000 div n_wedges"))
    }),

    // Covisitation mining — the session-scoped variant of basket_pairs:
    // items "visited together" within a 30-minute activity session of
    // the raw event stream, the signal production recommenders actually
    // mine (baskets need an order id; covisitation manufactures one
    // from time gaps). Three stages, each with a bounded scale story:
    // (1) sessionization by gap islands — lag + running flag-sum over a
    // user-keyed window (uniform keys, one shuffle; NOT a global sort);
    // (2) distinct (user, session, item) with the same first-MaxBasket
    // per-session contribution cap as basket_pairs, applied before any
    // basket materializes; (3) in-row pair generation + one pair-keyed
    // count with map-side combine. Timestamps become integer epoch
    // seconds up front (session TZ is UTC in every entrypoint) so the
    // gap predicate and both engines' islands agree exactly.
    "covisitation" -> ((s, d) => {
      // try_cast: under ANSI a digit-free props row would ERROR on
      // cast('') instead of nulling out (the oracle already TRY_CASTs)
      val item =
        expr("try_cast(regexp_extract(props, '(\\\\d+)', 1) AS BIGINT)")
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("event_id"), item.as("item"))
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val sess = ev
        .withColumn("prev", lag(col("ts_s"), 1).over(wo))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts_s") - col("prev") > 1800L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("new_s")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val items = sess.select(col("user_id"), col("sess"), col("item"))
        .filter(col("item").isNotNull)   // digit-free props: drop, never rank
        .distinct()
      val rn = row_number().over(
        Window.partitionBy(col("user_id"), col("sess")).orderBy(col("item")))
      val baskets = items
        .withColumn("rn", rn).filter(col("rn") <= MaxBasket)
        .groupBy(col("user_id"), col("sess"))
        .agg(sort_array(collect_list(col("item"))).as("its"))
      baskets
        .select(explode(expr(
          """flatten(transform(its, (x, i) ->
            |  transform(slice(its, i + 2, size(its)),
            |    y -> named_struct('a', x, 'b', y))))""".stripMargin))
          .as("pr"))
        .groupBy(col("pr.a").as("item_a"), col("pr.b").as("item_b"))
        .agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= MinSupport)
        .orderBy(col("item_a"), col("item_b"))
    }),

    // PageRank on the co-purchase graph — the third iterative-operator
    // shape in the library (dedup_clusters propagates minima, emb_kmeans
    // recomputes centroids; this is weighted mass propagation). Two
    // unrolled damped power iterations, ENTIRELY in integer micro-units
    // (1.0 ≡ 10⁶): each node starts at 10⁶, a round sends
    // `r div outdeg` along every edge (truncating div — deterministic,
    // order-independent), and the damping update is
    // `150000 + (850000·Σincoming) div 10⁶` — the product through
    // decimal(38,0) so no graph this side of ~10²⁶ nodes can overflow
    // it, every step exact and deterministic, so the DuckDB oracle
    // replays both iterations bit-for-bit, like emb_kmeans' unrolled
    // Lloyd's.
    // Plan shape per round: one node-keyed join of the rank frame onto
    // the (src, dst, outdeg)-annotated edge list + one dst-keyed sum —
    // the textbook distributed PageRank step; the edge frame is built
    // once, persisted, and reclaimed post-action. The undirected graph
    // has no dangling nodes (every node has outdeg ≥ 1), so no
    // teleport-mass correction term is needed.
    "graph_pagerank" -> ((s, d) => {
      val e = pairsCached(s, d)
        .select(col("part_a").as("u"), col("part_b").as("v"))
      val edges = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      val ed = edges.join(outdeg, "src").persist()
      graft.emf.EmfPlanner.registerPersisted(ed)
      val nodes = outdeg.select(col("src").as("node"))
      var rank = nodes.select(col("node"), lit(1000000L).as("r"))
      for (_ <- 1 to 2) {
        val contrib = ed
          .join(rank.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("r div od")).as("in_mass"))
        rank = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            // decimal(38,0) product — same overflow headroom as
            // [[pageRankConverged]]; value-identical to the long form
            // on every input both can represent
            expr("150000L + (cast(850000 as decimal(38,0)) * " +
              "coalesce(in_mass, 0L)) div 1000000L")
              .as("r"))
      }
      rank.select(col("node"), col("r").as("rank_micro"))
        .orderBy(col("node"))
      // production runs iterate to CONVERGENCE instead of a fixed
      // unroll — [[pageRankConverged]] is that path (delta-based early
      // exit under a max-iteration cap); this entry stays at two
      // unrolled rounds because that is what the DuckDB oracle replays
      // bit-for-bit
    }),

    // The CONVERGED PageRank path ([[pageRankConverged]]) under the
    // checked surface: epsMicro = 0 and a 3-round cap, so the loop runs
    // its delta aggregate each round and exits either at the cap or at a
    // fixed point. The oracle replays THREE unrolled rounds — equal to
    // the engine's result in BOTH exit regimes: at the cap trivially,
    // and on early exit because delta = 0 means the rank vector is a
    // fixed point of the step, so the oracle's remaining replayed rounds
    // reproduce it unchanged. That makes the convergence machinery
    // (per-round delta aggregate, localCheckpoint lineage truncation,
    // decimal-safe update) oracle-checked, not just spec-pinned.
    "graph_pagerank_converged" -> ((s, d) => {
      val e = pairsCached(s, d)
        .select(col("part_a").as("u"), col("part_b").as("v"))
      val edges = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      val (ranks, _, _) = pageRankConverged(edges, epsMicro = 0L, maxIters = 3)
      ranks.orderBy(col("node"))
    }),

    // Top session paths — the product-analytics "what do users do in
    // what order" query: 3-step event-type n-grams within the same
    // 30-minute gap session, counted corpus-wide, deterministic top-20.
    // Both windows (gap islands, then the two leads) share ONE
    // user-keyed shuffle — the session window's (user, sess) keys are
    // prefixed by the partition key, so Catalyst inserts no second
    // exchange; the path census aggregation carries at most
    // |event types|³ keys with map-side combine. The trigram is built
    // by lead(), not a per-session collect — no task ever materializes
    // a whole session.
    "event_paths" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("event_id"), col("event_type"))
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val sess = ev
        .withColumn("prev", lag(col("ts_s"), 1).over(wo))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts_s") - col("prev") > 1800L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("new_s")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ws = Window.partitionBy(col("user_id"), col("sess"))
        .orderBy(col("ts_s"), col("event_id"))
      sess
        .withColumn("t2", lead(col("event_type"), 1).over(ws))
        .withColumn("t3", lead(col("event_type"), 2).over(ws))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),

    // Association rules over the shared pair frame: confidence and lift
    // in exact integer ppm, both rule directions, deterministic top-20.
    // Item supports use the SAME first-8-by-id basket cap as the pair
    // frame (a cap-less denominator would overstate confidence for
    // capped-out items); the |items|-sized support frames join
    // UNHINTED (the item dimension is fact-scaled in TPC-H — SF×200k
    // parts — so a forced broadcast grows with the data; AQE still
    // broadcasts small catalogs), the 1-row basket census cross-joins,
    // and the >2⁶³ lift product rides DECIMAL(38,0)/HUGEINT like
    // feature_corr. Cost beyond the memoized pair build: one
    // window-capped distinct + two keyed probes over the |pairs| frame.
    "assoc_rules" -> ((s, d) => {
      val capped = cappedItems(s, d)
      // size-gated share (r17): the support frame probes BOTH rule
      // directions — un-materialized, the basket explode + item agg
      // runs twice.
      val itemN = graft.PlanShare.shared(capped.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_item")))
      // basket census straight off the memoized basket frame: one row
      // per basket by construction, so count(1) == the old
      // count_distinct(l_orderkey) over the exploded memberships
      // without the explode + exact-distinct state
      val nb = baskets(s, d).agg(count(lit(1)).as("n_baskets"))
      val pairs = pairsCached(s, d)
      val both = pairs.select(col("part_a").as("antecedent"),
          col("part_b").as("consequent"), col("n_orders"))
        .unionAll(pairs.select(col("part_b").as("antecedent"),
          col("part_a").as("consequent"), col("n_orders")))
      both
        .join(itemN.select(col("l_partkey").as("antecedent"),
          col("n_item").as("n_ante")), "antecedent")
        .join(itemN.select(col("l_partkey").as("consequent"),
          col("n_item").as("n_cons")), "consequent")
        .crossJoin(broadcast(nb))
        .selectExpr("antecedent", "consequent", "n_orders AS n_pair",
          "n_ante", "n_cons",
          "(n_orders * 1000000L) div n_ante AS conf_ppm",
          """CAST((CAST(n_orders AS DECIMAL(38,0)) * n_baskets * 1000000)
            |  div (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)
            |  AS lift_ppm""".stripMargin)
        .orderBy(col("conf_ppm").desc, col("lift_ppm").desc,
          col("antecedent"), col("consequent"))
        .limit(20)
    }),

    // Last-touch marketing attribution: each purchase credited to the
    // user's most recent preceding non-purchase event ("direct" if
    // none). ONE user-keyed window with an ignore-nulls last() over
    // rows [-∞, -1] — the per-user sort is the only data-sized work,
    // and it shares the same (user, ts) shuffle shape every other
    // session op uses; the census output is ≤ |event types| rows.
    // Deterministic tiebreak (ts, event_id), integer cents revenue.
    "attribution_last_touch" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("src",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("src"), lit("direct")).as("attributed_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_cents"))
        .orderBy(col("attributed_type"))
    }),

    // Linear (multi-touch) attribution: each purchase's revenue splits
    // EQUALLY across every preceding non-purchase touch in the user's
    // history ("direct" when there is none). The naive form joins every
    // purchase to all its preceding touches — a quadratic per-user
    // fanout. The suffix-sum reformulation needs no join at all: a
    // purchase with k preceding touches gives s = cents·10⁶ div k
    // micro-cents to EACH of them, so the credit a touch receives is
    // exactly the suffix sum of s over the rows after it — two frames
    // (preceding-count, following-sum) on ONE user-keyed sort, the same
    // shuffle shape as attribution_last_touch. Integer micro-cents with
    // sign-explicit truncating division: Spark's div truncates toward
    // zero while DuckDB's // floors, so a negative value (refund) would
    // silently diverge between engines — both sides therefore compute
    // sign(cents)·(|cents|·10⁶ div k), identical on every input. The
    // < k·10⁻⁶-cent rounding loss per purchase is pinned by spec.
    "attribution_linear" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val ordered = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val flagged = ev
        .withColumn("k", count(when(col("event_type") =!= "purchase", 1))
          .over(ordered.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("share",
          when(col("event_type") === "purchase" && col("k") > 0,
            expr("""CASE WHEN cents >= 0 THEN (cents * 1000000L) div k
                   |ELSE -((-cents * 1000000L) div k) END""".stripMargin))
            .otherwise(lit(0L)))
        .withColumn("credit", sum(col("share"))
          .over(ordered.rowsBetween(1, Window.unboundedFollowing)))
      // one pass: touches carry their suffix-sum credit, zero-touch
      // purchases fold into the 'direct' bucket, credited purchases
      // (attributed_type NULL) drop — no union, so the log is scanned
      // and user-sorted ONCE (the union form paid both twice)
      flagged
        .select(
          when(col("event_type") =!= "purchase", col("event_type"))
            .otherwise(when(col("k") === 0, lit("direct")))
            .as("attributed_type"),
          when(col("event_type") =!= "purchase",
            coalesce(col("credit"), lit(0L)))
            .otherwise(col("cents") * 1000000L).as("uc"))
        .filter(col("attributed_type").isNotNull)
        .groupBy(col("attributed_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("uc")).as("credit_ucents"))
        .orderBy(col("attributed_type"))
    }),
  )

  // the graph oracles' shared edge pipeline and unrolled rank rounds
  // are multiply-referenced CTEs — see OracleSql.materialized
  import graft.OracleSql.materialized

  def oracle: Map[String, String] = Map(
    // identical islands (floor-epoch seconds, event_id tiebreak),
    // identical lead-built trigrams, identical (n DESC, path) order
    "event_paths" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    event_id, event_type
        |  FROM events),
        |fl AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ts_s - prev > 1800
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT *, lag(ts_s) OVER (PARTITION BY user_id
        |          ORDER BY ts_s, event_id) AS prev FROM ev)),
        |se AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM fl),
        |p AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM se
        |  WINDOW w AS (PARTITION BY user_id, sess ORDER BY ts_s, event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |  count(1) AS n
        |FROM p WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // identical cap-aware supports, both rule directions, HUGEINT lift
    "assoc_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM it)
        |  WHERE rn <= 8),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(count(1) AS BIGINT) AS n_orders
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |items AS (
        |  SELECT l_partkey, CAST(count(1) AS BIGINT) AS n_item
        |  FROM capped GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |         AS n_baskets FROM capped),
        |rules AS (
        |  SELECT part_a AS antecedent, part_b AS consequent, n_orders
        |  FROM pairs
        |  UNION ALL
        |  SELECT part_b, part_a, n_orders FROM pairs)
        |SELECT antecedent, consequent, n_orders AS n_pair,
        |  ia.n_item AS n_ante, ic.n_item AS n_cons,
        |  (n_orders * 1000000) // ia.n_item AS conf_ppm,
        |  CAST((CAST(n_orders AS HUGEINT) * nb.n_baskets * 1000000)
        |    // (CAST(ia.n_item AS HUGEINT) * ic.n_item) AS BIGINT)
        |    AS lift_ppm
        |FROM rules
        |JOIN items ia ON rules.antecedent = ia.l_partkey
        |JOIN items ic ON rules.consequent = ic.l_partkey
        |CROSS JOIN nb
        |ORDER BY conf_ppm DESC, lift_ppm DESC, antecedent, consequent
        |LIMIT 20""".stripMargin,
    // identical window: ignore-nulls last over [-inf, -1)
    "attribution_last_touch" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS cents
        |  FROM events),
        |attr AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src
        |  FROM ev)
        |SELECT coalesce(src, 'direct') AS attributed_type,
        |  count(1) AS n_purchases, CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM attr WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical preceding-count and suffix-sum windows, identical
    // truncating micro-cent division (positive operands: div ≡ //)
    "attribution_linear" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS cents
        |  FROM events),
        |fl AS (
        |  SELECT *,
        |    count(CASE WHEN event_type <> 'purchase' THEN 1 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS k
        |  FROM ev),
        |sh AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND k > 0
        |      THEN CASE WHEN cents >= 0 THEN (cents * 1000000) // k
        |           ELSE -((-cents * 1000000) // k) END
        |      ELSE 0 END AS share
        |  FROM fl),
        |cr AS (
        |  SELECT *, sum(share) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS credit
        |  FROM sh)
        |SELECT attributed_type, count(1) AS n_events,
        |  CAST(sum(uc) AS BIGINT) AS credit_ucents
        |FROM (
        |  SELECT CASE WHEN event_type <> 'purchase' THEN event_type
        |              WHEN k = 0 THEN 'direct' END AS attributed_type,
        |         CASE WHEN event_type <> 'purchase' THEN coalesce(credit, 0)
        |              ELSE cents * 1000000 END AS uc
        |  FROM cr)
        |WHERE attributed_type IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical cap (first 8 distinct parts by id), identical support
    "basket_pairs" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM it)
        |  WHERE rn <= 8)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(1) AS BIGINT) AS n_orders
        |FROM capped a JOIN capped b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(1) >= 2
        |ORDER BY part_a, part_b""".stripMargin,
    // identical edges, identical (degree, id) orientation, identical
    // min-rank-corner wedge counting
    "graph_triangles" -> materialized(
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM it)
        |  WHERE rn <= 8),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |deg AS (
        |  SELECT x, count(1) AS dg FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |o AS (
        |  SELECT
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |         THEN e.u ELSE e.v END AS src,
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |         THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
        |w AS (
        |  SELECT o1.src, o1.dst AS w1, o2.dst AS w2
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
        |t AS (
        |  SELECT 1 FROM w
        |  WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.w1 AND e.v = w.w2))
        |SELECT
        |  (SELECT CAST(count(1) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(1) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(count(1) AS BIGINT) FROM w) AS n_wedges,
        |  (SELECT CAST(count(1) AS BIGINT) FROM t) AS n_triangles,
        |  CAST((SELECT count(1) FROM t) * 1000000
        |    // (SELECT count(1) FROM w) AS BIGINT) AS closure_ppm""".stripMargin,
      "it", "capped", "e", "deg", "o", "w", "t"),
    // identical integer epoch seconds, identical gap islands (total
    // order pinned by the event_id tiebreak), identical cap + support.
    // floor() before the BIGINT cast: DuckDB's epoch() keeps the
    // fractional second and its cast ROUNDS, Spark's unix_timestamp
    // truncates.
    "covisitation" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    event_id,
        |    TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS item
        |  FROM events),
        |fl AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ts_s - prev > 1800
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT *, lag(ts_s) OVER (PARTITION BY user_id
        |          ORDER BY ts_s, event_id) AS prev FROM ev)),
        |se AS (
        |  SELECT user_id, item,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM fl),
        |it AS (SELECT DISTINCT user_id, sess, item FROM se
        |       WHERE item IS NOT NULL),
        |capped AS (
        |  SELECT user_id, sess, item FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY item) AS rn FROM it)
        |  WHERE rn <= 8)
        |SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(1) AS BIGINT) AS n_sessions
        |FROM capped a JOIN capped b
        |  ON a.user_id = b.user_id AND a.sess = b.sess AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(1) >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    // identical edges, identical truncating-div mass propagation, both
    // iterations unrolled
    "graph_pagerank" -> materialized(
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM it)
        |  WHERE rn <= 8),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |ed AS (SELECT u AS src, v AS dst FROM e
        |       UNION ALL SELECT v, u FROM e),
        |od AS (SELECT src, count(1) AS od FROM ed GROUP BY 1),
        |n AS (SELECT src AS node FROM od),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
        |c1 AS (
        |  SELECT ed.dst AS node, sum(r0.r // od.od) AS in_mass
        |  FROM ed JOIN od USING (src) JOIN r0 ON r0.node = ed.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node,
        |    CAST(150000 + (850000 * coalesce(c1.in_mass, 0)) // 1000000
        |      AS BIGINT) AS r
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT ed.dst AS node, sum(r1.r // od.od) AS in_mass
        |  FROM ed JOIN od USING (src) JOIN r1 ON r1.node = ed.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node,
        |    CAST(150000 + (850000 * coalesce(c2.in_mass, 0)) // 1000000
        |      AS BIGINT) AS r
        |  FROM n LEFT JOIN c2 USING (node))
        |SELECT node, r AS rank_micro FROM r2 ORDER BY node""".stripMargin,
      "it", "capped", "e", "ed", "od", "n", "r0", "c1", "r1", "c2", "r2"),
    // three unrolled rounds — equals the engine's delta-exit loop under
    // its 3-round cap in both exit regimes (a delta-0 early exit is a
    // fixed point, which replayed rounds reproduce unchanged)
    "graph_pagerank_converged" -> materialized(
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rn FROM it)
        |  WHERE rn <= 8),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(1) >= 2),
        |ed AS (SELECT u AS src, v AS dst FROM e
        |       UNION ALL SELECT v, u FROM e),
        |od AS (SELECT src, count(1) AS od FROM ed GROUP BY 1),
        |n AS (SELECT src AS node FROM od),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
        |c1 AS (
        |  SELECT ed.dst AS node, sum(r0.r // od.od) AS in_mass
        |  FROM ed JOIN od USING (src) JOIN r0 ON r0.node = ed.src
        |  GROUP BY 1),
        |r1 AS (
        |  SELECT n.node,
        |    CAST(150000 + (850000 * coalesce(c1.in_mass, 0)) // 1000000
        |      AS BIGINT) AS r
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT ed.dst AS node, sum(r1.r // od.od) AS in_mass
        |  FROM ed JOIN od USING (src) JOIN r1 ON r1.node = ed.src
        |  GROUP BY 1),
        |r2 AS (
        |  SELECT n.node,
        |    CAST(150000 + (850000 * coalesce(c2.in_mass, 0)) // 1000000
        |      AS BIGINT) AS r
        |  FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (
        |  SELECT ed.dst AS node, sum(r2.r // od.od) AS in_mass
        |  FROM ed JOIN od USING (src) JOIN r2 ON r2.node = ed.src
        |  GROUP BY 1),
        |r3 AS (
        |  SELECT n.node,
        |    CAST(150000 + (850000 * coalesce(c3.in_mass, 0)) // 1000000
        |      AS BIGINT) AS r
        |  FROM n LEFT JOIN c3 USING (node))
        |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin,
      "it", "capped", "e", "ed", "od", "n", "r0", "c1", "r1", "c2", "r2",
      "c3", "r3"),
  )
}
