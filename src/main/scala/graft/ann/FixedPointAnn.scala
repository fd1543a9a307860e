package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-exact IVF / PQ / IVF-PQ approximate-nearest-neighbor search on
  * the 2⁻¹⁰ fixed-point grid (the [[KMeans]] exactness construction,
  * extended to subspace codebooks).
  *
  * [[Ivf]] and [[Pq]] keep the production float shapes (K=256 byte
  * codes, larger iteration counts) with spec-pinned recall; THESE
  * variants put every training and search step on the integer grid so
  * the full pipeline — codebook training, encoding, probe selection,
  * ADC scan, exact rescoring — replays bit-for-bit in DuckDB and the
  * driver hash-checks the result like any relational query. Ranking by
  * integer squared L2 is ORDER-EQUIVALENT to cosine here because the
  * corpus embeddings are unit-norm (‖a−b‖² = 2−2·cosθ); recall against
  * the float `knn_brute` contract is pinned in FixedPointAnnSpec.
  *
  * One generalization does all three ops: '''grouped subspace Lloyd'''.
  * Split the d=64 space into `mCount` subspaces (mCount=1 recovers
  * whole-vector k-means = the IVF coarse quantizer; mCount=8 gives PQ
  * codebooks) and run the [[KMeans.iterate]] loop with (m) joined into
  * every key: assignment folds over a broadcast per-subspace centroid
  * array IN-ROW (zero shuffle), the update is a (m, cell, pos)-keyed
  * integer partial aggregation, and `sum div count` lands centroids
  * back on the grid with no accumulated error.
  *
  * Scale shapes (the parts that must survive 100 TB):
  *  - training touches the corpus once per Lloyd pass as a broadcast
  *    map (codebooks are KBs; at a real deployment the training input
  *    is a bounded sample exactly as in [[Ivf.maxTrainSample]] — here
  *    the corpus IS below that bound, so the oracle can replay it);
  *  - the PQ ADC scan is in-row: per-query distance tables broadcast
  *    as maps, a candidate's distance is M map lookups folded over its
  *    code array — no join, no shuffle, no raw-vector access;
  *  - IVF-PQ candidates come only from probed cells (the cell column
  *    is exactly what you'd persist partitioned-by so probes prune at
  *    the file level — proven for this layout in FixedPointAnnSpec);
  *  - every window below is partitioned by query id except the k-row
  *    centroid-init LIMIT frame (bounded; pinned in GlobalWindowSpec).
  *
  * Reference anchor: the reference engine has no ANN operator; this
  * family is part of the training-data-pipeline surface
  * (SURVEY.md §2.2). IVF-PQ follows Jégou et al. 2011 §IV (here coding
  * raw vectors, not residuals: residual encoding needs a float
  * subtraction between grid points that would leave the integer grid;
  * the accuracy delta at nlist=16 is absorbed by the 4k exact rescore).
  */
object FixedPointAnn {

  private val Dim = 64
  /** IVF cells and probe width (probes scan ≈ Nprobe/Nlist of the corpus). */
  val Nlist = 16
  val Nprobe = 4
  /** PQ: M subspaces of Dim/M dims, Kpq-entry codebook each. */
  val M = 8
  val Kpq = 64
  val TopK = 3
  /** Exact-rescore pool multiplier (top TopK·Rescore ADC candidates).
    * Sized from the measured ADC-rank distribution of true top-3
    * neighbors on the near-uniform test corpus (worst rank 46 at 6-bit
    * codes): pool 48 recovers the full exact top-3. */
  val Rescore = 16
  private val NQueries = 5
  private val Iters = 2

  /** Integer squared L2 between two quantized vectors (≤ 2²⁸ at d=64,
    * exact in long, order-independent). Codegen'd kernel
    * ([[VecFpExprs]]); value-identical to the HOF
    * `aggregate(zip_with(...))` spec it replaced (FixedPointAnnSpec
    * replays every emitted dist in plain Scala). */
  private def sqDistFp(a: Column, b: Column): Column =
    VecFpExprs.sqDistFp(a, b)

  /** Codebook-training sample bound: training vectors are those with
    * `vec_id < MaxTrain` — a deterministic id-prefix cut that reaches
    * the parquet scan as a pushed filter (an `orderBy().limit()` prefix
    * funnels a single-reducer top-k merge — measured 3× SLOWER than
    * full-corpus training at sf10 — while the filter costs nothing).
    * Any corpus at or below the bound trains on everything
    * (sf0.01/sf0.1 results are bit-unchanged); any corpus above it
    * trains at a corpus-independent cost (the [[Ivf.maxTrainSample]]
    * contract). The FINAL assignment pass still covers the whole
    * corpus — searching must index every vector; only the centroid
    * fitting is sampled, exactly like every production ANN trainer. */
  val MaxTrain = 1 << 16

  /** Grouped subspace Lloyd: `Iters` unrolled iterations. Intermediate
    * rounds assign the [[MaxTrain]]-bounded training prefix and refit
    * centroids from it; the LAST round assigns the full corpus against
    * the trained centroids. Returns (codes, centroids): `codes` is the
    * final full-corpus per-subspace assignment (vec_id, m, sq, cell,
    * dist) and `centroids` the (m, cell, qc) frame that assignment used
    * — the searchable model (probe targets / ADC codebooks). Init is
    * the first k vectors by id (ties impossible), argmin ties break to
    * the lowest cell, exactly as [[KMeans.iterate]]. */
  private[ann] def lloydSub(e: DataFrame, mCount: Int, k: Int): (DataFrame, DataFrame) = {
    val dsub = Dim / mCount
    def subspaces(df: DataFrame): DataFrame = df
      .select(col("vec_id"), explode(sequence(lit(0), lit(mCount - 1))).as("m"),
        col("qe"))
      .select(col("vec_id"), col("m"),
        slice(col("qe"), col("m") * dsub + 1, lit(dsub)).as("sq"))
    val subTrain = subspaces(e.filter(col("vec_id") < MaxTrain))
    val subAll = subspaces(e)
    val w = Window.orderBy(col("vec_id")) // k-row LIMIT frame: bounded
    val firstK = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), (row_number().over(w) - 1).cast("int").as("cell"))
    var cent = subTrain.join(broadcast(firstK), "vec_id")
      .select(col("m"), col("cell"), col("sq").as("qc"))
    var codes: DataFrame = null
    for (i <- 1 to Iters) {
      // in-row assignment: per-subspace centroid arrays broadcast, the
      // argmin folds over the cell-ascending array (strict < ≡ lowest
      // cell on ties); nothing shuffles
      val centArr = cent.groupBy(col("m"))
        .agg(sort_array(collect_list(struct(col("cell"), col("qc")))).as("cents"))
      val target = if (i < Iters) subTrain else subAll
      codes = target.join(broadcast(centArr), "m")
        .select(col("vec_id"), col("m"), col("sq"),
          // codegen'd argmin kernel — strict <, ties to the lowest cell
          // (cents is cell-ascending), identical to the HOF fold spec
          VecFpExprs.argMinCell(col("sq"), col("cents")).as("x"))
        .select(col("vec_id"), col("m"), col("sq"),
          col("x.cell").as("cell"), col("x.dist").as("dist"))
      if (i < Iters)
        cent = codes
          .select(col("m"), col("cell"), posexplode(col("sq")).as(Seq("pos", "q")))
          .groupBy(col("m"), col("cell"), col("pos"))
          .agg(expr("sum(q) div count(1)").as("c"))
          .groupBy(col("m"), col("cell"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("c")))),
            s => s.getField("c")).as("qc"))
    }
    (codes, cent)
  }

  /** Trained (codes, centroids) per (session, dir, mCount, k), memoized:
    * knn_ivfpq consumes BOTH the coarse quantizer knn_ivf trains and the
    * subspace codebooks knn_pq trains — a real deployment trains each
    * model once and serves every index build and query from it, so
    * retraining per consumer is the dishonest shape (the
    * `assignmentCached` convention). Bench charges the build to its own
    * `_shared_ann_models` line ([[trainModels]]); [[graft.Memo]] evicts. */
  def modelCached(s: SparkSession, d: String, mCount: Int, k: Int): (DataFrame, DataFrame) =
    graft.Memo.annModels(s, (d, mCount, k)) {
      val (codes, cent) = lloydSub(KMeans.quantized(s, d), mCount, k)
      (codes.cache(), cent.cache())
    }

  /** The `_shared_ann_models` line: train both models and count them,
    * centroids FIRST — the k-row training frames materialize cheaply, then
    * each full-corpus code frame rewrites its centroid subtree to the
    * cached InMemoryRelation instead of re-running the Lloyd fit. */
  private[graft] def trainModels(s: SparkSession, d: String): Long = {
    val (c1, g1) = modelCached(s, d, 1, Nlist)
    val (c2, g2) = modelCached(s, d, M, Kpq)
    Seq(g1, g2, c1, c2).map(_.count()).sum
  }

  /** The NQueries probe vectors: (qid, qq). */
  private def queryVecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qe").as("qq"))

  /** Top-Nprobe coarse cells per query (qid, qq, cell): distance to
    * every centroid of the broadcast model, rank ties to lowest cell. */
  private def probes(qs: DataFrame, coarse: DataFrame): DataFrame = {
    val centArr = coarse
      .agg(sort_array(collect_list(struct(col("cell"), col("qc")))).as("cents"))
    qs.crossJoin(broadcast(centArr))
      .select(col("qid"), col("qq"), explode(col("cents")).as("c"))
      .select(col("qid"), col("qq"), col("c.cell").as("cell"),
        sqDistFp(col("qq"), col("c.qc")).as("cdist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cell"))))
      .filter(col("rn") <= Nprobe)
      .select(col("qid"), col("qq"), col("cell"))
  }

  /** Per-vector code array (8 codes, subspace-ordered). */
  private def codeArrays(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cell")))),
        s => s.getField("cell")).as("codes"))

  /** Per-query ADC tables as a broadcastable map slot(m·Kpq+cell) → the
    * partial squared distance between the query's m-th subvector and
    * codebook entry cell. */
  private def adcTables(qs: DataFrame, books: DataFrame): DataFrame = {
    val dsub = Dim / M
    val qsub = qs
      .select(col("qid"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("qq"))
      .select(col("qid"), col("m"),
        slice(col("qq"), col("m") * dsub + 1, lit(dsub)).as("sq"))
    qsub.join(broadcast(books), "m")
      .select(col("qid"),
        (col("m") * Kpq + col("cell")).cast("int").as("slot"),
        sqDistFp(col("sq"), col("qc")).as("pd"))
      .groupBy(col("qid"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("pd")))).as("dt"))
  }

  /** In-row ADC distance: M map lookups folded over the code array
    * (codegen'd kernel — one primitive entry scan instead of M
    * interpreted `element_at` passes over the unsorted MapData). */
  private def adcDist(codes: Column, dt: Column): Column =
    VecFpExprs.adcDist(codes, dt, Kpq)

  private def topKBy(df: DataFrame, ord: Column): DataFrame =
    df.withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(ord, col("vec_id"))))
      .filter(col("rnk") <= TopK)

  /** IVF: probe Nprobe of Nlist cells, score candidates exactly. */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val e = KMeans.quantized(s, d)
    val (assigned, coarse) = modelCached(s, d, 1, Nlist)
    val pr = probes(queryVecs(e), coarse)
    val cand = assigned.select(col("vec_id"), col("cell"), col("sq"))
      .join(broadcast(pr), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sqDistFp(col("qq"), col("sq")).as("dist"))
    topKBy(cand, col("dist"))
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"), col("dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** SRP-LSH bits per band / band count for [[knnLshFp]]. Pinned (not
    * srpParams-adaptive) so the oracle replays the same plane matrix at
    * every sf — the [[Nlist]]/[[M]] convention; production banding stays
    * adaptive via [[Similarity.srpParams]]. 2¹⁰ buckets ⇒ bucket size
    * grows ∝ n here, while the adaptive path holds it ~constant. Miss
    * probability for a planted near-dup (cos ≈ 0.995) over 8 bands of
    * 10 planes is (1−0.968¹⁰)⁸ ≈ 3.5e-5. */
  val LshBits = 10
  val LshBands = 8

  /** SRP-LSH search on the integer grid: band keys from the sign of
    * INTEGER projections ([[graft.dedup.SrpBandsFpExpr]] — exact,
    * order-independent, so the hash-dependent candidate set replays
    * bit-for-bit in SQL, graduating the query from the rows-only
    * check its float twin [[Similarity.knnLsh]] needed). Query bands
    * broadcast against the corpus banding; candidates scored exactly
    * by integer squared L2; same (dist, nid) ranking as knn_ivf. */
  def knnLshFp(s: SparkSession, d: String): DataFrame = {
    val e = KMeans.quantized(s, d)
    val banded = e.select(col("vec_id"),
      posexplode(graft.dedup.SignatureExprs.srpBandsFp(
        col("qe"), LshBands, LshBits)).as(Seq("band", "bk")))
    val qBands = banded.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("band"), col("bk"))
    val cand = banded.join(broadcast(qBands), Seq("band", "bk"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .dropDuplicates("qid", "vec_id")
    val scored = cand
      .join(e.select(col("vec_id").as("qid"), col("qe").as("qq")), Seq("qid"))
      .join(e, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        sqDistFp(col("qq"), col("qe")).as("dist"))
    topKBy(scored, col("dist"))
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"), col("dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** PQ: compressed-domain linear scan (in-row ADC), exact rescore of
    * the top TopK·Rescore. */
  def knnPq(s: SparkSession, d: String): DataFrame = {
    val e = KMeans.quantized(s, d)
    val (codes, books) = modelCached(s, d, M, Kpq)
    val qs = queryVecs(e)
    val scan = codeArrays(codes)
      .crossJoin(broadcast(adcTables(qs, books).join(qs, "qid")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qq"), col("vec_id"),
        adcDist(col("codes"), col("dt")).as("adc"))
    val pool = scan.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= TopK * Rescore)
    val rescored = pool.join(e, "vec_id")
      .select(col("qid"), col("vec_id"), col("adc"),
        sqDistFp(col("qq"), col("qe")).as("dist"))
    topKBy(rescored, col("dist"))
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"),
        col("adc"), col("dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** IVF-PQ: ADC scan restricted to candidates in the probed coarse
    * cells — the realistic 100 TB ANN shape (cells prune at file level,
    * ADC touches codes only, rescore touches TopK·Rescore raw rows). */
  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = KMeans.quantized(s, d)
    val (assigned, coarse) = modelCached(s, d, 1, Nlist)
    val (codes, books) = modelCached(s, d, M, Kpq)
    val qs = queryVecs(e)
    val pr = probes(qs, coarse)
    val cand = assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(pr.select(col("qid"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
    val scan = cand.join(codeArrays(codes), "vec_id")
      .join(broadcast(adcTables(qs, books)), "qid")
      .select(col("qid"), col("vec_id"),
        adcDist(col("codes"), col("dt")).as("adc"))
    val pool = scan.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= TopK * Rescore)
    val rescored = pool.join(e, "vec_id").join(broadcast(qs), "qid")
      .select(col("qid"), col("vec_id"), col("adc"),
        sqDistFp(col("qq"), col("qe")).as("dist"))
    topKBy(rescored, col("dist"))
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"),
        col("adc"), col("dist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Exact fixed-point brute-force top-k — the ground truth the recall
    * metric is computed against. Queries broadcast against one corpus
    * scan; partial WindowGroupLimit keeps per-task sorts at k. */
  private def bruteFp(s: SparkSession, d: String): DataFrame = {
    val e = KMeans.quantized(s, d)
    val cand = e.crossJoin(broadcast(queryVecs(e)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        sqDistFp(col("qq"), col("qe")).as("dist"))
    topKBy(cand, col("dist"))
      .select(col("qid"), col("vec_id").as("nid"), col("rnk"))
  }

  /** ANN eval harness: recall@k and MRR of the IVF-PQ index against the
    * exact integer brute force — the acceptance metric every index
    * deployment gates on, expressed as a query so the driver
    * hash-checks it. recall_ppm = |approx ∩ true| / (n·k); mrr_sum_ppm
    * = Σ_q 10⁶ div (approx rank of q's TRUE nearest neighbor) (0 when
    * missed) — all integer, replayed exactly. Costs: the brute side is
    * one corpus scan against broadcast queries (it IS knn_brute's
    * shape); the approx side reuses the cached models; the metric join
    * touches n·k rows. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val truth = bruteFp(s, d)
    val approx = knnIvfPq(s, d).select(col("qid"), col("nid"), col("rnk"))
    val hits = truth.join(approx.select(col("qid"), col("nid")),
        Seq("qid", "nid")).agg(count(lit(1)).as("n_hits"))
    val mrr = truth.filter(col("rnk") === 1)
      .join(approx.withColumnRenamed("rnk", "arnk"), Seq("qid", "nid"), "left")
      .agg(sum(coalesce(expr("1000000 div arnk"), lit(0L))).as("mrr_sum_ppm"),
        count(lit(1)).as("n_queries"))
    hits.crossJoin(mrr)
      .select(lit(TopK).as("k"), col("n_queries"),
        expr(s"n_hits * 1000000 div (n_queries * $TopK)").as("recall_ppm"),
        col("mrr_sum_ppm"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_ivf" -> (knnIvf _),
    "knn_pq" -> (knnPq _),
    "knn_ivfpq" -> (knnIvfPq _),
    "knn_lsh" -> (knnLshFp _),
    "ann_recall" -> (annRecall _))

  // ---------------------------------------------------------------- oracle

  /** DuckDB replay of [[lloydSub]] as CTEs `<p>sub/<p>subtr/<p>init/
    * <p>d1/<p>a1/<p>c1/<p>d2/<p>a2` over the shared `e` CTE — the
    * (m)-grouped generalization of [[KMeans.assignCtesFrom]]. Training
    * CTEs (d1/a1/c1) run on the [[MaxTrain]] vec_id-prefix `subtr`; the
    * final assignment (d2/a2) runs on the full corpus, exactly as the
    * engine. `//` and `div` both truncate toward zero (verified in
    * KMeans). */
  private def lloydCtes(p: String, mCount: Int, k: Int): String = {
    val dsub = Dim / mCount
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
    s"""${p}sub AS (
       |  SELECT vec_id, t.m,
       |    list_transform(range(1, ${dsub + 1}), j -> qe[t.m*$dsub + j]) AS sq
       |  FROM e CROSS JOIN range(0, $mCount) t(m)),
       |${p}subtr AS (
       |  SELECT * FROM ${p}sub WHERE vec_id < $MaxTrain),
       |${p}init AS (
       |  SELECT s.m, f.cell, s.sq AS qc
       |  FROM ${p}subtr s JOIN (
       |    SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell
       |    FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= $k) f
       |  USING (vec_id)),
       |${p}d1 AS (
       |  SELECT s.vec_id, s.m, s.sq, i.cell, ${dist("s.sq", "i.qc")} AS dist
       |  FROM ${p}subtr s JOIN ${p}init i ON s.m = i.m),
       |${p}a1 AS (
       |  SELECT vec_id, m, sq, cell, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, cell) AS rn FROM ${p}d1) WHERE rn = 1),
       |${p}c1 AS (
       |  SELECT m, cell, list(c ORDER BY pos) AS qc FROM (
       |    SELECT m, cell, u.pos, CAST(sum(u.q) // count(1) AS BIGINT) AS c
       |    FROM ${p}a1, LATERAL (SELECT unnest(sq) AS q,
       |      generate_subscripts(sq, 1) AS pos) u
       |    GROUP BY m, cell, u.pos)
       |  GROUP BY m, cell),
       |${p}d2 AS (
       |  SELECT s.vec_id, s.m, s.sq, c.cell, ${dist("s.sq", "c.qc")} AS dist
       |  FROM ${p}sub s JOIN ${p}c1 c ON s.m = c.m),
       |${p}a2 AS (
       |  SELECT vec_id, m, sq, cell, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, cell) AS rn FROM ${p}d2) WHERE rn = 1)""".stripMargin
  }

  private val eCte =
    """e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
      |  FROM embeddings)""".stripMargin

  private def fullDist(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${Dim + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])))"

  private val qCte =
    s"q AS (SELECT vec_id AS qid, qe AS qq FROM e WHERE vec_id < $NQueries)"

  /** Probe CTEs: distance from every query to every coarse centroid,
    * top-Nprobe cells (ties → lowest cell). */
  private val probeCtes =
    s"""gpd AS (
       |  SELECT q.qid, q.qq, c.cell, ${fullDist("q.qq", "c.qc")} AS cdist
       |  FROM q CROSS JOIN g_c1 c),
       |gpr AS (
       |  SELECT qid, qq, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cdist, cell) AS rn FROM gpd) WHERE rn <= $Nprobe)""".stripMargin

  /** ADC-table CTE: per (query, subspace, codebook entry) partial
    * squared distance (the join form; integer sums are order-independent
    * so it equals the engine's in-row map-lookup fold bit-for-bit). */
  private val dtCte = {
    val dsub = Dim / M
    s"""qsub AS (
       |  SELECT qid, t.m,
       |    list_transform(range(1, ${dsub + 1}), j -> qq[t.m*$dsub + j]) AS sq
       |  FROM q CROSS JOIN range(0, $M) t(m)),
       |dt AS (
       |  SELECT s.qid, s.m, c.cell,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      j -> (s.sq[j]-c.qc[j])*(s.sq[j]-c.qc[j]))) AS pd
       |  FROM qsub s JOIN p_c1 c ON c.m = s.m)""".stripMargin
  }

  /** Shared top/sc CTEs of the ADC rescore (consumed by the final
    * SELECT of knn_pq/knn_ivfpq and by the `approx` CTE of
    * ann_recall). */
  private val rescoreCtes =
    s"""top AS (
       |  SELECT qid, vec_id, adc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc, vec_id) AS rn FROM adc) WHERE rn <= ${TopK * Rescore}),
       |sc AS (
       |  SELECT t.qid, t.vec_id, t.adc,
       |    CAST(${fullDist("eq.qe", "ev.qe")} AS BIGINT) AS dist
       |  FROM top t
       |  JOIN e eq ON eq.vec_id = t.qid
       |  JOIN e ev ON ev.vec_id = t.vec_id)""".stripMargin

  private val rescoreSql =
    s"""$rescoreCtes
       |SELECT qid, vec_id AS nid,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, vec_id) AS INT) AS rnk, adc, dist
       |FROM sc QUALIFY rnk <= $TopK ORDER BY qid, rnk""".stripMargin

  /** The SRP plane matrix as '+'/'-' strings (plane p ↦ 64-char row),
    * generated from the SAME [[graft.dedup.SrpKernel]] matrix the Spark
    * expression uses — embedded verbatim in the knn_lsh oracle (the
    * LcTable-in-SQL convention). */
  private lazy val lshSignRows: String =
    graft.dedup.SrpKernel.signMatrix(LshBands * LshBits, Dim)
      .map(row => "'" + row.map(s => if (s > 0) '+' else '-').mkString + "'")
      .mkString("[", ", ", "]")

  def oracle: Map[String, String] = Map(
    // identical plane matrix (literal), integer projections, identical
    // band-key packing and (dist, nid) ranking
    "knn_lsh" ->
      s"""WITH $eCte,
         |sgn AS (
         |  SELECT generate_subscripts(sl, 1) - 1 AS p, unnest(sl) AS sstr
         |  FROM (SELECT $lshSignRows AS sl)),
         |ex AS (
         |  SELECT vec_id, generate_subscripts(qe, 1) AS i, unnest(qe) AS x
         |  FROM e),
         |proj AS (
         |  SELECT ex.vec_id, g.p,
         |    CAST(sum(CASE WHEN substr(g.sstr, CAST(ex.i AS INT), 1) = '+'
         |                  THEN ex.x ELSE -ex.x END) AS BIGINT) AS proj
         |  FROM ex CROSS JOIN sgn g
         |  GROUP BY 1, 2),
         |keys AS (
         |  SELECT vec_id, p // $LshBits AS band,
         |    CAST(sum(CASE WHEN proj > 0
         |                  THEN CAST(1 AS BIGINT) << (p % $LshBits)
         |                  ELSE 0 END) AS BIGINT) AS bk
         |  FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id
         |  FROM keys q JOIN keys c ON c.band = q.band AND c.bk = q.bk
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
         |sc AS (
         |  SELECT cand.qid, cand.vec_id,
         |    CAST(${fullDist("eq.qe", "en.qe")} AS BIGINT) AS dist
         |  FROM cand JOIN e eq ON eq.vec_id = cand.qid
         |            JOIN e en ON en.vec_id = cand.vec_id)
         |SELECT qid, vec_id AS nid,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY dist, vec_id) AS INT) AS rnk, dist
         |FROM sc QUALIFY rnk <= $TopK ORDER BY qid, rnk""".stripMargin,
    "knn_ivf" ->
      s"""WITH $eCte,
         |${lloydCtes("g_", 1, Nlist)},
         |$qCte,
         |$probeCtes,
         |cand AS (
         |  SELECT p.qid, p.qq, a.vec_id, a.sq AS ce
         |  FROM gpr p JOIN g_a2 a ON a.cell = p.cell AND a.vec_id <> p.qid),
         |sc AS (
         |  SELECT qid, vec_id, CAST(${fullDist("qq", "ce")} AS BIGINT) AS dist
         |  FROM cand)
         |SELECT qid, vec_id AS nid,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY dist, vec_id) AS INT) AS rnk, dist
         |FROM sc QUALIFY rnk <= $TopK ORDER BY qid, rnk""".stripMargin,
    "knn_pq" ->
      s"""WITH $eCte,
         |${lloydCtes("p_", M, Kpq)},
         |$qCte,
         |$dtCte,
         |adc AS (
         |  SELECT dt.qid, a.vec_id, CAST(sum(dt.pd) AS BIGINT) AS adc
         |  FROM p_a2 a JOIN dt ON dt.m = a.m AND dt.cell = a.cell
         |  WHERE a.vec_id <> dt.qid GROUP BY 1, 2),
         |$rescoreSql""".stripMargin,
    "knn_ivfpq" ->
      s"""WITH $eCte,
         |${lloydCtes("g_", 1, Nlist)},
         |${lloydCtes("p_", M, Kpq)},
         |$qCte,
         |$probeCtes,
         |$dtCte,
         |cand AS (
         |  SELECT p.qid, a.vec_id
         |  FROM gpr p JOIN g_a2 a ON a.cell = p.cell AND a.vec_id <> p.qid),
         |adc AS (
         |  SELECT c.qid, c.vec_id, CAST(sum(dt.pd) AS BIGINT) AS adc
         |  FROM cand c
         |  JOIN p_a2 a ON a.vec_id = c.vec_id
         |  JOIN dt ON dt.qid = c.qid AND dt.m = a.m AND dt.cell = a.cell
         |  GROUP BY 1, 2),
         |$rescoreSql""".stripMargin,
    // the full IVF-PQ replay as an `approx` CTE, an exact integer brute
    // force as ground truth, identical integer recall/MRR arithmetic
    "ann_recall" ->
      s"""WITH $eCte,
         |${lloydCtes("g_", 1, Nlist)},
         |${lloydCtes("p_", M, Kpq)},
         |$qCte,
         |$probeCtes,
         |$dtCte,
         |cand AS (
         |  SELECT p.qid, a.vec_id
         |  FROM gpr p JOIN g_a2 a ON a.cell = p.cell AND a.vec_id <> p.qid),
         |adc AS (
         |  SELECT c.qid, c.vec_id, CAST(sum(dt.pd) AS BIGINT) AS adc
         |  FROM cand c
         |  JOIN p_a2 a ON a.vec_id = c.vec_id
         |  JOIN dt ON dt.qid = c.qid AND dt.m = a.m AND dt.cell = a.cell
         |  GROUP BY 1, 2),
         |$rescoreCtes,
         |approx AS (
         |  SELECT qid, vec_id AS nid,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, vec_id) AS INT) AS rnk
         |  FROM sc QUALIFY rnk <= $TopK),
         |bt AS (
         |  SELECT q.qid, ev.vec_id,
         |    CAST(${fullDist("q.qq", "ev.qe")} AS BIGINT) AS dist
         |  FROM q CROSS JOIN e ev WHERE ev.vec_id <> q.qid),
         |btr AS (
         |  SELECT qid, vec_id AS nid,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, vec_id) AS INT) AS rnk
         |  FROM bt QUALIFY rnk <= $TopK),
         |hits AS (
         |  SELECT count(1) AS n_hits
         |  FROM btr t JOIN approx a ON a.qid = t.qid AND a.nid = t.nid),
         |mrr AS (
         |  SELECT CAST(sum(coalesce(1000000 // a.rnk, 0)) AS BIGINT)
         |      AS mrr_sum_ppm,
         |    count(1) AS n_queries
         |  FROM (SELECT qid, nid FROM btr WHERE rnk = 1) t
         |  LEFT JOIN approx a ON a.qid = t.qid AND a.nid = t.nid)
         |SELECT CAST($TopK AS INT) AS k, n_queries,
         |  CAST(n_hits * 1000000 // (n_queries * $TopK) AS BIGINT)
         |    AS recall_ppm,
         |  mrr_sum_ppm
         |FROM hits CROSS JOIN mrr""".stripMargin)
}
