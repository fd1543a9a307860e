package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed k-means over the embedding corpus — the semantic-
  * clustering primitive of embedding-space data curation (cluster-then-
  * sample, per-cluster quality triage, SemDeDup-style near-cluster
  * pruning). Complements [[Ivf]]: IVF trains its coarse quantizer on a
  * bounded driver-side sample because a few KB of centroids is all a
  * probe needs; THIS operator is the full-corpus clustering a curation
  * pipeline runs, so every step is distributed — assignment is a
  * broadcast of the k-row centroid frame against the corpus scan, and
  * the centroid update is a (cell, dim)-keyed partial aggregation. No
  * driver-side model materialization anywhere.
  *
  * '''Exactness construction (why this is oracle-checkable).''' Lloyd's
  * iterations on doubles are not portable: distance sums and mean
  * divisions round differently across engines, and one flipped argmin
  * cascades. Instead everything lives on a 2⁻¹⁰ fixed-point grid:
  *
  *  - inputs quantize once: `q = floor(x·1024)` (exact IEEE ops);
  *  - squared L2 distance is then INTEGER arithmetic — components ≤
  *    ~2¹¹, squares ≤ 2²², a 64-dim distance ≤ 2²⁸ — exact in long,
  *    ORDER-INDEPENDENT, so any partitioning and any engine agree
  *    bit-for-bit;
  *  - argmin ties break to the lowest cell id via lexicographic
  *    `min(struct(dist, cell))`;
  *  - centroid update = integer sums + ONE integer division per
  *    dimension (`sum div count`, truncation toward zero — Spark's
  *    `div` and DuckDB's `//` agree, verified over negatives), landing
  *    the new centroid back on the grid with zero accumulated error.
  *
  * The DuckDB oracle replays the identical two unrolled iterations in
  * CTEs — not a weaker invariant check: the full assignment + update +
  * inertia pipeline is bit-compared. Overflow headroom: per-row
  * distance ≤ 2²⁸ sums exactly in long up to ~2³⁵ rows per cell; dim
  * sums ≤ 2¹¹·|cell| stay in long to ~2⁵² rows. At 100 TB the
  * assignment is a scan × k-row broadcast (map-only) and the update
  * shuffles (k × dim) partials — the same shape as
  * [[graft.pipeline.CorpusOps]]'s `emb_centroid`, which is the inner
  * loop of exactly this operator.
  */
object KMeans {

  private val P = 1024L // 2^-10 grid
  private val K = 4
  private val Iters = 2

  /** Target within-cell population for ADAPTIVE clustering (the SemDeDup
    * consumer): `adaptiveK` keeps `|cell| ≈ TargetCellSize` as the corpus
    * grows, so a within-cell candidate self-join costs Σ|cell|² ≈
    * n·TargetCellSize — LINEAR in n — instead of the n²/k a frozen k
    * degrades to. Same adaptive shape as [[Similarity.srpParams]] (bits
    * grow with log₂ n to pin bucket size). The fixture queries
    * (emb_kmeans etc.) keep the constant K=4 — their oracles replay that
    * exact clustering. Tradeoff documented: assignment cost is n·k per
    * iteration (map-only, no shuffle); at corpus sizes where n·(n/c)
    * flops bite, the standard mitigation is hierarchical assignment
    * (√k coarse cells, then sub-cluster within each) — the candidate
    * join, which SHUFFLES, is the part this bound protects. */
  val TargetCellSize = 256L

  /** k = max(4, ⌈n / TargetCellSize⌉); grows with n (spec-pinned). */
  def adaptiveK(n: Long): Int =
    math.max(K, math.ceil(n.toDouble / TargetCellSize).toInt)

  /** floor(x·2¹⁰) per component — the only float→fixed crossing.
    * Shared with Similarity's `dedup_semantic` so both quantize on the
    * identical tree. */
  private[ann] def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * P).cast("long"))

  /** Integer squared L2 between two quantized vectors (codegen'd kernel,
    * value-identical to the HOF spec it replaced). */
  private def sqDistFp(a: Column, b: Column): Column =
    VecFpExprs.sqDistFp(a, b)

  /** `Iters` unrolled Lloyd iterations; returns the final assignment
    * frame (vec_id, qe, dist, cell) where dist is against the centroids
    * the final assignment used. A cell that receives no members simply
    * drops out of the next round's centroid frame (deterministic, and
    * mirrored in the oracle). */
  private[ann] def iterate(e: DataFrame, iters: Int = Iters,
      k: Int = K): DataFrame = {
    val w = Window.orderBy(col("vec_id"))
    var cent = e.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(w) - 1).cast("int").as("cell"),
        col("qe").as("qc"))
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      // Assignment is IN-ROW: the centroid frame collapses to ONE row
      // holding a cell-sorted array of (cell, qc) structs, broadcast
      // against the corpus scan; the argmin folds over that array per
      // vector. The alternative (crossJoin to an n×k frame + min(struct)
      // groupBy) shuffles and sorts k× the corpus PER ITERATION — this
      // formulation shuffles nothing at all for assignment. Strict <
      // over the cell-ascending array ≡ min(struct(dist, cell)): ties
      // keep the lowest cell.
      val centArr = cent
        .agg(sort_array(collect_list(struct(col("cell"), col("qc"))))
          .as("cents"))
      assigned = e.crossJoin(broadcast(centArr))
        .select(col("vec_id"), col("qe"),
          // codegen'd argmin kernel — strict <, ties to the lowest cell,
          // identical to the HOF fold spec it replaced
          VecFpExprs.argMinCell(col("qe"), col("cents")).as("m"))
        .select(col("vec_id"), col("qe"),
          col("m.dist").as("dist"), col("m.cell").as("cell"))
      cent = assigned
        .select(col("cell"), posexplode(col("qe")).as(Seq("pos", "q")))
        .groupBy(col("cell"), col("pos"))
        .agg(expr("sum(q) div count(1)").as("c"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("qc"))
    }
    assigned
  }

  private[ann] def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))

  /** The final assignment frame, memoized per (session, dir): FOUR
    * queries consume it (emb_kmeans, cluster_purity, emb_prototypes,
    * cluster_sample) and a curation pipeline computes the clustering
    * ONCE and feeds every downstream diagnostic from it — re-running
    * two Lloyd iterations per consumer is the dishonest shape. Bench
    * charges the build to its own `_shared_kmeans_assign` line (the
    * Dedup ngram-pair convention); [[graft.Memo]] evicts. */
  def assignmentCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.kmeansAssign(s, d)(iterate(quantized(s, d)).cache())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_kmeans" -> ((s, d) => {
      assignmentCached(s, d)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia_fp"))
        .orderBy(col("cell"))
    }),

    // Clustering-quality diagnostic: per-cell label histogram collapsed
    // to the majority label and its purity fraction — the check a
    // curation pipeline runs to decide whether unsupervised cells track
    // a known taxonomy. Counts are exact integers; purity is ONE IEEE
    // division of exact operands (bit-identical cross-engine). The
    // label join keys on vec_id against the already-small assignment
    // frame; the histogram is a (cell, label) aggregation — k×|labels|
    // rows — so everything after the scan is negligible at any scale.
    "cluster_purity" -> ((s, d) => {
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val counts = assignmentCached(s, d).select(col("vec_id"), col("cell"))
        .join(lab, "vec_id")
        .groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("nl"))
      val byCell = Window.partitionBy(col("cell"))
      counts
        .withColumn("rnk",
          row_number().over(byCell.orderBy(col("nl").desc, col("label"))))
        .withColumn("n", sum(col("nl")).over(byCell))
        .filter(col("rnk") === 1)
        .select(col("cell"), col("n"), col("label").as("majority_label"),
          col("nl").as("n_majority"),
          (col("nl").cast("double") / col("n").cast("double")).as("purity"))
        .orderBy(col("cell"))
    }),

    // Prototype / coreset selection: the 10 vectors nearest their
    // cluster centroid per cell — the distillation and SemDeDup-style
    // representative-picking primitive, reusing the exact-integer
    // k-means assignment (distances are already exact longs, ties break
    // on vec_id). TWO-LEVEL top-m: a single rank window partitioned by
    // cell alone funnels the ENTIRE corpus through k partitions (k=4
    // here — 4 tasks sort ~n/4 rows each no matter how many executors
    // exist; at 100 TB that is the job). Level 1 ranks within
    // (cell, salt) — Salts× the parallelism, each partition bounded at
    // ~n/(k·Salts) — and keeps 10; level 2 ranks the ≤ k·Salts·10
    // survivors. EXACT, not approximate: the global top-10 of a cell is
    // contained in the union of its per-salt top-10s (any globally
    // kept row is also top-10 within its own salt class), so level 2
    // sees every global winner. Equality with the one-window form is
    // asserted in KMeansSpec; the oracle keeps the one-window
    // semantics, which this plan reproduces bit-for-bit.
    "emb_prototypes" -> ((s, d) => {
      val lvl1 = Window.partitionBy(col("cell"), col("salt"))
        .orderBy(col("dist"), col("vec_id"))
      val lvl2 = Window.partitionBy(col("cell"))
        .orderBy(col("dist"), col("vec_id"))
      assignmentCached(s, d)
        .withColumn("salt", pmod(col("vec_id"), lit(Salts)))
        .withColumn("r1", row_number().over(lvl1))
        .filter(col("r1") <= 10)
        .select(col("vec_id"), col("cell"), col("dist"),
          row_number().over(lvl2).as("rnk"))
        .filter(col("rnk") <= 10)
        .orderBy(col("cell"), col("rnk"))
    }),

    // Cluster-then-sample: deterministic downsampling of every k-means
    // cell to the SMALLEST cell's mass — embedding-space-balanced corpus
    // curation (the semantic analogue of mix_resample's per-language
    // balance: over-represented regions of embedding space are thinned,
    // rare regions kept whole), with a per-cell quality audit proving
    // the sample didn't shift quality. The keep rule is the same
    // integer cross-multiplication on a multiplicative-xorshift hash of
    // the stable id (`bucket·n_cell < min·10⁶`) as mix_resample /
    // sample_split — no RNG, no floats, reproducible under any
    // partitioning, and rates COMPOSE with those operators. Quality is
    // integer ppm (stop-word and punctuation rates scaled to 10⁶ with
    // truncating div), so the kept-vs-all audit columns are exact
    // integers, not an IEEE mean. Scale shape: assignment is the k-row
    // broadcast scan ([[iterate]]); the doc join is id-keyed (embedding
    // and text corpora co-partition on the shared id at a real
    // deployment); cell counts are a k-row broadcast back — the only
    // corpus-sized work is one scan and one id join.
    "cluster_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), qualityPpm(col("text")).as("q_ppm"))
      val assigned = assignmentCached(s, d)
        .select(col("vec_id"), col("cell"))
        .join(docs, col("vec_id") === col("doc_id"))
      val counts = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_before"))
      val minCnt = counts.agg(min(col("n_before")).as("min_cnt"))
      assigned
        .select(col("cell"), col("q_ppm"), bucket1M(col("vec_id")).as("bucket"))
        .join(broadcast(counts), Seq("cell"))
        .crossJoin(broadcast(minCnt))
        .withColumn("kept",
          col("bucket") * col("n_before") < col("min_cnt") * lit(1000000L))
        .groupBy(col("cell"), col("n_before"))
        .agg(
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_after"),
          expr("sum(q_ppm) div count(1)").as("q_ppm_all"),
          expr("sum(if(kept, q_ppm, 0)) div nullif(sum(if(kept, 1, 0)), 0)")
            .as("q_ppm_kept"))
        .orderBy(col("cell"))
    }))

  /** Level-1 fan-out of the two-level top-m. Test-scale value; at a
    * real deployment this scales with the executor count so level-1
    * partitions stay bounded. */
  private val Salts = 8

  /** Shared deterministic-sampling primitives (one definition with
    * [[graft.pipeline.CorpusOps]] so rates and audits compose). */
  private def qualityPpm(text: Column): Column =
    graft.pipeline.CorpusOps.qualityPpm(text)
  private def bucket1M(id: Column): Column =
    graft.pipeline.CorpusOps.bucket1M(id)

  /** The assignment pipeline (quantize → init → two Lloyd iterations),
    * shared verbatim by the oracles below AND by Similarity's
    * `dedup_semantic` so the replayed semantics cannot drift between
    * them. `src` must provide (vec_id, embedding); `a2` ends with
    * columns (vec_id, qe, cell, dist). `kSql` is a SQL expression for
    * the cell count (default the fixture constant 4; dedup_semantic
    * passes the adaptiveK formula as a scalar subquery so the oracle
    * adapts k to n exactly as the engine does). */
  private[ann] def assignCtesFrom(src: String, kSql: String = "4"): String =
    s"""e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
      |  FROM $src),
      |init AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
      |         qe AS qc
      |  FROM (SELECT * FROM e
      |        QUALIFY row_number() OVER (ORDER BY vec_id) <= ($kSql))),""".stripMargin + "\n" +
    """d1 AS (
      |  SELECT e.vec_id, e.qe, i.cell,
      |    list_sum(list_transform(range(1, 65),
      |      j -> (e.qe[j] - i.qc[j]) * (e.qe[j] - i.qc[j]))) AS dist
      |  FROM e CROSS JOIN init i),
      |a1 AS (
      |  SELECT vec_id, qe, cell, dist FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1),
      |c1 AS (
      |  SELECT cell, list(c ORDER BY pos) AS qc FROM (
      |    SELECT cell, u.pos, CAST(sum(u.q) // count(1) AS BIGINT) AS c
      |    FROM a1, LATERAL (SELECT unnest(qe) AS q,
      |      generate_subscripts(qe, 1) AS pos) u
      |    GROUP BY cell, u.pos)
      |  GROUP BY cell),
      |d2 AS (
      |  SELECT e.vec_id, e.qe, c.cell,
      |    list_sum(list_transform(range(1, 65),
      |      j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))) AS dist
      |  FROM e CROSS JOIN c1 c),
      |a2 AS (
      |  SELECT vec_id, qe, cell, dist FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1)""".stripMargin

  /** Streaming-argmin rewrite of [[assignCtesFrom]] for the sf10+
    * scale-form oracle only: identical quantize/init/centroid
    * arithmetic, but each Lloyd assignment is one aggregation
    * `min(dist·2³² + cell)` instead of a MATERIALIZED (n×k) distance
    * frame + row_number window — the distance rows stream through a
    * hash aggregate keyed by vec_id and are never stored (the
    * materialized d1/d2 frames are ~340 GB at sf10's n=400k, k=1563;
    * that spill is what killed the primary form on temp disk). The
    * packing is exact: on the 2⁻¹⁰ grid dist ≤ 64·2048² = 2²⁸ < 2³²
    * and 0 ≤ cell < 2³¹, so numeric order of the packed key ≡ the
    * primary's lexicographic ORDER BY dist, cell tie-break. Emits the
    * same CTE names; `a1`/`a2` end with (vec_id, cell) only — `c1`
    * re-joins `e` for the member vectors. */
  private[ann] def assignCtesStreamFrom(src: String,
      kSql: String = "4"): String =
    s"""e AS (
      |  SELECT vec_id, qe,
      |    list_transform(qe, x -> CAST(x AS DOUBLE)) AS qed,
      |    CAST(list_dot_product(list_transform(qe, x -> CAST(x AS DOUBLE)),
      |      list_transform(qe, x -> CAST(x AS DOUBLE))) AS HUGEINT) AS nq
      |  FROM (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
      |  FROM $src)),
      |init AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
      |         qe AS qc, qed AS qcd, nq AS nqc
      |  FROM (SELECT * FROM e
      |        QUALIFY row_number() OVER (ORDER BY vec_id) <= ($kSql))),""".stripMargin + "\n" +
    // ||qe − qc||² expanded as nq + nqc − 2⟨qe,qc⟩ over the NATIVE
    // list_dot_product kernel — every term is an integer below 2^53, so
    // the double-path dot is EXACT and the distance is the same integer
    // the primary's lambda computes (the lambda form at sf10 is 625M
    // rows × an interpreted 64-step lambda — it timed out the 1800 s
    // comparator budget; this form is the same arithmetic on a
    // vectorized kernel)
    """a1 AS (
      |  SELECT e.vec_id,
      |    CAST(min(CAST(e.nq + i.nqc
      |        - CAST(2 * list_dot_product(e.qed, i.qcd) AS HUGEINT)
      |        AS HUGEINT)
      |      * 4294967296 + i.cell) % 4294967296 AS INT) AS cell
      |  FROM e CROSS JOIN init i GROUP BY e.vec_id),
      |c1 AS (
      |  SELECT cell, qc,
      |    list_transform(qc, x -> CAST(x AS DOUBLE)) AS qcd,
      |    CAST(list_dot_product(list_transform(qc, x -> CAST(x AS DOUBLE)),
      |      list_transform(qc, x -> CAST(x AS DOUBLE))) AS HUGEINT) AS nqc
      |  FROM (
      |    SELECT cell, list(c ORDER BY pos) AS qc FROM (
      |      SELECT a1.cell, u.pos, CAST(sum(u.q) // count(1) AS BIGINT) AS c
      |      FROM a1 JOIN e USING (vec_id),
      |        LATERAL (SELECT unnest(e.qe) AS q,
      |          generate_subscripts(e.qe, 1) AS pos) u
      |      GROUP BY a1.cell, u.pos)
      |    GROUP BY cell)),
      |a2 AS (
      |  SELECT e.vec_id,
      |    CAST(min(CAST(e.nq + c.nqc
      |        - CAST(2 * list_dot_product(e.qed, c.qcd) AS HUGEINT)
      |        AS HUGEINT)
      |      * 4294967296 + c.cell) % 4294967296 AS INT) AS cell
      |  FROM e CROSS JOIN c1 c GROUP BY e.vec_id)""".stripMargin

  private val assignCtes: String = assignCtesFrom("embeddings")

  def oracle: Map[String, String] = Map(
    // the same two unrolled Lloyd iterations on the same 2^-10 grid;
    // `//` (DuckDB) and `div` (Spark) both truncate toward zero
    "emb_kmeans" ->
      s"""WITH $assignCtes
         |SELECT cell, count(1) AS n, CAST(sum(dist) AS BIGINT) AS inertia_fp
         |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin,
    // assignment, then rank within cell by exact integer distance
    // (ties on vec_id)
    "emb_prototypes" ->
      s"""WITH $assignCtes
         |SELECT vec_id, cell, CAST(dist AS BIGINT) AS dist,
         |  CAST(row_number() OVER (PARTITION BY cell
         |    ORDER BY dist, vec_id) AS INT) AS rnk
         |FROM a2 QUALIFY rnk <= 10
         |ORDER BY cell, rnk""".stripMargin,
    // assignment, then the integer-ppm quality join, the multiplicative-
    // xorshift bucket, and the same cross-multiplied keep rule; all
    // audit columns are integer sums / truncating divisions (CASTs
    // because DuckDB sums to HUGEINT, which .df() would float)
    "cluster_sample" ->
      s"""WITH $assignCtes,
         |q AS (
         |  SELECT doc_id,
         |    (CAST(len(list_filter(string_split(text,' '),
         |       w -> w IN ('the','a','an','and','of','to','in','is')))
         |       AS BIGINT) * 2000000)
         |      // CAST(len(string_split(text,' ')) AS BIGINT)
         |    - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
         |       AS BIGINT) * 5000000)
         |      // CAST(length(text) AS BIGINT) AS q_ppm
         |  FROM documents),
         |a AS (
         |  SELECT a2.cell, q.q_ppm,
         |    xor((a2.vec_id % 1000003) * 2654435761,
         |        ((a2.vec_id % 1000003) * 2654435761) >> 13) % 1000000
         |      AS bucket
         |  FROM a2 JOIN q ON a2.vec_id = q.doc_id),
         |c AS (SELECT cell, count(1) AS n_before FROM a GROUP BY cell),
         |m AS (SELECT min(n_before) AS min_cnt FROM c)
         |SELECT a.cell, c.n_before,
         |  CAST(sum(CASE WHEN a.bucket * c.n_before < m.min_cnt * 1000000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
         |  CAST(sum(a.q_ppm) // count(1) AS BIGINT) AS q_ppm_all,
         |  CAST(sum(CASE WHEN a.bucket * c.n_before < m.min_cnt * 1000000
         |      THEN a.q_ppm ELSE 0 END)
         |    // nullif(sum(CASE WHEN a.bucket * c.n_before
         |      < m.min_cnt * 1000000 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS q_ppm_kept
         |FROM a JOIN c USING (cell) CROSS JOIN m
         |GROUP BY a.cell, c.n_before
         |ORDER BY a.cell""".stripMargin,
    // assignment, then the per-cell label histogram collapsed to its
    // mode (ties -> lowest label) with purity = nl/n (one exact
    // division)
    "cluster_purity" ->
      s"""WITH $assignCtes,
         |h AS (
         |  SELECT a2.cell, emb.label, count(1) AS nl
         |  FROM a2 JOIN embeddings emb USING (vec_id)
         |  GROUP BY 1, 2)
         |SELECT cell, CAST(n AS BIGINT) AS n, label AS majority_label,
         |  CAST(nl AS BIGINT) AS n_majority,
         |  CAST(nl AS DOUBLE) / CAST(n AS DOUBLE) AS purity
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |      ORDER BY nl DESC, label) AS rnk,
         |    sum(nl) OVER (PARTITION BY cell) AS n
         |  FROM h) WHERE rnk = 1
         |ORDER BY cell""".stripMargin)
}
