package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Storage-layout operators — the levers that decide whether a 100 TB
  * query reads 100 TB or 100 GB:
  *
  *  - '''Bucketed co-located join''' ([[bucketedOrdersCustomer]]): both
  *    join sides pre-hashed into the same bucket scheme at WRITE time, so
  *    the join runs with ZERO exchanges — the shuffle was paid once, at
  *    ingest, and every subsequent join on the key is map-side. This is
  *    Spark's answer to the "co-located join" every warehouse engine
  *    offers; at 100 TB it turns the nightly fact×dim join from the
  *    dominant shuffle into a local merge. Bucket pruning is the second
  *    dividend: a point predicate on the bucket key scans 1/N of the
  *    files (asserted in LayoutSpec).
  *
  *  - '''Z-order clustering''' ([[zvalue]]): interleave the bits of two
  *    sort dimensions so range predicates on EITHER dimension map to
  *    contiguous z-ranges — files sorted by z-value carry tight min/max
  *    stats on BOTH columns, and parquet row-group/file skipping prunes
  *    2-D box queries that a single-column sort can only prune in one
  *    dimension. The z-value is pure codegen'd bit arithmetic
  *    (oracle-checkable); LayoutSpec proves the pruning effect by
  *    counting files a box query touches under z-sorted vs random
  *    layout.
  *
  *  - '''Mergeable-sketch re-aggregation''' ([[Layout.queries]]
  *    `agg_hll_merge`): per-shard HLL register states max-merge into a
  *    global sketch — the pattern that lets a 1000-shard ingest keep
  *    per-shard distinct-count state (KBs each) and answer corpus-wide
  *    NDV without ever re-scanning. Unlike `approx_count_distinct`, the
  *    sketch is DATA — storable, re-groupable, unionable across
  *    days/shards. Built on [[graft.sketch.Hll]]'s deterministic
  *    integer arithmetic so the DuckDB oracle replays it bit-for-bit;
  *    HLL updates/merges are register-max operations, so the estimate
  *    is partitioning- and order-independent (the oracle's single-pass
  *    estimate equaling the shard-merged result proves it, and
  *    LayoutSpec pins the same identity for Spark's DataSketches
  *    `hll_sketch_agg`/`hll_union_agg` wrappers).
  *
  * Reference has nothing comparable (single-table nested loops,
  * SURVEY.md §2.2) — this module is 100 TB north-star surface.
  */
object Layout {

  /** Z-value of two non-negative dimensions: interleaves the low
    * `bitsPer` bits of `x` (even positions) and `y` (odd positions) into
    * one long. Pure bit arithmetic — identical in any engine, so the
    * query is hash-checkable against DuckDB. */
  def zvalue(x: Column, y: Column, bitsPer: Int = 16): Column = {
    require(bitsPer >= 1 && bitsPer <= 31, s"zvalue: bitsPer=$bitsPer")
    val xs = x.cast("long"); val ys = y.cast("long")
    (0 until bitsPer).flatMap { b =>
      Seq(
        shiftleft(shiftright(xs, b).bitwiseAND(lit(1L)), 2 * b),
        shiftleft(shiftright(ys, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The same interleave as ANSI SQL (DuckDB bit operators), kept next to
    * [[zvalue]] so the Spark and oracle forms cannot drift. */
  private[operators] def zvalueSql(x: String, y: String, bitsPer: Int = 16): String =
    (0 until bitsPer).flatMap { b =>
      Seq(s"(((($x) >> $b) & 1) << ${2 * b})",
        s"(((($y) >> $b) & 1) << ${2 * b + 1})")
    }.mkString("(", " | ", ")")

  /** Collision-resistant tag for a data dir's derived table names and
    * tmp paths: first 16 hex chars of SHA-256 (64 bits). The previous
    * `String.hashCode` tag was 32 bits — two data dirs colliding in one
    * session would silently share/overwrite the same derived table and
    * serve the first dir's queries wrong rows. 64 collision-resistant
    * bits put a same-session collision at ~n²/2⁶⁵ (and SHA-256 has no
    * adversarial-input structure the way hashCode does). */
  private[operators] def dirTag(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** One-time-per-(session, dir) bucketed copies of orders + customer,
    * both bucketed 8 ways on the customer key and sorted within buckets.
    * This is the INGEST-TIME shuffle a co-located layout pays once;
    * [[Layout.queries]] `join_bucketed` then joins them exchange-free
    * (asserted in LayoutSpec). `repartition(8, key)` before the write
    * gives exactly one file per bucket, which also preserves the sortBy
    * guarantee for merge joins. Registered as external tables under the
    * JVM tmpdir; overwritten on rebuild. */
  def bucketedOrdersCustomer(s: SparkSession, d: String): (String, String) =
    graft.Memo.bucketed(s, d) {
      val tag = dirTag(d)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$tag"
      val ordT = s"graft_orders_b_$tag"
      val custT = s"graft_customer_b_$tag"
      Tables.orders(s, d)
        .repartition(8, col("o_custkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders")
        .saveAsTable(ordT)
      Tables.customer(s, d)
        .repartition(8, col("c_custkey"))
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer")
        .saveAsTable(custT)
      (ordT, custT)
    }

  /** One-time-per-(session, dir) month-partitioned copy of lineitem —
    * the date-partitioned fact layout every warehouse keeps. Pays the
    * partitioned write once; `join_dpp` then proves Spark's DYNAMIC
    * partition pruning over it: a dim-side filter that only becomes
    * concrete at runtime (quarter → months) prunes fact PARTITIONS via
    * the `dynamicpruningexpression` subquery instead of scanning
    * everything (LayoutSpec asserts the pruning in the executed plan).
    * At 100 TB this is the difference between reading 3 months and
    * reading 7 years. */
  def monthPartitionedLineitem(s: SparkSession, d: String): String =
    graft.Memo.monthPartitioned(s, d) {
      val tag = dirTag(d)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_dpp/$tag"
      val t = s"graft_lineitem_ym_$tag"
      Tables.lineitem(s, d)
        .select(col("l_extendedprice"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
        // salt inside the month: repartition(ym) alone writes each
        // month in ONE task — at 100 TB a month is ~1.2 TB, a straggler
        // and a single giant file. The 8-way salt keeps the write
        // parallel within a partition (≈8 files/month; at deployment
        // the salt width scales with partition bytes) while the DPP
        // story is untouched — pruning is directory-level, file count
        // within a kept month is irrelevant to it. The partition count
        // is EXPLICIT because AQE coalesces unsized repartitions on
        // small inputs back to one task — exactly the degenerate write
        // the salt exists to prevent (and what layout_compact's
        // file-count assertions need to observe).
        .repartition(s.sparkContext.defaultParallelism, col("ym"),
          pmod(hash(col("l_extendedprice"), col("l_quantity")), lit(8)))
        .write.mode("overwrite")
        .partitionBy("ym")
        .option("path", base)
        .saveAsTable(t)
      t
    }

  /** One-time-per-(session, dir) COMPACTED copy of
    * [[monthPartitionedLineitem]] — the small-file maintenance pass
    * every partitioned 100 TB table needs: the ingest layout
    * deliberately writes many small files per partition (parallel
    * writers, streaming micro-batches); compaction rewrites each
    * partition into ⌈bytes/target⌉ files. Here: one shuffle keyed by
    * the partition column re-bins the 8 ingest files per month into 1
    * (test scale; at deployment the salt width comes from partition
    * bytes exactly as the ingest note says), `partitionBy` keeps the
    * DPP-prunable directory layout. LayoutSpec asserts the 8→1
    * file-count collapse AND byte-identical data. */
  def compactedLineitem(s: SparkSession, d: String): String =
    graft.Memo.compacted(s, d) {
      val src = monthPartitionedLineitem(s, d)
      val tag = dirTag(d)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact/$tag"
      val t = s"graft_lineitem_ym_c_$tag"
      s.table(src)
        .repartition(col("ym"))
        .write.mode("overwrite")
        .partitionBy("ym")
        .option("path", base)
        .saveAsTable(t)
      t
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Co-located fact×dim join over the bucketed layout: merge join with
    // NO exchange on either side (the ingest write paid the shuffle once;
    // LayoutSpec asserts zero ShuffleExchange below the join). The merge
    // hint keeps the demonstration honest — without it the tiny dim side
    // would broadcast and never exercise the bucketing. Values equal the
    // plain join (oracle runs it on the raw parquet).
    "join_bucketed" -> ((s, d) => {
      val (ordT, custT) = bucketedOrdersCustomer(s, d)
      val o = s.table(ordT).hint("merge")
      val c = s.table(custT).hint("merge")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // Dynamic partition pruning: the month-partitioned fact joined to a
    // COMPUTED calendar dim (sequence of months with quarter labels — a
    // local relation, nothing scanned) filtered to one quarter. The
    // month set is only concrete at runtime, so static pruning can't
    // fire; Spark inserts a dynamicpruningexpression subquery on the
    // partition column and the fact scan reads 3 of ~84 month
    // partitions (plan-asserted in LayoutSpec). Values replay on the
    // raw parquet in DuckDB with the same quarter predicate.
    "join_dpp" -> ((s, d) => {
      val fact = s.table(monthPartitionedLineitem(s, d))
      val dim = s.range(1)
        .select(explode(expr(
          "sequence(to_date('1992-01-01'), to_date('1998-12-01')," +
            " interval 1 month)")).as("m"))
        .select(date_format(col("m"), "yyyy-MM").as("ym"),
          concat(date_format(col("m"), "yyyy"), lit("-Q"),
            quarter(col("m")).cast("string")).as("qtr"))
      fact.join(dim.filter(col("qtr") === "1996-Q1"), "ym")
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy(col("ym"))
    }),

    // Small-file compaction round-trip: the checked output is the
    // per-month census read FROM THE COMPACTED TABLE — a hash match
    // against the raw-parquet oracle proves the rewrite lost nothing
    // (rows, cents-exact revenue); the file-count collapse itself
    // (8 ingest files/month → 1) is asserted in LayoutSpec, since file
    // counts aren't a DuckDB-replayable quantity.
    "layout_compact" -> ((s, d) => {
      s.table(compactedLineitem(s, d))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("rev_cents"))
        .orderBy(col("ym"))
    }),

    // Z-order clustering key over (customer, price): the layout sort key
    // that makes 2-D box predicates prunable. Emitted per order so the
    // bit interleave itself is hash-checked; the pruning effect is
    // proven in LayoutSpec (z-sorted files touched by a box query vs
    // random layout). 16 bits/dimension: o_custkey and floor(price) both
    // fit (asserted by the range filter both engines apply).
    "layout_zorder" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536)).as("zx"),
          pmod(floor(col("o_totalprice")), lit(65536)).as("zy"))
        .select(col("o_orderkey"), zvalue(col("zx"), col("zy")).as("zval"))
        .orderBy(col("zval"), col("o_orderkey"))
    }),

    // Mergeable-sketch NDV: per-shard HLL register states max-merged
    // into one global estimate — the re-aggregatable distinct-count
    // state a sharded 100 TB ingest keeps (KBs per shard, unionable
    // across days/shards without re-scanning). Built on the repo's own
    // bit-exact HLL ([[graft.sketch.Hll]]) rather than Spark's
    // DataSketches wrapper so the WHOLE pipeline — mix, register, rho,
    // per-shard max, cross-shard max-merge, fixed-point estimate — is
    // replayed by the DuckDB oracle hash-for-hash. The oracle computes
    // the estimate in ONE global register pass, which equals the
    // shard-merged result precisely BECAUSE register max-merge is
    // lossless — so the correctness gate itself proves the merge
    // identity (LayoutSpec additionally pins Spark's DataSketches
    // variant and partitioning-independence). Spark's engine-private
    // hll_sketch_agg stays covered by that spec.
    "agg_hll_merge" -> ((s, d) => {
      import graft.sketch.Hll
      val li = Tables.lineitem(s, d)
        .withColumn("shard", pmod(col("l_orderkey"), lit(8)))
      // per-shard sketch: the storable register column (≤ shards×32 rows)
      val perShard = Hll.regRho(li, col("l_partkey"))
        .groupBy(col("shard"), col("reg"))
        .agg(max(col("rho")).as("rho"))
      // cross-shard merge = per-register MAX; then the shared estimator
      val merged = perShard
        .select(lit("all").as("scope"), col("reg"), col("rho"))
      val est = Hll.estimate(merged, "scope")
      val totals = li.agg(
        countDistinct(col("shard")).as("n_shards"),
        count(lit(1)).as("total_rows"))
      est.crossJoin(totals)
        .select(col("hll_est").as("est_parts"),
          col("n_shards"), col("total_rows"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "join_bucketed" ->
      """SELECT c_mktsegment,
        |  count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // per-month census straight off the raw parquet — a match proves
    // the partitioned rewrite + compaction round-trips the data
    "layout_compact" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ym,
        |  count(1) AS n,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem GROUP BY 1 ORDER BY ym""".stripMargin,
    // same quarter predicate applied directly to the raw parquet
    "join_dpp" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ym,
        |  count(1) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') IN ('1996-01', '1996-02', '1996-03')
        |GROUP BY 1 ORDER BY ym""".stripMargin,
    "layout_zorder" -> {
      val z = zvalueSql("zx", "zy")
      s"""WITH t AS (
         |  SELECT o_orderkey,
         |    o_custkey % 65536 AS zx,
         |    CAST(floor(o_totalprice) AS BIGINT) % 65536 AS zy
         |  FROM orders)
         |SELECT o_orderkey, $z AS zval
         |FROM t ORDER BY zval, o_orderkey""".stripMargin
    },
    // the identical Hll mix/register/rho arithmetic replayed in SQL as
    // ONE global register pass — equal to Spark's shard-merged result
    // because register max-merge is lossless (max over per-shard maxes
    // == global max); the hash match IS the merge-identity proof
    "agg_hll_merge" -> {
      import graft.sketch.Hll.{M, AlphaPpm, LcTable}
      s"""WITH h1 AS (
         |  SELECT ${graft.sketch.Hll.mixSql1("l_partkey")} AS h1
         |  FROM lineitem),
         |h AS (
         |  SELECT ${graft.sketch.Hll.mixSql2("h1")} AS h
         |  FROM h1),
         |rr AS (
         |  SELECT h % $M AS reg,
         |    CASE WHEN h >> 5 = 0 THEN 20
         |         ELSE least(CAST(bit_count(((h >> 5) & -(h >> 5)) - 1)
         |                      AS BIGINT) + 1, 20)
         |    END AS rho
         |  FROM h),
         |regs AS (SELECT reg, max(rho) AS mj FROM rr GROUP BY 1),
         |agg AS (
         |  SELECT count(1) AS touched,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(20 - mj AS INT)) AS BIGINT)
         |      AS s_touched
         |  FROM regs),
         |est AS (
         |  SELECT CAST($M - touched AS BIGINT) AS v_zero,
         |    (CAST($AlphaPpm AS BIGINT) * ${M * M} * 1048576)
         |      // (CAST(1000000 AS BIGINT)
         |          * (s_touched + ($M - touched) * 1048576)) AS hll_raw
         |  FROM agg),
         |tot AS (
         |  SELECT count(DISTINCT l_orderkey % 8) AS n_shards,
         |    count(1) AS total_rows
         |  FROM lineitem)
         |SELECT
         |  CASE WHEN est.v_zero > 0 AND est.hll_raw <= ${(2.5 * M).toLong}
         |    THEN CAST(list_extract([${LcTable.mkString(", ")}],
         |                           CAST(est.v_zero AS INT)) AS BIGINT)
         |    ELSE est.hll_raw END AS est_parts,
         |  tot.n_shards, tot.total_rows
         |FROM est, tot""".stripMargin
    },
  )
}
