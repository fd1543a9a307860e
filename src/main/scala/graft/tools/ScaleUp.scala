package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic scale-up replicator for scale rehearsals (VERDICT r3 §7):
  * writes a `factor`× copy of a testdata directory with the SAME schemas
  * and distributions, so the bench and the DuckDB oracle run unchanged at
  * the larger scale.
  *
  * Replication is key-shifted, not naive duplication:
  *  - Surrogate keys shift by `copy × stride` (stride = max(key)+1), with
  *    every foreign key shifted by ITS parent's stride — copy k of
  *    lineitem references copy k of orders/part/supplier, so join
  *    fan-outs scale exactly linearly (asserted in ScaleUpSpec).
  *  - `nation`/`region` stay fixed (as in TPC-H, they are scale-free).
  *  - Group-key attributes that must stay 1:1 with their key (`c_name`,
  *    `s_name` — the EMF corpus groups by cust name) get a copy suffix.
  *  - `documents.text`: every 3rd word is replaced by a copy+position
  *    token (`c<k>w<i>`) for copies k>0. Within a copy the near-dup
  *    fixture structure is untouched (near-dups are DERIVED from stored
  *    text at query time), while ACROSS copies every 3-gram shingle
  *    contains a replaced position → cross-copy Jaccard ≈ 0, and the
  *    SimHash word multiset loses/gains n/3 distinct votes → cross-copy
  *    hamming far above the dedup threshold. Token COUNT is unchanged
  *    (replace, not insert), so token-sum queries scale exactly.
  *  - `embeddings.embedding`: component-wise multiplicative noise
  *    `x·(1+u)`, u deterministic in [-1,1] from xxhash64(k, vec_id, i) —
  *    cross-copy cosine drops to ≈0.87, far below the 0.99 near-dup
  *    threshold, while within-copy near-dup derivation is unaffected.
  *
  * Everything is a single distributed plan per table (crossJoin with a
  * broadcast `copy` range — no driver-side loops); output is written as
  * multi-file parquet directories so scan parallelism grows with the data
  * exactly as it would on a cluster.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>`
  */
object ScaleUp {

  private def stride(df: DataFrame, key: String): Long = {
    val row = df.agg(max(col(key).cast("long"))).head
    // an empty source table has a NULL max — fail with the table/key name
    // instead of an opaque NPE from getLong
    require(!row.isNullAt(0), s"empty source table: cannot take stride of $key")
    row.getLong(0) + 1L
  }

  /** df × copies 0..factor-1, with a `__k` copy column (broadcast range —
    * one scan of the source, factor× output, no shuffle). */
  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(broadcast(
      df.sparkSession.range(factor).select(col("id").cast("int").as("__k"))))

  private def shifted(c: String, s: Long): Column =
    col(c) + col("__k").cast("long") * s

  /** Copy-suffix a name column for k>0 so name↔key stays 1:1. */
  private def uniquified(c: String): Column =
    when(col("__k") === 0, col(c))
      .otherwise(concat(col(c), lit("_"), col("__k").cast("string")))

  /** Injective per-copy word renaming for copies k>0: w → "c<k>_w".
    *
    * Injectivity means shingle sets (and word multisets) map 1:1, so every
    * within-copy Jaccard value is EXACTLY the copy-0 value — near-dup pair
    * structure (fixture pairs AND naturally-similar template pairs)
    * replicates per copy and pair counts scale exactly linearly. Every
    * word carries the copy tag, so cross-copy shingle sets are disjoint.
    * Unrelated docs within a copy share exactly the words they naturally
    * share in copy 0 — no artificial shared-token drift (the flaw of the
    * earlier every-3rd-word position-token scheme, which gave unrelated
    * docs ~1/3 identical token multisets). */
  private def perturbedText(c: String): Column =
    when(col("__k") === 0, col(c)).otherwise(
      concat_ws(" ", transform(split(col(c), " "),
        w => concat(lit("c"), col("__k").cast("string"), lit("_"), w))))

  /** Component-wise multiplicative noise x·(1+u), u ∈ [-1,1] from
    * xxhash64(k, vec_id, i); identity for copy 0. */
  private def perturbedEmb(c: String, id: String): Column =
    when(col("__k") === 0, col(c)).otherwise(
      transform(col(c), (x, i) =>
        (x.cast("double") *
          (lit(2.0) * pmod(xxhash64(col("__k"), col(id), i), lit(2001))
            .cast("double") / 2000.0)).cast("float")))

  def run(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def t(n: String) = Tables.table(spark, srcDir, n)
    def write(df: DataFrame, n: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$outDir/$n.parquet")

    val ord  = stride(t("orders"), "o_orderkey")
    val cust = stride(t("customer"), "c_custkey")
    val part = stride(t("part"), "p_partkey")
    val supp = stride(t("supplier"), "s_suppkey")
    val doc  = stride(t("documents"), "doc_id")
    val vec  = stride(t("embeddings"), "vec_id")
    val evt  = stride(t("events"), "event_id")
    val user = stride(t("events"), "user_id")

    // scale-free dimensions: copy through unchanged
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    write(replicate(t("customer"), factor).select(
      shifted("c_custkey", cust).as("c_custkey"),
      uniquified("c_name").as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", factor)

    write(replicate(t("supplier"), factor).select(
      shifted("s_suppkey", supp).as("s_suppkey"),
      uniquified("s_name").as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    write(replicate(t("part"), factor).select(
      shifted("p_partkey", part).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")),
      "part", factor)

    write(replicate(t("orders"), factor).select(
      shifted("o_orderkey", ord).as("o_orderkey"),
      shifted("o_custkey", cust).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders", factor)

    write(replicate(t("lineitem"), factor).select(
      shifted("l_orderkey", ord).as("l_orderkey"),
      shifted("l_partkey", part).as("l_partkey"),
      shifted("l_suppkey", supp).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")),
      "lineitem", factor)

    // events.ts arrives as TIMESTAMP(NANOS) (read as long under
    // nanosAsLong); Spark cannot write nanos back, so persist the
    // micros-truncated TIMESTAMP both engines already agree on
    // (Tables.events truncates identically on the nanos path).
    val evts = {
      val raw = replicate(t("events"), factor)
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts DIV 1000"))
        case _ => col("ts")
      }
      raw.select(
        shifted("event_id", evt).as("event_id"),
        ts.as("ts"),
        shifted("user_id", user).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    write(evts, "events", factor)

    write(replicate(t("documents"), factor)
      .withColumn("__text", perturbedText("text"))
      .select(
        shifted("doc_id", doc).as("doc_id"),
        col("__text").as("text"),
        col("lang"), col("source"),
        length(col("__text")).cast("long").as("n_chars")),
      "documents", factor)

    write(replicate(t("embeddings"), factor).select(
      shifted("vec_id", vec).as("vec_id"),
      perturbedEmb("embedding", "vec_id").as("embedding"),
      col("label")),
      "embeddings", factor)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val spark = graft.GraftSession(Seq("spark.sql.shuffle.partitions" -> "32"))
    run(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }
}
