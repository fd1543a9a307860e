package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder behind every graft `main`: Bench, Verify, the
  * CLIs and the dev tools all run with [[defaults]].
  *
  * A tool passes its deliberate extras as `overrides` (SkewDemo's AQE skew
  * confs, say). Every default and override yields to a `-Dspark.*` system
  * property, which `SparkConf` loads, so
  * `-Dspark.sql.shuffle.partitions=256` sets the shuffle width at every
  * entry point — the same precedence as the `spark.graft.*` gate confs.
  * `SPARK_GRAFT_CPUS` (default 4) sets the local core count.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def defaults: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // testdata tables are a handful of MB-sized files; the 128 MB
    // default bin-packs them into ONE scan split, serializing every
    // CPU-bound per-row pipeline (shingles, signatures, regex). 4 MB
    // keeps ~file-per-split here; at warehouse scale the default is
    // right because scans have thousands of splits regardless.
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.ui.enabled" -> "false")

  /** The confs a session is built with: [[defaults]] with `overrides` on
    * top, less every key `held` already sets. */
  private[graft] def settings(held: SparkConf,
      overrides: Seq[(String, String)]): Seq[(String, String)] = {
    val keys = overrides.map(_._1).toSet
    (defaults.filterNot(kv => keys(kv._1)) ++ overrides).filterNot(kv => held.contains(kv._1))
  }

  def apply(overrides: Seq[(String, String)] = Nil, logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
    settings(new SparkConf(), overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
