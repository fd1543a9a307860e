package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI: the end-to-end LLM training-data pipeline over `documents` —
  * the composition a real 100 TB preprocessing job runs, built entirely
  * from this library's operators:
  *
  *   1. exact dedup (hash-bucketed survivor per identical text)
  *   2. near-dedup (MinHash LSH candidates → exact-Jaccard verify → drop
  *      the larger doc_id of each duplicate pair)
  *   3. quality filter (stopword/punctuation composite score)
  *   4. language ID + token statistics + fingerprint annotation
  *   5. partitioned parquet sink (pruning-friendly layout)
  *
  * Usage: PipelineRun [sfDir] [outDir]
  */
object PipelineRun {

  /** The pipeline as a function (tested in PipelineSpec). */
  def run(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.TextAnalysis

    // 1+2: survivors after exact and near dedup over the augmented corpus
    val survivors = Dedup.queries("dedup_pipeline")(s, dir)
    val corpus = Dedup.docsWithNearDups(s, dir)
      .join(survivors, Seq("doc_id")) // keep survivors only

    // 3: quality features + filter. Degenerate docs (empty text) are
    // dropped FIRST — under ANSI mode a 0-length text would otherwise be
    // a DIVIDE_BY_ZERO in the ratio features, and they carry no signal.
    val nonEmpty = corpus.filter(length(trim(col("text"))) > 0)
    val ws = split(col("text"), " ")
    val nWords = size(ws).cast("double")
    val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is")
    val nStop = size(filter(ws, w => w.isin(stop: _*))).cast("double")
    val nPunct = regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("double")
    val nChars = length(col("text")).cast("double")
    val scored = nonEmpty
      .withColumn("quality", (nStop / nWords) * 2.0 - (nPunct / nChars) * 5.0)
      .filter(col("quality") > -0.5)

    // 4: annotations (language ID markers, token stats, fingerprint)
    val en = Seq("the", "and", "of", "to", "a")
    val keyed = zip_with(ws, sequence(lit(1), size(ws)),
      (w, i) => (length(w) * 131 + ascii(w) * 7 + ascii(substring(w, -1, 1))).cast("long") * i)
    scored.select(
      col("doc_id"), col("text"), col("quality"),
      when(size(filter(ws, w => w.isin(en: _*))) > 0, "en").otherwise("other").as("lang_guess"),
      size(ws).as("n_tokens"),
      size(array_distinct(ws)).as("n_distinct_tokens"),
      pmod(aggregate(keyed, lit(0L), (acc, x) => acc + x), lit(1000000007L)).as("fingerprint"),
      pmod(col("doc_id"), lit(16)).as("shard"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft_pipeline").toString)
    val spark = GraftSession(Seq("spark.app.name" -> "graft-pipeline"))
    val out = run(spark, sfDir)
    graft.sources.Sources.writePartitioned(out, outDir, "shard")
    val n = spark.read.parquet(outDir).count()
    println(s"pipeline wrote $n documents to $outDir (partitioned by shard)")
    spark.stop()
  }
}
