package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.SignatureExprs

/** Incrementally-maintained MinHash-LSH index over a DOCUMENT STREAM —
  * the online form of [[graft.dedup.Dedup]]'s batch `dedup_minhash`: a
  * crawler feed is deduplicated as it arrives instead of re-banding the
  * whole corpus per refresh.
  *
  * Design: banding is STATELESS (a document's (band, key) postings
  * depend only on its own text — codegen'd shingle→minhash
  * expressions), so the streaming part is pure bookkeeping and the
  * index lives where corpus state belongs: in a table, not in executor
  * memory. Each micro-batch
  *
  *   1. bands its new documents (scan-shaped, no shuffle),
  *   2. probes the accumulated postings table on (band, key) — a
  *      key-equi join that touches only colliding buckets — and emits
  *      (old, new) candidate pairs, plus new-vs-new pairs within the
  *      batch via the same grouped-postings generation the batch
  *      operator uses,
  *   3. appends its postings to the index table.
  *
  * Detect-BEFORE-append ordering makes each pair surface exactly once
  * (when its later member arrives), so the union of per-batch
  * candidates equals the batch-mode banding of the full corpus —
  * asserted pair-for-pair in StreamingSpec. At 100 TB the postings
  * table is bucketed by (band, key) (the probe join then co-locates
  * with zero shuffle of the index) and batches compact into it; the
  * per-batch cost is proportional to the BATCH, never the corpus.
  *
  * Exactly-once: foreachBatch's contract is at-least-once PER BATCH —
  * the sink must make retries idempotent itself. Both sinks here are:
  * each micro-batch OVERWRITES its own `batch=<batchId>` subdirectory
  * (the batchId-keyed-path recipe from foreachBatch's documentation),
  * so a retry after a partial write replaces the partial output instead
  * of appending next to it, and the index probe reads only OTHER
  * batches' completed (`_SUCCESS`-marked) subdirectories — a retry
  * cannot pair a batch against its own partial postings. Retry ≡
  * first-run is asserted in StreamingSpec by re-running `processBatch`
  * mid-stream. A real deployment would still prefer a transactional
  * table format, which subsumes the directory bookkeeping.
  */
object MinHashIndex {

  /** Stateless LSH postings of a (doc_id, text) frame: k minhashes in
    * one codegen'd pass, `bands` keys per doc. */
  def postings(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    val rows = k / bands
    docs
      .withColumn("mh", SignatureExprs.minhashFromHashes(
        SignatureExprs.shingleHashes(col("text"), 3), k))
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(bd =>
          xxhash64(slice(col("mh"), bd * rows + 1, rows), lit(bd))): _*))
          .as(Seq("band", "key")))
  }

  /** SimHash variant of [[postings]]: 8×8-bit banded buckets of the
    * 64-bit sign-vote signature (the batch `dedup_simhash` banding).
    * Everything downstream — cross/within pair generation, the
    * foreachBatch bookkeeping — is signature-agnostic, so the SAME
    * incremental indexer maintains a SimHash index by swapping this in
    * (stream ≡ batch asserted in StreamingSpec for both). Candidates
    * here still need the hamming≤d verify join against stored
    * signatures, exactly as in batch. */
  def simhashPostings(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig", SignatureExprs.simhash64Fast(col("text")))
      .select(col("doc_id"),
        posexplode(array((0 until 8).map(i =>
          shiftright(col("sig"), i * 8).bitwiseAND(lit(0xFFL))): _*))
          .as(Seq("band", "key")))

  /** Normalized candidate pairs (id_a < id_b) between two posting
    * frames joined on (band, key). */
  private[graft] def crossPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("band"), col("key"), col("doc_id").as("ia"))
      .join(b.select(col("band"), col("key"), col("doc_id").as("ib")),
        Seq("band", "key"))
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))

  /** Same-frame pairs via grouped postings (ids sorted per bucket ⇒
    * id_a < id_b by construction — the batch operator's shape). */
  private[graft] def withinPairs(p: DataFrame): DataFrame =
    p.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))

  /** Completed (`_SUCCESS`-marked) `batch=*` subdirectories under
    * `dir`, excluding `notBatch` — the probe-safe view of the index: a
    * retried batch must never see its own (possibly partial) postings,
    * and a crashed write without its `_SUCCESS` marker must stay
    * invisible until its retry overwrites it. */
  private def completedBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String, notBatch: Long): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(_.getPath.getName != s"batch=$notBatch")
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
  }

  /** One micro-batch of the indexer, IDEMPOTENT under retry: probe the
    * completed index (other batches only), overwrite this batch's pair
    * and posting subdirectories. Factored out of [[start]] so the
    * retry-safety contract is directly testable (StreamingSpec re-runs
    * it against a half-written state). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, pairsDir: String,
      banding: DataFrame => DataFrame): Unit = {
    val s = batch.sparkSession
    val np = banding(batch).cache()
    try {
      val prior = completedBatches(s, indexDir, batchId)
      val vs =
        if (prior.nonEmpty) crossPairs(np, s.read.parquet(prior: _*))
        else s.emptyDataFrame
          .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
      vs.union(withinPairs(np)).distinct()
        .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      np.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    } finally { np.unpersist(); () }
  }

  /** Start the incremental indexer: `docs` is a STREAMING (doc_id,
    * text) frame; postings accumulate under `indexDir`, candidate pairs
    * under `pairsDir` (both as `batch=<id>` subdirectories — read the
    * parent directory for the full table). `banding` maps a (doc_id,
    * text) batch to its (doc_id, band, key) postings — [[postings]]
    * (MinHash, default) and [[simhashPostings]] both fit; the
    * bookkeeping is signature-agnostic. */
  def start(docs: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String,
      banding: DataFrame => DataFrame = postings(_)): StreamingQuery = {
    graft.io.LocalFs.install(docs.sparkSession)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir, pairsDir, banding)
      }
      .start()
  }
}
