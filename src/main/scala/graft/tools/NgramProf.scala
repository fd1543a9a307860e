package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: phase-level timing of the exact-Jaccard ngram pair build
  * (the `_shared_ngram_build` bench line) — explode/groupBy postings,
  * sizes, pair generation, final joins — to aim optimization at the
  * phase that actually dominates at a given sf. Not shipped surface.
  *
  * Usage: `runMain graft.tools.NgramProf <sfDir>`
  */
object NgramProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession()
    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $name%-18s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    // warm the page cache so phases measure compute, not cold NVMe
    t("warm_scan") {
      graft.Tables.documents(spark, sfDir).agg(sum(length(col("text")))).count()
    }
    val maxDf = 32
    val posts = t("posts_build") {
      val p = graft.dedup.Dedup.docsWithNearDups(spark, sfDir)
        .select(col("doc_id"),
          explode(graft.dedup.SignatureExprs.shingleHashes(col("text"), 3)).as("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) <= maxDf)
        .cache()
      p.count()
      p
    }
    val sizes = t("sizes") {
      val s0 = posts.select(explode(col("ids")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .cache()
      s0.count()
      s0
    }
    val inter = t("pairs_agg") {
      val i0 = posts
        .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
        .select(col("id_a"),
          explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_inter"))
        .cache()
      i0.count()
      i0
    }
    t("join_filter") {
      inter
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .filter(col("jaccard") >= 0.6)
        .count()
    }
    t("join_bcast") {
      inter
        .join(broadcast(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a")), "id_a")
        .join(broadcast(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b")), "id_b")
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .filter(col("jaccard") >= 0.6)
        .count()
    }
    t("join_shash") {
      inter
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a").hint("shuffle_hash"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b").hint("shuffle_hash"), "id_b")
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .filter(col("jaccard") >= 0.6)
        .count()
    }
    t("inter_count") { println(s"[prof]   inter rows = ${inter.count()}") }
    t("posts_count") { println(s"[prof]   posts rows = ${posts.count()}") }
    t("stats") {
      println("[prof]   min/max n_sh = " +
        sizes.agg(min(col("n_sh")), max(col("n_sh"))).collect().head)
      println("[prof]   inter cnt>=4 = " +
        inter.filter(col("n_inter") >= 4).count())
      println("[prof]   inter cnt>=8 = " +
        inter.filter(col("n_inter") >= 8).count())
    }
    // packed-key variant of pair aggregation (ids < 2^31 here)
    t("pairs_packed") {
      posts
        .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
        .select((col("id_a") * 4194304L +
          explode(slice(col("ids"), col("i") + 2, size(col("ids"))))).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n_inter"))
        .filter(col("n_inter") >= 4)
        .count()
    }
    // threshold-then-join variant end-to-end (generation unchanged)
    t("thresh_join") {
      val minN = sizes.agg(min(col("n_sh")).as("mn"))
      val surv = inter.crossJoin(broadcast(minN))
        .filter(col("n_inter") * 4 >= col("mn") * 3)
      surv
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a").hint("shuffle_hash"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b").hint("shuffle_hash"), "id_b")
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .filter(col("jaccard") >= 0.6)
        .count()
    }
    spark.stop()
  }
}
