package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.emf.{EmfParser, EmfPlanner}

/** CLI: run MF/EMF spec queries against the testdata `sales_view`.
  *
  * The Spark-native equivalent of the reference's
  * `AdhocQueryProcessor.main` + generated `QueryProcessorN.main`
  * (reference `src/AdhocQueryProcessor.java:688-693`), minus the Swing
  * file chooser and the compile-the-generated-Java step: parse → plan →
  * execute happen in one process on Catalyst plans.
  *
  * Usage: EmfRun <specFile> [sfDir] [--explain] [--fact <parquetPath>]
  *               [--save <dir>]
  * With `--fact`, queries run over an arbitrary parquet table instead of
  * the derived `sales_view` — the engine is schema-agnostic; column
  * names in the spec are validated against the fact schema.
  * With `--save`, each query's result is ALSO written to `<dir>/qN` as
  * parquet with the spec text alongside (`<dir>/spec.txt`) — the
  * persisted-artifact analog of the reference's generated re-runnable
  * `QueryProcessorN` programs: the sink re-reads as a table, the spec
  * re-runs against any fact. Each save is verified by re-reading the
  * sink and comparing an order-independent digest against the live
  * plan (EMF output is a bag; parquet drops row order).
  */
object EmfRun {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: EmfRun <specFile> [sfDir] [--explain] [--fact <path>] [--save <dir>]")
    val specFile = args(0)
    val factPath = args.sliding(2).collectFirst {
      case Array("--fact", p) => p
    }
    val saveDir = args.sliding(2).collectFirst {
      case Array("--save", p) => p
    }
    val sfDir = args.drop(1).filter(!_.startsWith("--"))
      .filterNot(factPath.contains).filterNot(saveDir.contains).headOption
      .getOrElse("/root/testdata/sf0.001")
    val explain = args.contains("--explain")
    val spark = GraftSession(Seq("spark.app.name" -> "graft-emf"))
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(specFile)), "UTF-8")
    val fact = factPath match {
      case Some(p) => spark.read.parquet(p)
      case None    => Tables.salesView(spark, sfDir)
    }
    execute(spark, text, fact, explain, saveDir)
    spark.stop()
  }

  /** Parse → plan → show each query; optionally persist results +
    * spec as a re-runnable artifact. Factored from [[main]] so specs
    * can drive the exact CLI code path on a shared test session. */
  private[graft] def execute(spark: SparkSession, text: String,
      fact: DataFrame, explain: Boolean, saveDir: Option[String]): Unit = {
    // two frontends, one AST: the reference's positional format, or the
    // papers' `GROUP BY …; … SUCH THAT …` SQL (auto-detected)
    val queries =
      if (graft.emf.MfSqlParser.looksLikeSql(text))
        graft.emf.MfSqlParser.parseAll(text, fact.columns.toSet)
      else EmfParser.parseAll(text, fact.columns.toSet)
    saveDir.foreach { root =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/spec.txt"), text.getBytes("UTF-8"))
    }
    queries.zipWithIndex.foreach { case (q, i) =>
      println(s"=== query ${i + 1}: select ${q.select.mkString(",")}")
      val df = EmfPlanner.plan(q, fact)
      if (explain) df.explain("formatted")
      df.persist()
      try {
        df.show(20, truncate = false)
        println(s"Total Records: ${df.count()}") // served from the cache
        saveDir.foreach { root =>
          val out = s"$root/q${i + 1}"
          df.write.mode("overwrite").parquet(out)
          val back = spark.read.parquet(out)
            .select(df.columns.map(org.apache.spark.sql.functions.col): _*)
          require(digest(back) == digest(df),
            s"saved sink $out does not re-read digest-equal to the plan")
          println(s"Saved: $out (verified, digest-equal on re-read)")
        }
      } finally df.unpersist()
    }
  }

  /** Order-independent (count, Σ row-hash) digest over name-sorted
    * columns — the project's standard bag-equality evidence (the hash
    * sum rides decimal(38,0): ANSI sum(long) throws on overflow). */
  private[graft] def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h")).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
