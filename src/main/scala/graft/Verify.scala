package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: extra args restrict the run to the named queries
    // (the driver always runs the full set)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.filter(n => only.isEmpty || only(n))
    Memo.schedule(names).foreach { step =>
      val name = step.entry
      // progress marker BEFORE the action: a stalled run then names its
      // culprit in the log instead of requiring a thread-dump autopsy
      System.err.println(s"[verify] running $name")
      // GRAFT_VERIFY_COALESCE=0 keeps the result's natural partitioning
      // (the driver's sf0.01 gate likes one tidy file; a full-surface
      // sf10+ dump through coalesce(1) serializes every final stage —
      // the comparator reads <name>/*.parquet either way)
      try {
        val out0 = SparkEntry.queries(name)(spark, sfDir)
        val out =
          if (sys.env.get("GRAFT_VERIFY_COALESCE").contains("0")) out0
          else out0.coalesce(1)
        out.write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // EMF frames are per-plan; drop them once the action is done. A
      // memo family dies after its last consumer in this order.
      graft.emf.EmfPlanner.unpersistAll()
      step.evicts.foreach(Memo.evict)
    }
    Memo.evictAll()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // scale-form substitutions for the sf10+ comparator (primary forms
    // stay in oracle_sql.json — the driver's gate only reads that file)
    val scaleJson = SparkEntry.oracleSqlScale
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scale.json"), scaleJson)
    // margin diagnostics check_scale_form.py records next to green stamps
    val probeJson = SparkEntry.oracleMarginProbes
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(
      Paths.get(s"$outDir/oracle_margin_probes.json"), probeJson)
    spark.stop()
  }
}
