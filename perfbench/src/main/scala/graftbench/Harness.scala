package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.{SparkEntry, Tables}
import graft.emf.{EmfParser, EmfPlanner, EmfStreaming, GoldenQueries}

/** One closed-loop benchmark run in one JVM: a single client issues ops
  * back to back until the time budget is spent, against the engine's
  * public entry points only (`EmfParser.parseOne`, `EmfPlanner.plan`,
  * `GoldenQueries.salesViewCached`, `EmfStreaming.planAuto` / `snapshot`,
  * `SparkEntry.queries`). It writes one JSON record of raw timings, result
  * digests and (traced runs) spans; `perfbench/run.py` turns that into
  * metrics and checks the digests against DuckDB.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), data
  * (fixture parquet dir), work (scratch dir), specs (adhoc spec file),
  * block (adhoc queries per block), out (JSON path), cpus, reps (set-up
  * repetitions), min_rounds (whole rounds timed at least), files (stream
  * micro-batch files), entries (the surface workload's `SparkEntry.queries`
  * names, comma-separated).
  */
object Harness {
  type Rec = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val conf = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val t0 = Clock.nowMs
    val cpus = conf("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - t0) / 1e3
    val run = new Run(spark, conf)
    val out = run.execute()
    out("session_s") = sessionS
    out("provenance") = Map(
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "cpus" -> cpus.toInt,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(conf("out")), out)
  }
}

final class Run(spark: SparkSession, conf: Map[String, String]) {
  import Harness.Rec
  private val sc = spark.sparkContext
  private val workload = conf("workload")
  private val seed = conf("seed").toLong
  private val budgetMs = conf("seconds").toDouble * 1e3
  private val traced = conf("trace") == "1"
  private val dataDir = conf("data")
  private val workDir = conf("work")
  private val reps = conf("reps").toInt
  /** Whole rounds (adhoc blocks, stream rounds, surface passes) a run
    * times at least, however short its time budget, so the tail
    * percentile always has samples beyond it. */
  private val minRounds = conf("min_rounds").toInt
  /** A traced run records every op's spans and keeps its own listener
    * attached from start to end; an untraced run does neither. */
  private val listener = if (traced) Some(new TraceListener) else None
  listener.foreach(sc.addSparkListener)

  private val ops = mutable.ArrayBuffer[Rec]()
  private val setups = mutable.ArrayBuffer[Rec]()
  private val checks = mutable.LinkedHashMap[String, Any]()
  private val cases = mutable.ArrayBuffer[Map[String, Any]]()
  private val out: Rec = mutable.LinkedHashMap("workload" -> workload, "seed" -> seed)

  def execute(): Rec = {
    workload match {
      case "adhoc" => adhoc()
      case "stream" => stream()
      case "surface" => surface()
      case other => sys.error(s"unknown workload '$other'")
    }
    listener.foreach { l =>
      org.apache.spark.graftbench.BusBridge.drain(sc)
      val (jobs, stages) = l.records
      out("jobs") = jobs
      out("stages") = stages
    }
    out("setups") = setups.map(_.toMap)
    out("ops") = ops.map(_.toMap)
    out("checks") = checks.toMap
    out("cases") = cases
    out("sales_view_sql") = Tables.salesViewSql
    out
  }

  // ---- shared pieces --------------------------------------------------------

  /** Storage memory held by cached blocks (the fact cache plus any MF
    * frames the planner persisted), in MiB. */
  private def storageMb: Double =
    sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Set-up of the adhoc workload, `reps` times: evict, then build the
    * cached `sales_view` by a count (the memo build the engine's own
    * bench bills to `_shared_sales_view`). */
  private def setUpFact(): DataFrame = {
    var fact: DataFrame = null
    for (_ <- 0 until reps) {
      GoldenQueries.clearCache()
      EmfPlanner.unpersistAll()
      val t0 = Clock.nowMs
      fact = GoldenQueries.salesViewCached(spark, dataDir)
      val n = fact.count()
      setups += setupRec(t0, n)
    }
    fact
  }

  /** One query op: parse the spec text, plan it, collect the result.
    * Wall time covers exactly those three calls; the digest, the traced
    * plan inspection and the cache eviction that follow are untimed. */
  private def queryOp(id: Int, qid: String, text: String, fact: DataFrame): Rec = {
    val rec: Rec = mutable.LinkedHashMap("id" -> id, "q" -> qid, "kind" -> "query")
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val before = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
    val t0 = Clock.nowMs
    try {
      val q = EmfParser.parseOne(text, fact.columns.toSet)
      val t1 = Clock.nowMs
      val df = EmfPlanner.plan(q, fact)
      val t2 = Clock.nowMs
      val rows = df.collect()
      val t3 = Clock.nowMs
      rec ++= Seq("t0" -> t0, "t1" -> t3, "wall_s" -> (t3 - t0) / 1e3,
        "rows" -> rows.length, "digest" -> Digest(df.columns.toSeq, rows))
      if (traced) {
        rec ++= Seq("parse" -> Seq(t0, t1), "plan" -> Seq(t1, t2),
          "action" -> Seq(t2, t3),
          "catalyst" -> Trace.catalystPhases(df),
          "physical" -> Trace.physicalCounts(df),
          "plan_persisted" -> (sc.getPersistentRDDs.keySet -- before).size)
      }
    } catch {
      case e: Throwable =>
        rec ++= Seq("t0" -> t0, "t1" -> Clock.nowMs, "err" -> errText(e))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    rec("held_mb") = storageMb
    EmfPlanner.unpersistAll()
    rec
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400)

  private def setupRec(t0: Double, factRows: Long): Rec = mutable.LinkedHashMap(
    "setup_s" -> (Clock.nowMs - t0) / 1e3, "fact_rows" -> factRows, "storage_mb" -> storageMb)

  /** The golden corpus as spec text, one block per query (q1..q8). */
  private val corpusTexts: Seq[String] =
    GoldenQueries.corpus.split("(?m)^\\s*~\\s*$").map(_.trim).filter(_.nonEmpty).toSeq ++
      Seq(GoldenQueries.corpus7, GoldenQueries.corpus8)

  // ---- adhoc ----------------------------------------------------------------

  /** Generated specs: blocks separated by `~` lines, each preceded by an
    * `#id` header line. */
  private def readSpecs(): Seq[(String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(conf("specs"))), "UTF-8")
    text.split("(?m)^~\\s*$").map(_.trim).filter(_.nonEmpty).toSeq.map { b =>
      val (head, body) = b.span(_ != '\n')
      head.stripPrefix("#").trim -> body.trim
    }
  }

  private def adhoc(): Unit = {
    val specs = readSpecs()
    val warm = specs.filter(_._1.startsWith("w"))
    val timed = specs.filterNot(_._1.startsWith("w"))
    val fact = setUpFact()
    // one priming block, untimed and checked: the first query of each
    // template shape pays codegen and JIT that later blocks reuse
    val p0 = Clock.nowMs
    warm.zipWithIndex.foreach { case ((qid, text), k) =>
      checks(qid) = queryOp(-100 - k, qid, text, fact).get("digest").orNull
    }
    out("prime_s") = (Clock.nowMs - p0) / 1e3
    // whole blocks only, so every run sees the generator's template mix
    val blocks = timed.grouped(conf("block").toInt)
    val start = Clock.nowMs
    var k = 0
    var done = 0
    while (Clock.nowMs - start < budgetMs || done < minRounds) {
      require(blocks.hasNext, "adhoc spec list ran out before the time budget")
      blocks.next().foreach { case (qid, text) => ops += queryOp(k, qid, text, fact); k += 1 }
      done += 1
    }
    out("timed_ms") = Clock.nowMs - start
  }

  // ---- stream ---------------------------------------------------------------

  private def stream(): Unit = {
    val files = conf("files").toInt
    val stageDir = s"$workDir/stage"
    val warmDir = s"$workDir/stage_warm"
    val view = Tables.salesView(spark, dataDir)
    val factCols = view.columns.toSet
    val parsed = corpusTexts.zipWithIndex.map { case (t, i) =>
      s"emf_q${i + 1}" -> EmfParser.parseOne(t, factCols) }
    val accepted = mutable.ArrayBuffer[(String, graft.emf.EmfQuery)]()
    val rejected = mutable.LinkedHashMap[String, String]()
    var schema: org.apache.spark.sql.types.StructType = null
    var nRows = 0L
    for (_ <- 0 until reps) { // set-up: stage the files
      val t0 = Clock.nowMs
      deleteDir(stageDir)
      view.repartition(files).write.parquet(stageDir)
      schema = spark.read.parquet(stageDir).schema
      nRows = spark.read.parquet(stageDir).count()
      setups += setupRec(t0, nRows)
    }
    // the priming case's input: a 2-file subset
    deleteDir(warmDir)
    spark.read.parquet(stageDir).limit(2000).repartition(2).write.parquet(warmDir)
    // which corpus queries have an incremental lowering; a rejected one
    // is reported, not dropped silently
    parsed.foreach { case (qid, q) =>
      try {
        EmfStreaming.planAuto(q, spark.readStream.schema(schema).parquet(warmDir))
        accepted += qid -> q
      } catch { case e: Throwable => rejected(qid) = errText(e) }
    }
    out("rejected") = rejected.toMap
    out("accepted") = accepted.map(_._1)
    // one priming case on a 2-file subset, untimed and checked: the first
    // stream in a JVM pays state-store and stream-execution start-up
    val p0 = Clock.nowMs
    runCase(-100, accepted.head._1, accepted.head._2, warmDir, schema)
    out("prime_s") = (Clock.nowMs - p0) / 1e3
    val rng = new scala.util.Random(seed)
    val start = Clock.nowMs
    var caseId = 0
    while (Clock.nowMs - start < budgetMs || caseId < minRounds * accepted.size) {
      // whole rounds only: every accepted query once per round
      for ((qid, q) <- rng.shuffle(accepted.toList)) {
        runCase(caseId, qid, q, stageDir, schema)
        caseId += 1
      }
    }
    out("timed_ms") = Clock.nowMs - start
    out("stream_rows") = nRows
  }

  /** One stream case: `planAuto` over the staged files, one file per
    * trigger, to the end of the input. Every micro-batch is an op; its
    * wall is the trigger's own duration. The snapshot check that follows
    * is untimed. */
  private def runCase(caseId: Int, qid: String, q: graft.emf.EmfQuery, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val sinkDir = s"$workDir/sink_$caseId"
    deleteDir(sinkDir)
    sc.setLocalProperty(Trace.OpProperty, s"case$caseId")
    val caseRec: Rec = mutable.LinkedHashMap("case" -> caseId, "q" -> qid, "kind" -> "case")
    val t0 = Clock.nowMs
    try {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      val sp = EmfStreaming.planAuto(q, src)
      val t1 = Clock.nowMs
      val sq = sp.df.writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode(if (sp.usesSnapshot) "append" else "overwrite").parquet(sinkDir)
        }
        .outputMode(if (sp.usesSnapshot) OutputMode.Update else OutputMode.Complete)
        .start()
      try sq.processAllAvailable() finally sq.stop()
      val t2 = Clock.nowMs
      caseRec ++= Seq("t0" -> t0, "t1" -> t2, "plan" -> Seq(t0, t1), "snapshot" -> sp.usesSnapshot)
      val progress = sq.recentProgress.filter(_.numInputRows > 0)
      if (caseId >= 0) progress.foreach(p => ops += batchRec(caseId, qid, p))
      caseRec("state_mb") = progress.lastOption.map(stateBytes).getOrElse(0L) / 1048576.0
      val c0 = Clock.nowMs
      val sink = spark.read.parquet(sinkDir)
      val snap = if (sp.usesSnapshot) EmfStreaming.snapshot(sink, q) else sink
      val snapRows = snap.collect()
      val b0 = Clock.nowMs
      val batch = EmfPlanner.plan(q, spark.read.parquet(dir))
        .select(snap.columns.map(org.apache.spark.sql.functions.col): _*)
      val batchRows = batch.collect()
      caseRec("batch_ms") = Clock.nowMs - b0
      EmfPlanner.unpersistAll()
      caseRec ++= Seq(
        "snapshot_digest" -> Digest(snap.columns.toSeq, snapRows),
        "batch_digest" -> Digest(batch.columns.toSeq, batchRows),
        "snapshot_rows" -> snapRows.length,
        "snapshot_ms" -> (Clock.nowMs - c0))
    } catch {
      case e: Throwable => caseRec ++= Seq("t0" -> t0, "t1" -> Clock.nowMs, "err" -> errText(e))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    deleteDir(sinkDir)
    cases += caseRec.toMap
  }

  private def stateBytes(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.memoryUsedBytes).sum

  private def batchRec(caseId: Int, qid: String, p: StreamingQueryProgress): Rec = {
    val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators
    mutable.LinkedHashMap(
      "id" -> s"$caseId.${p.batchId}", "case" -> caseId, "q" -> qid, "kind" -> "micro",
      "t0" -> t0, "t1" -> (t0 + p.batchDuration), "wall_s" -> p.batchDuration / 1e3,
      "rows_in" -> p.numInputRows, "duration_ms" -> d,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "rows_updated" -> st.map(_.numRowsUpdated).sum,
      "state_mb" -> stateBytes(p) / 1048576.0)
  }

  // ---- surface --------------------------------------------------------------

  /** Module of every `SparkEntry.queries` entry: the package of its
    * provider, from each provider's own `queries.keySet`. The EMF lines
    * that `SparkEntry` lists itself make up `emf`. */
  private lazy val moduleOf: Map[String, String] = {
    import graft._
    val providers: Seq[(String, Seq[Map[String, _]])] = Seq(
      "operators" -> Seq(operators.RelationalQueries.queries, operators.Scale.queries,
        operators.Layout.queries, operators.Stats.queries, operators.Temporal.queries,
        operators.Quality.queries, operators.Mining.queries),
      "functions" -> Seq(functions.ScalarQueries.queries, functions.Custom.queries),
      "dedup" -> Seq(dedup.Dedup.queries, dedup.EditNeighbors.queries,
        dedup.SubstringDedup.queries),
      "ann" -> Seq(ann.Similarity.queries, ann.FixedPointAnn.queries, ann.Pca.queries,
        ann.KMeans.queries),
      "text" -> Seq(text.TextAnalysis.queries, text.Bpe.queries, text.LangIdNb.queries),
      "streaming" -> Seq(streaming.EventStreams.queries),
      "multimodal" -> Seq(multimodal.Multimodal.queries),
      "plans" -> Seq(plans.AsOfJoin.queries, plans.RangeJoin.queries),
      "pipeline" -> Seq(pipeline.DatasetPrep.queries, pipeline.CorpusOps.queries,
        pipeline.CorpusOverlap.queries, pipeline.Incremental.queries,
        pipeline.Sharding.queries),
      "sketch" -> Seq(sketch.CountMin.queries, sketch.Bloom.queries, sketch.Hll.queries,
        sketch.HeavyHitters.queries))
    val byProvider = for ((m, qs) <- providers; q <- qs; k <- q.keySet) yield k -> m
    SparkEntry.queries.keySet.map(k => k -> "emf").toMap ++ byProvider
  }

  /** A memoized frame several entries share, built on its own line before
    * its first consumer; and a family cache, evicted after its last
    * consumer. These are `graft.Bench`'s registry entries for the families
    * the surface subset touches. */
  private final case class Shared(name: String, consumers: Set[String], build: () => DataFrame)
  private final case class Family(consumers: Set[String], clear: () => Unit)

  private def sharedBuilds: Seq[Shared] = Seq(
    Shared("_shared_basket_pairs", Set("assoc_rules", "basket_pairs", "graph_pagerank",
      "graph_pagerank_converged", "graph_triangles"),
      () => graft.operators.Mining.pairsCached(spark, dataDir)),
    Shared("_shared_sales_view", Set("emf_batch", "emf_q1", "emf_q2", "emf_q3", "emf_q4",
      "emf_q5", "emf_q6", "emf_q7", "emf_q8"),
      () => GoldenQueries.salesViewCached(spark, dataDir)))

  private def families: Seq[Family] = Seq(
    Family(sharedBuilds(0).consumers, () => graft.operators.Mining.clearCache()),
    Family(sharedBuilds(1).consumers, () => GoldenQueries.clearCache()),
    Family(Set("dedup_embcos", "dedup_semantic", "emb_hard_negatives", "knn_brute"),
      () => graft.ann.Similarity.clearCache()))

  /** One surface op: an entry's frame, or a shared build's, made and
    * counted as `graft.Bench` does. Making the frame is the op's `plan`
    * span (eager jobs included), the count its `action` span. The
    * storage held at its end is recorded before any eviction. */
  private def surfaceOp(id: Int, name: String, kind: String, pass: Int,
      frame: () => DataFrame): Rec = {
    val rec: Rec = mutable.LinkedHashMap("id" -> id, "q" -> name, "kind" -> kind,
      "module" -> (if (kind == "shared") "shared" else moduleOf(name)), "pass" -> pass)
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = Clock.nowMs
    try {
      val df = frame()
      val t1 = Clock.nowMs
      val n = df.count()
      val t2 = Clock.nowMs
      rec ++= Seq("t0" -> t0, "t1" -> t2, "wall_s" -> (t2 - t0) / 1e3, "rows" -> n)
      if (traced) rec ++= Seq("plan" -> Seq(t0, t1), "action" -> Seq(t1, t2))
    } catch {
      case e: Throwable => rec ++= Seq("t0" -> t0, "t1" -> Clock.nowMs, "err" -> errText(e))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    rec("held_mb") = storageMb
    rec
  }

  /** The `graft.Bench` schedule over the subset: entries in name order,
    * each shared frame built on its own line before its first consumer,
    * per-plan EMF frames evicted after every entry and each family cache
    * after its last consumer. */
  private def surfacePass(pass: Int, entries: Seq[String], sink: Rec => Unit): Unit = {
    val fns = SparkEntry.queries
    val firstOf = sharedBuilds.flatMap(b => entries.find(b.consumers).map(_ -> b)).groupMap(_._1)(_._2)
    val lastOf = families.flatMap(f => entries.findLast(f.consumers).map(_ -> f)).groupMap(_._1)(_._2)
    var id = pass * 1000
    for (name <- entries) {
      for (b <- firstOf.getOrElse(name, Nil)) {
        sink(surfaceOp(id, b.name, "shared", pass, b.build))
        id += 1
      }
      sink(surfaceOp(id, name, "entry", pass, () => fns(name)(spark, dataDir)))
      id += 1
      EmfPlanner.unpersistAll()
      lastOf.getOrElse(name, Nil).foreach(_.clear())
    }
  }

  private def surface(): Unit = {
    val entries = conf("entries").split(",").toSeq.sorted
    val oracle = SparkEntry.oracleSql
    entries.foreach(e => require(SparkEntry.queries.contains(e) && oracle.contains(e),
      s"surface entry '$e' is not a SparkEntry query with an oracle"))
    out("oracle") = oracle.filter { case (k, _) => entries.contains(k) }
    for (_ <- 0 until reps) { // set-up: `graft.Bench`'s session warm-up read
      val t0 = Clock.nowMs
      setups += setupRec(t0, Tables.lineitem(spark, dataDir).count())
    }
    // one untimed priming pass, as `graft.Bench` warms every entry
    // before its timed sweep; its results are checked like the rest
    val p0 = Clock.nowMs
    surfacePass(-1, entries, r =>
      if (r("kind") == "entry") checks(r("q").toString) = r.get("rows").orNull)
    out("prime_s") = (Clock.nowMs - p0) / 1e3
    val start = Clock.nowMs
    var pass = 0
    while (Clock.nowMs - start < budgetMs || pass < minRounds) { // whole passes only
      surfacePass(pass, entries, r => ops += r)
      pass += 1
    }
    out("timed_ms") = Clock.nowMs - start
  }

  private def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
