package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec

/** Wall clock shared by the harness's spans and Spark's listener
  * timestamps: epoch milliseconds, with sub-millisecond resolution. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Job, stage and task records for the traced run. Jobs carry the op id
  * the harness puts in the [[Trace.OpProperty]] local property; stages
  * and tasks reach their job through the job's stage ids. Everything is
  * kept in memory and written out when the run ends. */
final class TraceListener extends SparkListener {
  final class StageAcc(val id: Int, val job: Int) {
    var t0 = 0L; var t1 = 0L
    var tasks = 0; var taskMs = 0L; var gcMs = 0L
    var inputB = 0L; var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  final case class JobRec(id: Int, op: String, t0: Long, var t1: Long, stages: Seq[Int])

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
    jobs(e.jobId) = JobRec(e.jobId, op.getOrElse(""), e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAcc(s, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.t0 = i.submissionTime.getOrElse(0L)
      s.t1 = i.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Completed jobs and stages as plain maps for the JSON record. A stage
    * that never ran (skipped because its shuffle output was reused) has
    * no submission time and is left out. */
  def records: (Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val js = jobs.values.toSeq.map(j => Map[String, Any](
      "id" -> j.id, "op" -> j.op, "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stages))
    val ss = stages.values.toSeq.filter(_.t0 > 0).map { s =>
      val d = s.durations.sorted
      Map[String, Any](
        "id" -> s.id, "job" -> s.job, "t0" -> s.t0, "t1" -> s.t1,
        "tasks" -> s.tasks, "task_ms" -> s.taskMs, "gc_ms" -> s.gcMs,
        "max_task_ms" -> (if (d.isEmpty) 0L else d.last),
        "median_task_ms" -> (if (d.isEmpty) 0L else d(d.length / 2)),
        "input_b" -> s.inputB, "shuffle_write_b" -> s.shuffleWriteB,
        "shuffle_read_b" -> s.shuffleReadB, "spill_b" -> s.spillB)
    }
    (js, ss)
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  /** Local property naming the op a job belongs to. */
  val OpProperty = "graftbench.op"

  /** Catalyst phase spans of a frame's final query execution. */
  def catalystPhases(df: DataFrame): Map[String, Seq[Long]] =
    df.queryExecution.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs, p.endTimeMs)
    }

  /** Operator counts on the final (post-AQE) physical plan, query stages
    * and subqueries included. */
  def physicalCounts(df: DataFrame): Map[String, Int] = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => 1 }.size
    Map(
      "exchanges" -> count { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => },
      "joins" -> count {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec =>
      },
      "nl_joins" -> count { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => },
      "hash_aggs" -> count { case _: HashAggregateExec | _: ObjectHashAggregateExec => },
      "windows" -> count { case _: WindowExec => },
      "cache_scans" -> count { case _: InMemoryTableScanExec => })
  }
}

/** Order-independent digest of a result: columns sorted by name, each
  * cell encoded exactly (integers in decimal, doubles by their IEEE bits,
  * strings verbatim), rows sorted, SHA-256 over the lines. The checker
  * (`perfbench/checks.py`) encodes DuckDB results the same way, so equal
  * digests mean bit-identical results. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => if (b) "B1" else "B0"
    case i @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
        _: java.lang.Byte) => "I" + i.toString
    case d: java.lang.Double =>
      "D%016x".format(java.lang.Double.doubleToRawLongBits(d))
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros
      if (s.scale <= 0) "I" + s.toBigInteger.toString else "M" + s.toPlainString
    case o => "S" + o.toString
  }

  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
}
