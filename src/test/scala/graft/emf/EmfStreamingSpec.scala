package graft.emf

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.LocalFs
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

case class SalesRow(cust: String, prod: String, month: Int, state: String, quant: Int)
case class FSalesRow(cust: String, prod: String, month: Int, state: String, quant: Double)

class EmfStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Set("cust", "prod", "month", "state", "quant")

  private val rows = Seq(
    SalesRow("c1", "p1", 1, "NY", 10), SalesRow("c1", "p1", 2, "CT", 4),
    SalesRow("c1", "p2", 2, "NY", 6), SalesRow("c2", "p1", 1, "NY", 8),
    SalesRow("c2", "p2", 3, "NJ", 2), SalesRow("c1", "p1", 3, "NY", 20))

  private val simpleQ = EmfParser.parseOne(
    """cust,avg_quant_NY,sum_quant_CT
      |2
      |cust
      |avg_quant_NY,sum_quant_CT
      |{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NY},{MF.cust.sum_quant_CT}[=]{cust}:{state}[=]{CT}""".stripMargin, cols)

  test("streaming SIMPLE EMF equals batch planner result, updated incrementally") {
    val stream = MemoryStream[SalesRow](spark)
    val q = EmfStreaming.plan(simpleQ, stream.toDF())
      .writeStream.format("memory").queryName("emf_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      val mid = spark.table("emf_stream").collect()
      assert(mid.length == 1) // only c1 so far
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      val fin = spark.table("emf_stream").orderBy("cust").collect().toSeq
      val batch = EmfPlanner.plan(simpleQ, rows.toDF())
        .orderBy("cust").collect().toSeq
      assert(fin == batch)
    } finally q.stop()
  }

  test("streaming EMF applies HAVING over the evolving MF structure") {
    val q = EmfParser.parseOne(
      """cust,avg_quant_NY,sum_quant_CT
        |2
        |cust
        |avg_quant_NY,sum_quant_CT
        |{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NY},{MF.cust.sum_quant_CT}[=]{cust}:{state}[=]{CT}
        |{MF.avg_quant_NY,>,7}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.plan(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_having")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(rows)
      sq.processAllAvailable()
      val custs = spark.table("emf_having").collect().map(_.getString(0)).toSet
      // c1 NY avg = (10+6+20)/3 = 12 > 7 ✓; c2 NY avg = 8 > 7 ✓
      assert(custs == Set("c1", "c2"))
      // push c2's NY average below the HAVING threshold incrementally
      stream.addData(SalesRow("c2", "p9", 4, "NY", 0), SalesRow("c2", "p9", 5, "NY", 1))
      sq.processAllAvailable()
      val custs2 = spark.table("emf_having").collect().map(_.getString(0)).toSet
      assert(custs2 == Set("c1")) // c2 avg now (8+0+1)/3 = 3 ≤ 7
    } finally sq.stop()
  }

  private val windowedQ = EmfParser.parseOne(
    """cust,month,sum_quant,avg_quant_b,avg_quant_a
      |2
      |cust,month
      |avg_quant_b,avg_quant_a
      |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.cust.avg_quant_a}[=]{cust}:{MF.month.avg_quant_a}[>]{month}""".stripMargin, cols)

  test("incremental WINDOWED EMF: snapshot equals batch planner at each step") {
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(windowedQ, stream.toDF())
      .writeStream.format("memory").queryName("emf_win")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows.take(3))
      sq.processAllAvailable()
      val snap1 = EmfStreaming.snapshot(spark.table("emf_win"), windowedQ)
        .orderBy("cust", "month").collect().toSeq
      val batch1 = EmfPlanner.plan(windowedQ, rows.take(3).toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap1 == batch1)
      // second micro-batch folds into existing state — values for months
      // already seen must change (month-3 rows shift c1's avg_quant_b)
      stream.addData(rows.drop(3))
      sq.processAllAvailable()
      val snap2 = EmfStreaming.snapshot(spark.table("emf_win"), windowedQ)
        .orderBy("cust", "month").collect().toSeq
      val batch2 = EmfPlanner.plan(windowedQ, rows.toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap2 == batch2)
      assert(snap2 != snap1)
    } finally sq.stop()
  }

  test("windowed streaming rejects a fractional order attribute loudly") {
    // order attr `month` as DOUBLE: the long state key would truncate
    // (1.4 and 1.5 merge) where the batch planner keeps groups distinct
    val fCols = Set("cust", "month", "quant")
    val q = EmfParser.parseOne(
      """cust,month,sum_quant_before
        |1
        |cust,month
        |sum_quant_before
        |{MF.cust.sum_quant_before}[=]{cust}:{MF.month.sum_quant_before}[<]{month}""".stripMargin, fCols)
    val stream = MemoryStream[(String, Double, Int)](spark)
    val df = stream.toDF().toDF("cust", "month", "quant")
    // the classifier demotes a fractional-order variable to DEPENDENT;
    // planKeyed finds it there and names the attribute
    val e = intercept[IllegalArgumentException](EmfStreaming.planKeyed(q, df))
    assert(e.getMessage.contains("order attribute 'month' must be an integral type"))
    assert(e.getMessage.contains("microBatch(...)"))
  }

  test("windowed streaming: HAVING applies on the snapshot; all-SIMPLE rejected") {
    val qHaving = EmfParser.parseOne(
      """cust,month,avg_quant_b
        |1
        |cust,month
        |avg_quant_b
        |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month}
        |{MF.avg_quant_b,>,5}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(qHaving, stream.toDF())
      .writeStream.format("memory").queryName("emf_win_having")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows)
      sq.processAllAvailable()
      val snap = EmfStreaming.snapshot(spark.table("emf_win_having"), qHaving)
        .orderBy("cust", "month").collect().toSeq
      val batch = EmfPlanner.plan(qHaving, rows.toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap == batch && snap.nonEmpty)
    } finally sq.stop()

    val e = intercept[IllegalArgumentException](
      EmfStreaming.planKeyed(simpleQ, MemoryStream[SalesRow](spark).toDF()))
    assert(e.getMessage.contains("WINDOWED") && e.getMessage.contains("DEPENDENT"))
  }

  test("windowed streaming over a floating column matches the batch decimal path") {
    // quant arrives as double with exact half-values — the batch planner
    // sums these in decimal(27,6); the stream's micro-unit accumulation
    // must land on the identical doubles
    val frows = Seq(
      FSalesRow("c1", "p1", 1, "NY", 10.5), FSalesRow("c1", "p1", 2, "CT", 4.25),
      FSalesRow("c1", "p2", 2, "NY", 6.125), FSalesRow("c2", "p1", 1, "NY", 8.75),
      FSalesRow("c2", "p2", 3, "NJ", 2.2), FSalesRow("c1", "p1", 3, "NY", 20.1))
    val q = EmfParser.parseOne(
      """cust,month,sum_quant,avg_quant_b,max_quant_a
        |2
        |cust,month
        |avg_quant_b,max_quant_a
        |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.cust.max_quant_a}[=]{cust}:{MF.month.max_quant_a}[>]{month}""".stripMargin, cols)
    val stream = MemoryStream[FSalesRow](spark)
    val sq = EmfStreaming.planKeyed(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_win_float")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(frows)
      sq.processAllAvailable()
      val snap = EmfStreaming.snapshot(spark.table("emf_win_float"), q)
        .orderBy("cust", "month").collect().toSeq
      val batch = EmfPlanner.plan(q, frows.toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap == batch && snap.nonEmpty)
    } finally sq.stop()
  }

  test("windowed streaming with a two-attr equality key (cust, state)") {
    // G = {cust, state, month}: windowed var pins cust AND state, orders
    // on month — exercises the multi-field key JSON splice
    val q = EmfParser.parseOne(
      """cust,state,month,sum_quant,avg_quant_b
        |1
        |cust,state,month
        |avg_quant_b
        |{MF.cust.avg_quant_b}[=]{cust}:{MF.state.avg_quant_b}[=]{state}:{MF.month.avg_quant_b}[<]{month}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_win_2key")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows)
      sq.processAllAvailable()
      val snap = EmfStreaming.snapshot(spark.table("emf_win_2key"), q)
        .orderBy("cust", "state", "month").collect().toSeq
      val batch = EmfPlanner.plan(q, rows.toDF())
        .orderBy("cust", "state", "month").collect().toSeq
      assert(snap == batch && snap.nonEmpty)
    } finally sq.stop()
  }

  test("windowed streaming: whole-partition frame (eq-only variable) combines over all months") {
    // avg_quant_c pins only cust (G = {cust, month}) → its frame is the
    // entire cust partition; avg_quant_b is the ordered prefix variable
    val q = EmfParser.parseOne(
      """cust,month,avg_quant_b,avg_quant_c
        |2
        |cust,month
        |avg_quant_b,avg_quant_c
        |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.cust.avg_quant_c}[=]{cust}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_win_total")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows)
      sq.processAllAvailable()
      val snap = EmfStreaming.snapshot(spark.table("emf_win_total"), q)
        .orderBy("cust", "month").collect().toSeq
      val batch = EmfPlanner.plan(q, rows.toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap == batch && snap.nonEmpty)
    } finally sq.stop()
  }

  private val dependentQ = EmfParser.parseOne(
    """prod,month,avg_quant_1,count_quant_2
      |2
      |prod,month
      |avg_quant_1,count_quant_2
      |{MF.prod.avg_quant_1}[=]{prod}:{MF.month.avg_quant_1}[=]{month},{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant}
      |{MF.count_quant_2,>,0}""".stripMargin, cols)

  test("incremental DEPENDENT EMF (q6 shape): snapshot equals batch at each step") {
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(dependentQ, stream.toDF())
      .writeStream.format("memory").queryName("emf_dep")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows.take(3))
      sq.processAllAvailable()
      val snap1 = EmfStreaming.snapshot(spark.table("emf_dep"), dependentQ)
        .orderBy("prod", "month").collect().toSeq
      val batch1 = EmfPlanner.plan(dependentQ, rows.take(3).toDF())
        .orderBy("prod", "month").collect().toSeq
      assert(snap1 == batch1)
      // the second batch adds tuples that move existing groups' averages
      // and create new groups — thresholds move, history re-classifies
      // from the histogram, no batch-planner rerun
      stream.addData(rows.drop(3))
      sq.processAllAvailable()
      val snap2 = EmfStreaming.snapshot(spark.table("emf_dep"), dependentQ)
        .orderBy("prod", "month").collect().toSeq
      val batch2 = EmfPlanner.plan(dependentQ, rows.toDF())
        .orderBy("prod", "month").collect().toSeq
      assert(snap2 == batch2)
    } finally sq.stop()
  }

  test("incremental DEPENDENT EMF: moving threshold re-classifies history") {
    // one group; the avg moves with each batch so a tuple's membership
    // in the dependent set flips — the case foreachBatch recomputes and
    // the histogram must replay
    val q2 = EmfParser.parseOne(
      """prod,avg_quant_1,count_quant_2
        |2
        |prod
        |avg_quant_1,count_quant_2
        |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q2, stream.toDF())
      .writeStream.format("memory").queryName("emf_dep_move")
      .outputMode(OutputMode.Update).start()
    try {
      val b1 = Seq(SalesRow("p1", "x", 1, "NY", 10), SalesRow("p1", "x", 1, "NY", 20))
      stream.addData(b1)
      sq.processAllAvailable()
      val s1 = EmfStreaming.snapshot(spark.table("emf_dep_move"), q2).collect()
      assert(s1.toSeq == EmfPlanner.plan(q2, b1.toDF()).collect().toSeq)
      // avg 15 → only 20 counts. Now add 90: avg 40 → only 90 counts
      // (the 20 LEAVES the dependent set — a retraction foreachBatch
      // would recompute; the histogram replays it)
      stream.addData(SalesRow("p1", "x", 1, "NY", 90))
      sq.processAllAvailable()
      val s2 = EmfStreaming.snapshot(spark.table("emf_dep_move"), q2).collect()
      val all = b1 :+ SalesRow("p1", "x", 1, "NY", 90)
      assert(s2.toSeq == EmfPlanner.plan(q2, all.toDF()).collect().toSeq)
      assert(s2.head.getAs[Long]("count_quant_2") == 1L) // just the 90
    } finally sq.stop()
  }

  test("windowed streaming fails fast when the order column is not domain-bounded") {
    // adversarial: every tuple lands on a NEW order value, so per-key
    // state gains one slot array per tuple — the same unbounded-domain
    // exposure as the dependent histogram, guarded identically
    val old = EmfStreaming.MaxHistBuckets
    EmfStreaming.MaxHistBuckets = 8
    try {
      val stream = MemoryStream[SalesRow](spark)
      val sq = EmfStreaming.planKeyed(windowedQ, stream.toDF())
        .writeStream.format("memory").queryName("emf_win_guard")
        .outputMode(OutputMode.Update).start()
      try {
        stream.addData((1 to 40).map(i => SalesRow("c1", "x", i, "NY", 5)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          sq.processAllAvailable())
        def causes(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ causes(x.getCause))
        assert(causes(e).exists(_.contains("distinct order values")),
          s"order-domain guard did not fire: ${causes(e)}")
      } finally sq.stop()
    } finally EmfStreaming.MaxHistBuckets = old
  }

  test("dependent streaming fails fast when the comparison column is not domain-bounded") {
    // adversarial: every tuple carries a NEW comparison value, so the
    // per-(group, slot) histogram grows with the stream — the guard must
    // name the problem immediately instead of OOMing hours in
    val q2 = EmfParser.parseOne(
      """prod,avg_quant_1,count_quant_2
        |2
        |prod
        |avg_quant_1,count_quant_2
        |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant}""".stripMargin, cols)
    val old = EmfStreaming.MaxHistBuckets
    EmfStreaming.MaxHistBuckets = 8
    try {
      val stream = MemoryStream[SalesRow](spark)
      val sq = EmfStreaming.planKeyed(q2, stream.toDF())
        .writeStream.format("memory").queryName("emf_dep_guard")
        .outputMode(OutputMode.Update).start()
      try {
        stream.addData((1 to 40).map(i => SalesRow("p1", "x", 1, "NY", i)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          sq.processAllAvailable())
        def causes(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ causes(x.getCause))
        assert(causes(e).exists(_.contains("comparison-value histogram")),
          s"guard did not fire or renamed its error: ${causes(e)}")
      } finally sq.stop()
    } finally EmfStreaming.MaxHistBuckets = old
  }

  // q8 shape: dependent chained onto a WINDOWED aggregate
  private val q8Q = EmfParser.parseOne(
    """cust,month,avg_quant_1,count_quant_2
      |2
      |cust,month
      |avg_quant_1,count_quant_2
      |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant}""".stripMargin, cols)

  test("incremental CHAINED EMF (q8 shape): snapshot equals batch at each step") {
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q8Q, stream.toDF())
      .writeStream.format("memory").queryName("emf_chain")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows.take(3))
      sq.processAllAvailable()
      val snap1 = EmfStreaming.snapshot(spark.table("emf_chain"), q8Q)
        .orderBy("cust", "month").collect().toSeq
      val batch1 = EmfPlanner.plan(q8Q, rows.take(3).toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap1 == batch1)
      // batch 2 adds earlier-month tuples for existing custs: every
      // LATER month's window aggregate moves, so historical tuples'
      // membership in the dependent sets flips — the per-group
      // histograms must re-classify against the moved frame thresholds
      stream.addData(rows.drop(3))
      sq.processAllAvailable()
      val snap2 = EmfStreaming.snapshot(spark.table("emf_chain"), q8Q)
        .orderBy("cust", "month").collect().toSeq
      val batch2 = EmfPlanner.plan(q8Q, rows.toDF())
        .orderBy("cust", "month").collect().toSeq
      assert(snap2 == batch2)
    } finally sq.stop()
  }

  test("chained streaming: a moved window threshold retracts dependent members") {
    // one cust, three months fed so month 3's window avg MOVES after the
    // first snapshot: avg(m<3) goes 10 -> 40 once m2=70 arrives; m3's
    // tuple quant=20 must LEAVE the dependent count (20 > 10 but not
    // > 40) — the retraction microBatch recomputes, the histogram replays
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q8Q, stream.toDF())
      .writeStream.format("memory").queryName("emf_chain_move")
      .outputMode(OutputMode.Update).start()
    try {
      val b1 = Seq(SalesRow("c1", "p", 1, "NY", 10), SalesRow("c1", "p", 3, "NY", 20))
      stream.addData(b1)
      sq.processAllAvailable()
      val s1 = EmfStreaming.snapshot(spark.table("emf_chain_move"), q8Q)
        .orderBy("month").collect()
      assert(s1.find(_.getAs[Int]("month") == 3).get
        .getAs[Long]("count_quant_2") == 1L) // 20 > avg(10)
      stream.addData(SalesRow("c1", "p", 2, "NY", 70))
      sq.processAllAvailable()
      val s2 = EmfStreaming.snapshot(spark.table("emf_chain_move"), q8Q)
        .orderBy("month").collect()
      val all = b1 :+ SalesRow("c1", "p", 2, "NY", 70)
      assert(s2.toSeq == EmfPlanner.plan(q8Q, all.toDF())
        .orderBy("month").collect().toSeq)
      assert(s2.find(_.getAs[Int]("month") == 3).get
        .getAs[Long]("count_quant_2") == 0L) // 20 left the set
    } finally sq.stop()
  }

  // q4 shape: cross-group complement membership (same prod, OTHER cust)
  private val crossQ = EmfParser.parseOne(
    """cust,prod,sum_quant_own,avg_quant_oth,count_quant_oth
      |3
      |cust,prod
      |sum_quant_own,avg_quant_oth,count_quant_oth
      |{MF.cust.sum_quant_own}[=]{cust}:{MF.prod.sum_quant_own}[=]{prod},{MF.prod.avg_quant_oth}[=]{prod}:{MF.cust.avg_quant_oth}[!=]{cust},{MF.prod.count_quant_oth}[=]{prod}:{MF.cust.count_quant_oth}[!=]{cust}:{state}[=]{NY}""".stripMargin, cols)

  test("incremental CROSS-GROUP EMF (q4 shape): snapshot equals batch at each step") {
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(crossQ, stream.toDF())
      .writeStream.format("memory").queryName("emf_cross")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows.take(3))
      sq.processAllAvailable()
      val snap1 = EmfStreaming.snapshot(spark.table("emf_cross"), crossQ)
        .orderBy("cust", "prod").collect().toSeq
      val batch1 = EmfPlanner.plan(crossQ, rows.take(3).toDF())
        .orderBy("cust", "prod").collect().toSeq
      assert(snap1 == batch1)
      // batch 2 adds other-cust tuples for the same prods: existing
      // groups' complement aggregates move without any of THEIR rows
      // arriving — the re-emission of every group of a touched key
      stream.addData(rows.drop(3))
      sq.processAllAvailable()
      val snap2 = EmfStreaming.snapshot(spark.table("emf_cross"), crossQ)
        .orderBy("cust", "prod").collect().toSeq
      val batch2 = EmfPlanner.plan(crossQ, rows.toDF())
        .orderBy("cust", "prod").collect().toSeq
      assert(snap2 == batch2)
      assert(snap2 != snap1)
    } finally sq.stop()
  }

  test("cross-group streaming: other groups' arrivals revise a group's emission") {
    // the retraction shape: (c1,p1) gets NO new rows after batch 1, yet
    // its complement average must move 20 → 10 when c3's cheap tuple
    // arrives — and a group whose complement was EMPTY (sum NULL) must
    // revise to a value
    val q = EmfParser.parseOne(
      """cust,prod,avg_quant_oth
        |1
        |cust,prod
        |avg_quant_oth
        |{MF.prod.avg_quant_oth}[=]{prod}:{MF.cust.avg_quant_oth}[!=]{cust}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_cross_rev")
      .outputMode(OutputMode.Update).start()
    try {
      val b1 = Seq(SalesRow("c1", "p1", 1, "NY", 10), SalesRow("c2", "p1", 1, "NY", 20))
      stream.addData(b1)
      sq.processAllAvailable()
      def snap() = EmfStreaming.snapshot(spark.table("emf_cross_rev"), q)
      val s1 = snap().collect().map(r => (r.getString(0), r.get(2))).toMap
      assert(s1 == Map("c1" -> 20.0, "c2" -> 10.0))
      stream.addData(SalesRow("c3", "p1", 2, "CT", 0))
      sq.processAllAvailable()
      val s2 = snap().orderBy("cust", "prod").collect().toSeq
      val all = b1 :+ SalesRow("c3", "p1", 2, "CT", 0)
      assert(s2 == EmfPlanner.plan(q, all.toDF())
        .orderBy("cust", "prod").collect().toSeq)
      val m2 = s2.map(r => (r.getString(0), r.get(2))).toMap
      // c1's average dropped via a row it never saw; c3's complement
      // filled in from history it never streamed
      assert(m2 == Map("c1" -> 10.0, "c2" -> 5.0, "c3" -> 15.0))
    } finally sq.stop()
  }

  test("KEYLESS cross-group streaming (round-14): E = ∅ global complement") {
    // "for each cust: agg over every OTHER cust's tuples" — no equality
    // pin at all, so every group's answer moves when ANY group changes.
    // planAuto must route it to the keyless lowering, and snapshot ==
    // batch at each step, including min/max.
    val q = EmfParser.parseOne(
      """cust,avg_quant_oth,max_quant_oth
        |2
        |cust
        |avg_quant_oth,max_quant_oth
        |{MF.cust.avg_quant_oth}[!=]{cust},{MF.cust.max_quant_oth}[!=]{cust}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val routed = EmfStreaming.planAuto(q, stream.toDF())
    assert(routed.usesSnapshot && routed.lowering == "keyless")
    val sq = routed.df
      .writeStream.format("memory").queryName("emf_cross_keyless")
      .outputMode(OutputMode.Update).start()
    try {
      val b1 = Seq(SalesRow("c1", "p1", 1, "NY", 10), SalesRow("c2", "p2", 1, "CT", 20))
      stream.addData(b1)
      sq.processAllAvailable()
      def snap() = EmfStreaming.snapshot(spark.table("emf_cross_keyless"), q)
        .orderBy("cust").collect().toSeq
      val s1 = snap()
      assert(s1 == EmfPlanner.plan(q, b1.toDF()).orderBy("cust").collect().toSeq)
      // c3 arrives: c1's and c2's global complements move with no row of
      // theirs in the batch — the all-but-self revision across EVERY group
      val all = b1 :+ SalesRow("c3", "p3", 2, "NJ", 5)
      stream.addData(all.last)
      sq.processAllAvailable()
      val s2 = snap()
      assert(s2 == EmfPlanner.plan(q, all.toDF()).orderBy("cust").collect().toSeq)
      assert(s2.filter(_.getString(0) == "c1") !=
        s1.filter(_.getString(0) == "c1"), "c1's complement did not revise")
    } finally sq.stop()
  }

  test("SHARDED keyless complement (round-15): per-anti partials + " +
      "render-side all-but-self == constant-key == batch") {
    // planAuto's keyless lowering is a PLAIN aggregation keyed by the
    // anti attr (shards like any streaming groupBy — no state key, no
    // flatMapGroupsWithState), and the global all-but-self reduction
    // happens at render. All five aggregates, incl. the non-subtractable
    // min/max. The constant-key formulation is the same query with a
    // constant equality attr (state pinned to one value) run through the
    // keyed cross-group lowering: two independent routes meeting batch.
    val aggs = Seq("avg", "max", "min", "sum", "count").map(a => s"${a}_quant_oth")
    def query(groupBy: String, eq: String => String) = EmfParser.parseOne(
      s"""$groupBy,${aggs.mkString(",")}
        |5
        |$groupBy
        |${aggs.mkString(",")}
        |${aggs.map(a => s"${eq(a)}{MF.cust.$a}[!=]{cust}").mkString(",")}""".stripMargin, cols)
    val q = query("cust", _ => "")
    val qConst = query("cust,state", a => s"{MF.state.$a}[=]{state}:")
    def run(name: String, chunks: Seq[Seq[SalesRow]]): Seq[Seq[Row]] = {
      val stream = MemoryStream[SalesRow](spark)
      val routed = EmfStreaming.planAuto(q, stream.toDF())
      assert(routed.usesSnapshot && routed.lowering == "keyless")
      val sq = routed.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try chunks.map { c =>
        stream.addData(c)
        sq.processAllAvailable()
        // the sink holds per-variable PARTIALS, not rendered emissions
        assert(spark.table(name).columns.count(_.startsWith("__s_")) == 5 &&
          !spark.table(name).columns.contains("__ver"),
          "sink must carry per-variable partials")
        EmfStreaming.snapshot(spark.table(name), q).orderBy("cust").collect().toSeq
      } finally sq.stop()
    }
    def runConstantKey(chunks: Seq[Seq[SalesRow]]): Seq[Seq[Row]] = {
      val stream = MemoryStream[SalesRow](spark)
      val sq = EmfStreaming.planKeyed(qConst, stream.toDF().withColumn("state", lit("X")))
        .writeStream.format("memory").queryName("emf_cross_sharded_ck")
        .outputMode(OutputMode.Update).start()
      try chunks.map { c =>
        stream.addData(c)
        sq.processAllAvailable()
        EmfStreaming.snapshot(spark.table("emf_cross_sharded_ck"), qConst)
          .drop("state").orderBy("cust").collect().toSeq
      } finally sq.stop()
    }
    val b1 = Seq(SalesRow("c1", "p1", 1, "NY", 10),
      SalesRow("c2", "p2", 1, "CT", 20), SalesRow("c2", "p2", 2, "CT", 4))
    // one new group's single row revises EVERY other group's complement —
    // in the sharded form no existing key's partial is touched; the
    // revision is render-side
    val all = b1 :+ SalesRow("c3", "p3", 2, "NJ", 5)
    val chunks = Seq(b1, all.drop(b1.size))
    val sharded = run("emf_cross_sharded", chunks)
    val constant = runConstantKey(chunks)
    val batch = Seq(b1, all).map(rs => EmfPlanner.plan(q, rs.toDF()).orderBy("cust").collect().toSeq)
    assert(sharded == batch, "sharded != batch")
    assert(constant == batch, "constant-key != batch")
    // a single group's complement is empty: NULL, count 0
    val Seq(Seq(solo)) = run("emf_cross_sharded_solo", Seq(Seq(SalesRow("c9", "p1", 1, "NY", 7))))
    assert(solo.isNullAt(1) && solo.isNullAt(2) && solo.isNullAt(3) &&
      solo.isNullAt(4), "empty complement renders NULL")
    assert(solo.getLong(5) == 0L, "empty complement count renders 0")
  }

  test("cross-group streaming: min/max complements (round-13) — retraction proven") {
    // min/max have no inverse, so these CANNOT use the subtraction
    // identity; the all-but-self combine must still revise a group's
    // emission when OTHER groups' rows arrive (the batch side routes
    // the same query through the dependent-pass join — agreement is
    // two independent formulations meeting)
    val q = EmfParser.parseOne(
      """cust,prod,min_quant_oth,max_quant_oth
        |2
        |cust,prod
        |min_quant_oth,max_quant_oth
        |{MF.prod.min_quant_oth}[=]{prod}:{MF.cust.min_quant_oth}[!=]{cust},{MF.prod.max_quant_oth}[=]{prod}:{MF.cust.max_quant_oth}[!=]{cust}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val sq = EmfStreaming.planKeyed(q, stream.toDF())
      .writeStream.format("memory").queryName("emf_cross_minmax")
      .outputMode(OutputMode.Update).start()
    try {
      def snap() = EmfStreaming.snapshot(spark.table("emf_cross_minmax"), q)
      // p1 has two custs; p2 has ONE (its complement must render NULL)
      val b1 = Seq(SalesRow("c1", "p1", 1, "NY", 10),
        SalesRow("c2", "p1", 1, "NY", 20), SalesRow("c1", "p2", 1, "NY", 7))
      stream.addData(b1)
      sq.processAllAvailable()
      val s1 = snap().collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.get(2), r.get(3)))).toMap
      assert(s1(("c1", "p1")) == ((20, 20)))
      assert(s1(("c2", "p1")) == ((10, 10)))
      assert(s1(("c1", "p2")) == ((null, null)), "empty complement is NULL")
      assert(s1.keySet.size == 3)
      // batch 2: c3's cheap p1 tuple moves BOTH existing p1 groups' min
      // (no row of theirs arrives — the retraction re-emission); c2's
      // first p2 tuple fills c1's previously-NULL p2 complement
      stream.addData(Seq(SalesRow("c3", "p1", 2, "CT", 5),
        SalesRow("c2", "p2", 2, "CT", 9)))
      sq.processAllAvailable()
      val all = b1 ++ Seq(SalesRow("c3", "p1", 2, "CT", 5),
        SalesRow("c2", "p2", 2, "CT", 9))
      val s2 = snap().orderBy("cust", "prod").collect().toSeq
      assert(s2 == EmfPlanner.plan(q, all.toDF())
        .orderBy("cust", "prod").collect().toSeq)
      val m2 = s2.map(r => (r.getString(0), r.getString(1)) -> ((r.get(2), r.get(3)))).toMap
      assert(m2(("c1", "p1")) == ((5, 20)))
      assert(m2(("c2", "p1")) == ((5, 10)))
      assert(m2(("c3", "p1")) == ((10, 20)), "filled from history never streamed to it")
      assert(m2(("c1", "p2")) == ((9, 9)), "NULL revised to a value")
      assert(m2(("c2", "p2")) == ((7, 7)))
    } finally sq.stop()
  }

  test("one stateful lowering: one flatMapGroupsWithState call site and no CrossState") {
    val src = scala.io.Source.fromFile("src/main/scala/graft/emf/EmfStreaming.scala", "UTF-8")
    val code = try src.getLines().map(_.trim).filterNot { t =>
      // scaladoc and line comments may name them
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }.toList finally src.close()
    assert(code.map(_.split("flatMapGroupsWithState", -1).length - 1).sum == 1)
    assert(!code.exists(_.contains("CrossState")))
  }

  test("planAuto routes a min/max complement to planCrossGroup (round-13)") {
    val q = EmfParser.parseOne(
      """cust,prod,max_quant_oth
        |1
        |cust,prod
        |max_quant_oth
        |{MF.prod.max_quant_oth}[=]{prod}:{MF.cust.max_quant_oth}[!=]{cust}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val p = EmfStreaming.planAuto(q, stream.toDF())
    // previously this shape fell to the rejection chain (microBatch);
    // now it carries the cross-group lowering's __ver emission contract
    assert(p.usesSnapshot && p.df.columns.contains("__ver"))
  }

  test("cross-group streaming rejects non-complement and mis-keyed shapes loudly") {
    val stream = MemoryStream[SalesRow](spark)
    // complement variables keyed by different equality attrs
    val qMixed = EmfParser.parseOne(
      """cust,prod,sum_quant_oth,sum_quant_all
        |2
        |cust,prod
        |sum_quant_oth,sum_quant_all
        |{MF.prod.sum_quant_oth}[=]{prod}:{MF.cust.sum_quant_oth}[!=]{cust},{MF.cust.sum_quant_all}[!=]{cust}""".stripMargin, cols)
    val e1 = intercept[IllegalArgumentException](
      EmfStreaming.planKeyed(qMixed, stream.toDF()))
    assert(e1.getMessage.contains("mixed complement keys"))
    // G larger than E ∪ {anti}: month is unconstrained
    val qWide = EmfParser.parseOne(
      """cust,prod,month,sum_quant_oth
        |1
        |cust,prod,month
        |sum_quant_oth
        |{MF.prod.sum_quant_oth}[=]{prod}:{MF.cust.sum_quant_oth}[!=]{cust}""".stripMargin, cols)
    val e2 = intercept[IllegalArgumentException](
      EmfStreaming.planKeyed(qWide, stream.toDF()))
    assert(e2.getMessage.contains("grouping set"))
    // all-SIMPLE is the wrong entry point
    val e3 = intercept[IllegalArgumentException](
      EmfStreaming.planKeyed(simpleQ, stream.toDF()))
    assert(e3.getMessage.contains("DEPENDENT"))
  }

  test("cross-group streaming fails fast when the anti domain is not key-bounded") {
    val q = EmfParser.parseOne(
      """cust,prod,sum_quant_oth
        |1
        |cust,prod
        |sum_quant_oth
        |{MF.prod.sum_quant_oth}[=]{prod}:{MF.cust.sum_quant_oth}[!=]{cust}""".stripMargin, cols)
    val old = EmfStreaming.MaxHistBuckets
    EmfStreaming.MaxHistBuckets = 8
    try {
      val stream = MemoryStream[SalesRow](spark)
      val sq = EmfStreaming.planKeyed(q, stream.toDF())
        .writeStream.format("memory").queryName("emf_cross_guard")
        .outputMode(OutputMode.Update).start()
      try {
        stream.addData((1 to 40).map(i => SalesRow(s"c$i", "p1", 1, "NY", 5)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          sq.processAllAvailable())
        def causes(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ causes(x.getCause))
        assert(causes(e).exists(_.contains("anti-attribute values")),
          s"anti-domain guard did not fire: ${causes(e)}")
      } finally sq.stop()
    } finally EmfStreaming.MaxHistBuckets = old
  }

  test("planAuto routes every corpus shape to its incremental lowering") {
    def route(q: EmfQuery): (Boolean, String) = {
      val stream = MemoryStream[SalesRow](spark)
      val p = EmfStreaming.planAuto(q, stream.toDF())
      // state keys and emitted rows are typed: no JSON round trip
      val analyzed = p.df.queryExecution.analyzed.toString
      assert(!analyzed.contains("to_json") && !analyzed.contains("from_json"), analyzed)
      // identify the lowering by its output shape: plain aggregations
      // carry no __ver; emission streams do
      (p.usesSnapshot, if (p.df.columns.contains("__ver")) "ver" else "agg")
    }
    assert(route(simpleQ) == ((false, "agg")))
    assert(route(windowedQ) == ((true, "ver")))
    assert(route(dependentQ) == ((true, "ver")))
    assert(route(crossQ) == ((true, "ver")))
    assert(route(q8Q) == ((true, "ver")))

    // end-to-end through the facade: the cross-group shape again, but
    // routed automatically
    val stream = MemoryStream[SalesRow](spark)
    val p = EmfStreaming.planAuto(crossQ, stream.toDF())
    assert(p.usesSnapshot)
    val sq = p.df.writeStream.format("memory").queryName("emf_auto")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(rows)
      sq.processAllAvailable()
      val snap = EmfStreaming.snapshot(spark.table("emf_auto"), crossQ)
        .orderBy("cust", "prod").collect().toSeq
      val batch = EmfPlanner.plan(crossQ, rows.toDF())
        .orderBy("cust", "prod").collect().toSeq
      assert(snap == batch && snap.nonEmpty)
    } finally sq.stop()

    // the KEYLESS global complement routes incrementally, to per-anti
    // partials; the residual microBatch class is NON-complement
    // membership, e.g. cross-attr
    val qKeyless = EmfParser.parseOne(
      """cust,min_quant_oth
        |1
        |cust
        |min_quant_oth
        |{MF.cust.min_quant_oth}[!=]{cust}""".stripMargin, cols)
    val pk = EmfStreaming.planAuto(qKeyless, MemoryStream[SalesRow](spark).toDF())
    assert(pk.usesSnapshot && pk.lowering == "keyless")
    val qCrossAttr = EmfParser.parseOne(
      """cust,min_quant_oth
        |1
        |cust
        |min_quant_oth
        |{MF.cust.min_quant_oth}[!=]{state}""".stripMargin, cols)
    val e = intercept[IllegalArgumentException](
      EmfStreaming.planAuto(qCrossAttr, MemoryStream[SalesRow](spark).toDF()))
    assert(e.getMessage.contains("microBatch"))
  }

  test("planAuto's rejections on the windowed, dependent and chained routes, verbatim") {
    def q(spec: String, fact: Set[String] = cols): EmfQuery =
      EmfParser.parseOne(spec.stripMargin, fact)
    val sales = MemoryStream[SalesRow](spark).toDF()
    // the fractional-order shape: the classifier demotes the variable to
    // DEPENDENT, and the keyed lowering names its order attribute
    val fractional = MemoryStream[(String, Double, Int)](spark).toDF()
      .toDF("cust", "month", "quant")
    // two integral order candidates, so both variables classify WINDOWED
    val days = MemoryStream[(String, Int, Int, Int)](spark).toDF()
      .toDF("cust", "month", "day", "quant")
    val noSource = "requirement failed: dependent streaming needs at least " +
      "one variable-0/SIMPLE aggregate (the threshold source); shapes " +
      "without one need microBatch(...)"
    val planTime: Seq[(String, EmfQuery, DataFrame, String)] = Seq(
      ("no order comparison (emf_q2)", q(
        """prod,month,sum_quant_1,sum_quant_tot
          |2
          |prod,month
          |sum_quant_1,sum_quant_tot
          |{MF.prod.sum_quant_1}[=]{prod}:{MF.month.sum_quant_1}[=]{month},{MF.prod.sum_quant_tot}[=]{prod}"""),
        sales, "windowed streaming needs at least one order comparison"),
      ("no order comparison, chained", q(
        """prod,month,sum_quant_tot,count_quant_2
          |2
          |prod,month
          |sum_quant_tot,count_quant_2
          |{MF.prod.sum_quant_tot}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.sum_quant_tot.count_quant_2}[>]{quant}"""),
        sales, "chained streaming needs at least one order comparison"),
      ("mixed equality attrs", q(
        """cust,month,avg_quant_b,avg_quant_m
          |2
          |cust,month
          |avg_quant_b,avg_quant_m
          |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.month.avg_quant_m}[=]{month}"""),
        sales, "requirement failed: windowed variable avg_quant_m must share " +
          "equality attrs List(cust) and order attr month"),
      ("mixed order attrs", q(
        """cust,month,day,avg_quant_b,avg_quant_d
          |2
          |cust,month,day
          |avg_quant_b,avg_quant_d
          |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.cust.avg_quant_d}[=]{cust}:{MF.day.avg_quant_d}[<]{day}""",
        Set("cust", "month", "day", "quant")), days,
        "requirement failed: windowed variable avg_quant_d must share " +
          "equality attrs List(cust) and order attr month"),
      ("empty equality set", q(
        """month,sum_quant_b
          |1
          |month
          |sum_quant_b
          |{MF.month.sum_quant_b}[<]{month}"""),
        sales, "requirement failed: windowed streaming needs ≥ 1 equality attr"),
      ("empty equality set, chained", q(
        """month,sum_quant_b,count_quant_2
          |2
          |month
          |sum_quant_b,count_quant_2
          |{MF.month.sum_quant_b}[<]{month},{MF.month.count_quant_2}[=]{month}:{MF.sum_quant_b.count_quant_2}[>]{quant}"""),
        sales, "requirement failed: chained streaming needs ≥ 1 equality attr"),
      ("fractional order attr", q(
        """cust,month,sum_quant_before
          |1
          |cust,month
          |sum_quant_before
          |{MF.cust.sum_quant_before}[=]{cust}:{MF.month.sum_quant_before}[<]{month}""",
        Set("cust", "month", "quant")), fractional,
        "requirement failed: windowed streaming order attribute 'month' must " +
          "be an integral type, got DoubleType — fractional order values " +
          "would be truncated by the state key; use microBatch(...) instead"),
      ("grouping set is not E ∪ {o}", q(
        """cust,prod,month,avg_quant_b
          |1
          |cust,prod,month
          |avg_quant_b
          |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month}"""),
        sales, "requirement failed: grouping set ArraySeq(cust, prod, month) " +
          "must be exactly equality attrs List(cust) plus order attr month"),
      ("grouping set is not E ∪ {o}, chained", q(
        """cust,prod,month,avg_quant_b,count_quant_2
          |2
          |cust,prod,month
          |avg_quant_b,count_quant_2
          |{MF.cust.avg_quant_b}[=]{cust}:{MF.month.avg_quant_b}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_b.count_quant_2}[>]{quant}"""),
        sales, "requirement failed: grouping set ArraySeq(cust, prod, month) " +
          "must be exactly equality attrs List(cust) plus order attr month"),
      ("non-numeric aggregate column", q(
        """cust,month,max_state_b
          |1
          |cust,month
          |max_state_b
          |{MF.cust.max_state_b}[=]{cust}:{MF.month.max_state_b}[<]{month}"""),
        sales, "windowed streaming needs numeric aggregate columns; " +
          "state: StringType"),
      ("non-numeric aggregate column, dependent", q(
        """prod,max_state_1,count_quant_2
          |2
          |prod
          |max_state_1,count_quant_2
          |{MF.prod.max_state_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.max_state_1.count_quant_2}[>]{quant}"""),
        sales, "dependent streaming needs numeric columns; state: StringType"),
      ("non-numeric comparison column, dependent", q(
        """prod,avg_quant_1,count_quant_2
          |2
          |prod
          |avg_quant_1,count_quant_2
          |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{state}"""),
        sales, "dependent streaming needs numeric columns; state: StringType"),
      ("non-numeric comparison column, chained", q(
        """cust,month,avg_quant_1,count_quant_2
          |2
          |cust,month
          |avg_quant_1,count_quant_2
          |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{state}"""),
        sales, "chained streaming needs numeric columns; state: StringType"),
      ("dependent var does not pin G", q(
        """prod,month,avg_quant_1,count_quant_2
          |2
          |prod,month
          |avg_quant_1,count_quant_2
          |{MF.prod.avg_quant_1}[=]{prod}:{MF.month.avg_quant_1}[=]{month},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant}"""),
        sales, "requirement failed: dependent variable count_quant_2 must pin " +
          "the full grouping set ArraySeq(prod, month) (got List(prod)); " +
          "cross-group membership needs microBatch(...)"),
      ("dependent var does not pin G, chained", q(
        """cust,month,avg_quant_1,count_quant_2
          |2
          |cust,month
          |avg_quant_1,count_quant_2
          |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.avg_quant_1.count_quant_2}[>]{quant}"""),
        sales, "requirement failed: dependent variable count_quant_2 must pin " +
          "the full grouping set ArraySeq(cust, month) (got List(cust)); " +
          "unpinned cross-group membership needs microBatch(...)"),
      ("two aggregate comparisons", q(
        """prod,avg_quant_1,max_quant_1,count_quant_2
          |3
          |prod
          |avg_quant_1,max_quant_1,count_quant_2
          |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.max_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant}:{MF.max_quant_1.count_quant_2}[<]{quant}"""),
        sales, "requirement failed: dependent variable count_quant_2 needs " +
          "exactly one aggregate comparison, got 2"),
      ("two aggregate comparisons, chained", q(
        """cust,month,avg_quant_1,count_quant_2
          |2
          |cust,month
          |avg_quant_1,count_quant_2
          |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant}:{MF.avg_quant_1.count_quant_2}[<]{month}"""),
        sales, "requirement failed: dependent variable count_quant_2 needs " +
          "exactly one aggregate comparison, got 2"),
      ("unsupported membership condition", q(
        """prod,month,avg_quant_1,count_quant_2
          |2
          |prod,month
          |avg_quant_1,count_quant_2
          |{MF.prod.avg_quant_1}[=]{prod}:{MF.month.avg_quant_1}[=]{month},{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.month.count_quant_2}[>]{quant}"""),
        sales, "dependent variable count_quant_2: unsupported membership " +
          "condition Cond(TupleCol(quant),>,MfField(month))"),
      ("unsupported membership condition, chained", q(
        """cust,month,avg_quant_1,count_quant_2
          |2
          |cust,month
          |avg_quant_1,count_quant_2
          |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month}:{MF.month.count_quant_2}[>]{quant}"""),
        sales, "dependent variable count_quant_2: unsupported membership " +
          "condition Cond(TupleCol(quant),>,MfField(month))"),
      ("dependent-on-dependent reference", q(
        """prod,avg_quant_1,count_quant_2,sum_quant_3
          |3
          |prod
          |avg_quant_1,count_quant_2,sum_quant_3
          |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant},{MF.prod.sum_quant_3}[=]{prod}:{MF.count_quant_2.sum_quant_3}[>]{quant}"""),
        sales, "dependent variable sum_quant_3 references 'count_quant_2', " +
          "which is not a variable-0/SIMPLE aggregate — chains onto windowed " +
          "aggregates run via planKeyed(...); deeper chains need microBatch(...)"),
      ("dependent-on-dependent reference, chained", q(
        """cust,month,avg_quant_1,count_quant_2,sum_quant_3
          |3
          |cust,month
          |avg_quant_1,count_quant_2,sum_quant_3
          |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant},{MF.cust.sum_quant_3}[=]{cust}:{MF.month.sum_quant_3}[=]{month}:{MF.count_quant_2.sum_quant_3}[>]{quant}"""),
        sales, "dependent variable sum_quant_3 references 'count_quant_2', " +
          "which is not a variable-0/SIMPLE/WINDOWED aggregate — chains onto " +
          "other dependent aggregates need microBatch(...)"),
      ("no variable-0/SIMPLE threshold source", q(
        """cust,prod,avg_quant_oth,count_quant_2
          |2
          |cust,prod
          |avg_quant_oth,count_quant_2
          |{MF.prod.avg_quant_oth}[=]{prod}:{MF.cust.avg_quant_oth}[!=]{cust},{MF.cust.count_quant_2}[=]{cust}:{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_oth.count_quant_2}[>]{quant}"""),
        sales, noSource))
    planTime.foreach { case (label, query, stream, expected) =>
      val e = intercept[IllegalArgumentException](EmfStreaming.planAuto(query, stream))
      assert(e.getMessage == expected, s"$label: ${e.getMessage}")
    }

    // run time: a null order value cannot key the state
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    Seq(windowedQ -> "windowed", q8Q -> "chained").foreach { case (query, cls) =>
      val stream = MemoryStream[(String, Option[Int], Int)](spark)
      val sq = EmfStreaming.planAuto(query, stream.toDF().toDF("cust", "month", "quant"))
        .df.writeStream.format("memory").queryName(s"emf_null_order_$cls")
        .outputMode(OutputMode.Update).start()
      try {
        stream.addData(("c1", Some(1), 5), ("c1", None, 7))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          sq.processAllAvailable())
        val expected = s"$cls streaming EMF: null month — null order groups " +
          "need the batch planner (microBatch)"
        assert(causes(e).exists(_.contains(expected)), s"$cls: ${causes(e)}")
      } finally sq.stop()
    }
  }

  test("dependent query rejected by incremental path, works via microBatch") {
    val emfQ = EmfParser.parseOne(
      """prod,avg_quant_1,count_quant_2
        |2
        |prod
        |avg_quant_1,count_quant_2
        |{MF.prod.avg_quant_1}[=]{prod},{MF.prod.count_quant_2}[=]{prod}:{MF.avg_quant_1.count_quant_2}[>]{quant}""".stripMargin, cols)
    val stream = MemoryStream[SalesRow](spark)
    val e = intercept[IllegalArgumentException](
      EmfStreaming.plan(emfQ, stream.toDF()))
    assert(e.getMessage.contains("SIMPLE"))

    var last: Seq[org.apache.spark.sql.Row] = Nil
    val q = EmfStreaming.microBatch(emfQ, stream.toDF()) { (df, _) =>
      val out = df.orderBy("prod").collect().toSeq
      if (out.nonEmpty) last = out
    }.outputMode(OutputMode.Append).start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val batch = EmfPlanner.plan(emfQ, rows.toDF()).orderBy("prod").collect().toSeq
    assert(last == batch)
  }

  // ---- execution form (the interpret gate at stream start) ----------------

  private val interpretKey = "spark.graft.emf.interpret.maxBytes"

  /** The interpret gate's conf value forcing each execution form. */
  private val forms = Seq("compiled" -> "0", "interpreted" -> Long.MaxValue.toString)

  private val codegenOff = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** What one file-source run of [[fileSourceRun]] observed. */
  private final class FileRun(val plan: EmfStreaming.StreamingPlan, val snapshot: Seq[Row],
      val compiles: Long, val batchConfs: Map[String, Option[String]],
      val listedByCaller: Boolean, val listedByFrame: Boolean)

  /** `q` through `planAuto` over the parquet dir `dir`, one file per
    * trigger, into a `foreachBatch` sink: the plan, the snapshot of its
    * emissions, the codegen compiles the run added, the codegen confs
    * of the micro-batches' session, and which `StreamingQueryManager`s
    * listed the running query. */
  private def fileSourceRun(q: EmfQuery, dir: String, schema: StructType): FileRun = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val sp = EmfStreaming.planAuto(q, src)
    val emitted = ListBuffer[Row]()
    var confs = Map.empty[String, Option[String]]
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sq = sp.df.writeStream.foreachBatch { (df: DataFrame, _: Long) =>
      confs = codegenOff.keys.map(k => k -> df.sparkSession.conf.getOption(k)).toMap
      emitted ++= df.collect(); ()
    }.outputMode(OutputMode.Update).start()
    val listed = (spark.streams.active.exists(_.id == sq.id),
      sp.df.sparkSession.streams.active.exists(_.id == sq.id))
    try sq.processAllAvailable() finally sq.stop()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    val order = q.groupAttrs.map(org.apache.spark.sql.functions.col)
    val snap = EmfStreaming.snapshot(spark.createDataFrame(emitted.asJava, sp.df.schema), q)
      .orderBy(order: _*).collect().toSeq
    new FileRun(sp, snap, compiles, confs, listed._1, listed._2)
  }

  test("a below-T parquet-dir stream runs interpreted from its first trigger") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toFile
    try {
      // one file: the first trigger is the whole run
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val schema = spark.read.parquet(dir.toString).schema
      val probe = graft.Gates.leafBytes(spark.read.schema(schema).parquet(dir.toString))
      assert(probe > 0 && probe < BigInt(graft.Gates.InterpretMaxBytes), probe)
      val batch = EmfPlanner.plan(q8Q, rows.toDF())
        .orderBy("cust", "month").collect().toSeq

      val interp = fileSourceRun(q8Q, dir.toString, schema)
      assert(interp.plan.form == "interpreted" && interp.plan.sourceBytes.contains(probe))
      assert(EmfPlanner.isInterpreted(interp.plan.df))
      // the stream's own session, which runs the micro-batches a
      // foreachBatch sink receives, holds both codegen keys
      assert(interp.batchConfs == codegenOff.map { case (k, v) => k -> Some(v) })
      // the query belongs to the session copy's StreamingQueryManager
      assert(interp.listedByFrame && !interp.listedByCaller)
      assert(interp.snapshot == batch && batch.nonEmpty)

      spark.conf.set(interpretKey, "0")
      val compiled = try fileSourceRun(q8Q, dir.toString, schema)
        finally spark.conf.unset(interpretKey)
      assert(compiled.plan.form == "compiled" && compiled.plan.sourceBytes.contains(probe))
      assert(compiled.plan.df.sparkSession eq spark)
      assert(compiled.batchConfs.values.forall(v => !codegenOff.values.exists(v.contains)))
      assert(compiled.listedByCaller && compiled.listedByFrame)
      assert(compiled.snapshot == batch)
      assert(interp.compiles < compiled.compiles,
        s"interpreted ${interp.compiles} vs compiled ${compiled.compiles} compiles")
    } finally FileUtils.deleteQuietly(dir)
  }

  test("a stream of unknown size stays compiled; the conf forces either form") {
    val unsized = MemoryStream[SalesRow](spark).toDF()
    val sp = EmfStreaming.planAuto(windowedQ, unsized)
    assert(sp.form == "compiled" && sp.sourceBytes.isEmpty)
    assert(!EmfPlanner.isInterpreted(sp.df) && (sp.df.sparkSession eq spark))
    // every public lowering passes through the gate
    def lowerings(): Seq[DataFrame] = Seq(
      EmfStreaming.planAuto(windowedQ, unsized).df,
      EmfStreaming.plan(simpleQ, unsized),
      EmfStreaming.planKeyed(dependentQ, unsized),
      EmfStreaming.planKeyed(crossQ, unsized),
      EmfStreaming.planAuto(EmfParser.parseOne(
        """cust,min_quant_oth
          |1
          |cust
          |min_quant_oth
          |{MF.cust.min_quant_oth}[!=]{cust}""".stripMargin, cols), unsized).df)
    assert(lowerings().forall(!EmfPlanner.isInterpreted(_)))
    spark.conf.set(interpretKey, Long.MaxValue.toString)
    try {
      assert(lowerings().forall(EmfPlanner.isInterpreted))
      assert(EmfStreaming.planAuto(windowedQ, unsized).form == "interpreted")
    } finally spark.conf.unset(interpretKey)
  }

  // ---- checkpoint write path (graft.io.LocalFs) ---------------------------

  private val stockFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  private def windowedBatch(in: Seq[SalesRow]): Seq[Row] =
    EmfPlanner.plan(windowedQ, in.toDF()).orderBy("cust", "month").collect().toSeq

  private def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
    e.getStackTrace.getFrames.asScala.toSeq
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  /** The `jdk.ProcessStart` events JFR records in this JVM while `body`
    * runs, less those a GC `Cleaner` thread starts meanwhile (e.g. the
    * `rm -rf` of a collected session's artifact dir, unrelated to `body`). */
  private def processStarts(body: => Unit): Seq[jdk.jfr.consumer.RecordedEvent] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          !frames(e).exists(_.startsWith("jdk.internal.ref.CleanerImpl")))
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(file); () }
  }

  private def forkReport(starts: Seq[jdk.jfr.consumer.RecordedEvent]): String =
    starts.take(3).map { e =>
      e.getString("command") + " <- " + frames(e).take(12).mkString(" < ")
    }.mkString(s"${starts.size} process starts, e.g.:\n", "\n", "")

  /** `windowedQ` through `planAuto` on `session`: three triggers into a
    * memory sink on the default temporary checkpoint; the snapshot. The
    * frame's session, the interpreted copy included, carries the
    * caller's checkpoint filesystem. */
  private def threeTriggers(session: SparkSession, name: String): Seq[Row] = {
    val stream = MemoryStream[SalesRow](session)
    val sp = EmfStreaming.planAuto(windowedQ, stream.toDF())
    assert(sp.df.sparkSession.conf.get(LocalFs.ImplKey) == session.conf.get(LocalFs.ImplKey))
    val sq = sp.df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try rows.grouped(2).foreach { c => stream.addData(c); sq.processAllAvailable() }
    finally sq.stop()
    EmfStreaming.snapshot(sq.sparkSession.table(name), windowedQ)
      .orderBy("cust", "month").collect().toSeq
  }

  test("streaming EMF commits state and WAL without forking a process") {
    val batch = windowedBatch(rows)
    forms.foreach { case (form, maxBytes) =>
      val graftSession = spark.newSession()
      graftSession.conf.set(interpretKey, maxBytes)
      // unrecorded: JVM one-offs (Hadoop's Shell class init probes setsid)
      assert(threeTriggers(graftSession, s"emf_fork_warm_$form") == batch)
      assert(graftSession.conf.get(LocalFs.ImplKey) == classOf[LocalFs].getName)
      val graftStarts = processStarts {
        assert(threeTriggers(graftSession, s"emf_fork_graft_$form") == batch)
      }
      assert(graftStarts.isEmpty, s"$form: ${forkReport(graftStarts)}")
      // the same query on Hadoop's own LocalFs forks: the guard above is
      // not vacuous, and a user's setting is respected
      val stockSession = spark.newSession()
      stockSession.conf.set(interpretKey, maxBytes)
      stockSession.conf.set(LocalFs.ImplKey, stockFs)
      val stockStarts = processStarts {
        assert(threeTriggers(stockSession, s"emf_fork_stock_$form") == batch)
      }
      assert(stockSession.conf.get(LocalFs.ImplKey) == stockFs)
      assert(stockStarts.exists(frames(_).contains("org.apache.hadoop.util.Shell.runCommand")),
        s"$form: ${forkReport(stockStarts)}")
    }
  }

  /** `q` for two triggers with `first` as the session's `file:`
    * filesystem, stopped, then restarted on the same checkpoint under
    * `second` for one more trigger (None: the key is unset, so `planAuto`
    * installs graft's), in the execution form `maxBytes` forces. Asserts
    * snapshot == batch over all rows; returns the checkpoint's file
    * listing. */
  private def restartAcross(q: EmfQuery, first: Option[String],
      second: Option[String], maxBytes: String): Seq[String] = {
    val session = spark.newSession()
    session.conf.set(interpretKey, maxBytes)
    val stream = MemoryStream[SalesRow](session)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    val emitted = ListBuffer[Row]()
    var schema: StructType = null
    def run(impl: Option[String], chunks: Seq[Seq[SalesRow]]): Unit = {
      impl.fold(session.conf.unset(LocalFs.ImplKey))(session.conf.set(LocalFs.ImplKey, _))
      val sp = EmfStreaming.planAuto(q, stream.toDF())
      Seq(session, sp.df.sparkSession).foreach { s =>
        assert(s.conf.get(LocalFs.ImplKey) == impl.getOrElse(classOf[LocalFs].getName))
      }
      schema = sp.df.schema
      val sq = sp.df.writeStream.option("checkpointLocation", checkpoint.toString)
        .foreachBatch { (df: DataFrame, _: Long) => emitted ++= df.collect(); () }
        .outputMode(OutputMode.Update).start()
      try chunks.foreach { c => stream.addData(c); sq.processAllAvailable() }
      finally sq.stop()
    }
    try {
      run(first, Seq(rows.take(2), rows.slice(2, 4)))
      run(second, Seq(rows.drop(4)))
      val order = q.groupAttrs.map(org.apache.spark.sql.functions.col)
      val snap = EmfStreaming.snapshot(
        session.createDataFrame(emitted.asJava, schema), q)
        .orderBy(order: _*).collect().toSeq
      assert(snap == EmfPlanner.plan(q, rows.toDF()).orderBy(order: _*).collect().toSeq,
        q.select)
      val root = checkpoint.toPath
      FileUtils.listFiles(checkpoint, null, true).asScala.toSeq
        .map(f => root.relativize(f.toPath).toString).sorted
    } finally FileUtils.deleteQuietly(checkpoint)
  }

  test("a checkpoint restarts across graft's and Hadoop's local filesystems") {
    // one query per state shape of planKeyed: windowed, dependent (q6),
    // chained (q8), in both execution forms
    for (q <- Seq(windowedQ, dependentQ, q8Q); (_, maxBytes) <- forms) {
      val graftThenStock = restartAcross(q, None, Some(stockFs), maxBytes)
      val stockThenGraft = restartAcross(q, Some(stockFs), None, maxBytes)
      assert(graftThenStock == stockThenGraft) // one checkpoint layout
      assert(graftThenStock.exists(_.matches("state/0/\\d+/\\.1\\.delta\\.crc")),
        graftThenStock)
    }
  }
}
