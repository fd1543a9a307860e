package graft.emf

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Planner semantics on tiny literal frames, covering exactly the edge
  * cases the reference engine mishandles (SURVEY.md §2.3 / FIXTURES.md §5):
  * true min of 0, SQL NULLs, ambiguous concatenated group keys, empty
  * dependent groups. */
class EmfPlannerSpec extends SparkSpec {
  import spark.implicits._

  test("runBatch: shared-fact batch matches every individual run") {
    val counts = GoldenQueries.runBatch(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (1 to 8).toSet)
    (1 to 8).foreach { i =>
      assert(counts(i) == GoldenQueries.run(i)(spark, sf0001).count(), s"q$i count")
    }
    // full-frame agreement on the dependent-pass query (q4): planning
    // against the batch's cached fact frame is row-identical to the
    // per-query path
    val fact = graft.Tables.salesView(spark, sf0001).cache()
    val q4 = GoldenQueries.parsed(3)
    val viaBatch = EmfPlanner.plan(q4, fact)
      .orderBy(q4.groupAttrs.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
    assert(viaBatch == GoldenQueries.run(4)(spark, sf0001).collect().toSeq)
    fact.unpersist()
    EmfPlanner.unpersistAll()
  }

  private val cols = Set("cust", "prod", "month", "state", "quant")

  private def sales = Seq(
    ("AB", "C", 1, "NY", 10),
    ("AB", "C", 2, "NY", 0),     // true min 0 (reference's 0-sentinel bug)
    ("AB", "C", 2, "CT", 4),
    ("A", "BC", 1, "NY", 6),     // ("AB","C") vs ("A","BC"): concat-collision
    ("Z", "C", 3, "CT", 8)
  ).toDF("cust", "prod", "month", "state", "quant")

  test("simple variables fold into one conditional hash agg") {
    val q = EmfParser.parseOne(
      """cust,min_quant_NY,avg_quant_CT
        |2
        |cust
        |min_quant_NY,avg_quant_CT
        |{MF.cust.min_quant_NY}[=]{cust}:{state}[=]{NY},{MF.cust.avg_quant_CT}[=]{cust}:{state}[=]{CT}""".stripMargin, cols)
    val out = EmfPlanner.plan(q, sales).orderBy("cust").collect()
    // min over NY for AB is the true 0, not the reference's "unset"
    assert(out.toSeq == Seq(
      Row("A", 6, null), Row("AB", 0, 4.0), Row("Z", null, 8.0)))
    // plan shape: no join for simple variables
    val plan = EmfPlanner.plan(q, sales).queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"))
  }

  // r18 skew fallback: forcing the gate (salt.maxPerKey=0) must put the
  // deterministic salt into the dependent pass's plan and change nothing
  // about the result — here on golden q8, whose dependent variable joins
  // on (cust, month) equality plus an aggregate threshold.
  test("forced salt appears in the dependent-pass plan and preserves results") {
    val base = GoldenQueries.run(8)(spark, sf0001).collect().toSeq
    spark.conf.set("spark.graft.emf.salt.maxPerKey", "0")
    spark.conf.set("spark.graft.emf.salt.buckets", "5")
    try {
      val salted = GoldenQueries.run(8)(spark, sf0001)
      val plan = salted.queryExecution.optimizedPlan.toString
      assert(plan.contains("__gsalt"), "salted plan must join on __gsalt")
      assert(salted.collect().toSeq == base)
    } finally {
      spark.conf.unset("spark.graft.emf.salt.maxPerKey")
      spark.conf.unset("spark.graft.emf.salt.buckets")
      GoldenQueries.clearCache()
      EmfPlanner.unpersistAll()
    }
  }

  test("group keys do not collide (AB,C vs A,BC are distinct groups)") {
    val q = EmfParser.parseOne(
      """cust,prod,count_quant_all
        |1
        |cust,prod
        |count_quant_all
        |{MF.cust.count_quant_all}[=]{cust}:{MF.prod.count_quant_all}[=]{prod}""".stripMargin, cols)
    val out = EmfPlanner.plan(q, sales)
    assert(out.count() == 3)
    val ab = out.filter($"cust" === "AB" && $"prod" === "C").collect()
    assert(ab.head.getLong(2) == 3L)
  }

  test("nulls are skipped by aggregates (no 0-coercion)") {
    val withNull = Seq(
      ("A", Some(10)), ("A", None), ("B", Some(4))
    ).toDF("cust", "quant")
    val q = EmfParser.parseOne(
      """cust,avg_quant,count_quant
        |1
        |cust
        |count_quant
        |{MF.cust.count_quant}[=]{cust}""".stripMargin, Set("cust", "quant"))
    val out = EmfPlanner.plan(q, withNull).orderBy("cust").collect()
    assert(out(0) == Row("A", 10.0, 1L)) // null skipped in avg AND count
    assert(out(1) == Row("B", 4.0, 1L))
  }

  test("dependent variable with empty group: count coalesces to 0, avg stays null") {
    val q = EmfParser.parseOne(
      """cust,avg_quant,count_quant_big
        |1
        |cust
        |count_quant_big
        |{MF.cust.count_quant_big}[=]{cust}:{MF.avg_quant.count_quant_big}[<]{quant}""".stripMargin, cols)
    // count of tuples with quant > group avg; for a 1-row group that is 0
    val one = Seq(("X", 5)).toDF("cust", "quant")
    val out = EmfPlanner.plan(q, one).collect()
    assert(out.head == Row("X", 5.0, 0L))
    // θ-only membership (inner join + join-back) coalesces the same way
    val qt = EmfParser.parseOne(
      """cust,avg_quant,count_quant_big
        |1
        |cust
        |count_quant_big
        |{MF.avg_quant.count_quant_big}[<]{quant}""".stripMargin, cols)
    assert(EmfPlanner.plan(qt, one).collect().head == Row("X", 5.0, 0L))
  }

  test("dependent pass equals equivalent SQL join formulation") {
    sales.createOrReplaceTempView("s_planner_spec")
    val q = EmfParser.parseOne(
      """cust,sum_quant_oth
        |1
        |cust
        |sum_quant_oth
        |{MF.cust.sum_quant_oth}[!=]{cust}""".stripMargin, cols)
    // sum over OTHER custs' rows — subset-free inequality membership
    val got = EmfPlanner.plan(q, sales).orderBy("cust")
    val want = spark.sql(
      """SELECT g.cust, o.sum_quant_oth
        |FROM (SELECT DISTINCT cust FROM s_planner_spec) g
        |LEFT JOIN (
        |  SELECT g2.cust, sum(t.quant) AS sum_quant_oth
        |  FROM (SELECT DISTINCT cust FROM s_planner_spec) g2
        |  JOIN s_planner_spec t ON t.cust <> g2.cust GROUP BY g2.cust) o
        |USING (cust) ORDER BY cust""".stripMargin)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("complement rewrite: eq+<> variable avoids the anti-join, edges stay exact") {
    // q4 shape: same-prod, other-cust average
    val q = EmfParser.parseOne(
      """cust,prod,avg_quant_oth
        |1
        |cust,prod
        |avg_quant_oth
        |{MF.prod.avg_quant_oth}[=]{prod}:{MF.cust.avg_quant_oth}[<>]{cust}""".stripMargin, cols)
    sales.createOrReplaceTempView("s_comp_spec")
    val got = EmfPlanner.plan(q, sales).orderBy("cust", "prod")
    val want = spark.sql(
      """SELECT g.cust, g.prod, o.avg_quant_oth
        |FROM (SELECT DISTINCT cust, prod FROM s_comp_spec) g
        |LEFT JOIN (
        |  SELECT g2.cust, g2.prod,
        |    CAST(sum(t.quant) AS DOUBLE)/count(t.quant) AS avg_quant_oth
        |  FROM (SELECT DISTINCT cust, prod FROM s_comp_spec) g2
        |  JOIN s_comp_spec t ON t.prod = g2.prod AND t.cust <> g2.cust
        |  GROUP BY 1, 2) o
        |USING (cust, prod) ORDER BY cust, prod""".stripMargin)
    assert(got.collect().toSeq == want.collect().toSeq)
    // ("A","BC") has no same-prod other cust → complement empty → NULL
    assert(got.filter($"cust" === "A").head.isNullAt(2))
    // plan shape: the lowering must be two equi-joined aggregations, not
    // the dependent pass's MF×fact join carrying the <> predicate
    val opt = EmfPlanner.plan(q, sales).queryExecution.optimizedPlan.toString
    assert(!opt.contains("NOT ("), opt)
  }

  test("complement rewrite: count of an empty complement is 0, sum is NULL") {
    val q = EmfParser.parseOne(
      """cust,count_quant_oth,sum_quant_oth
        |2
        |cust
        |count_quant_oth,sum_quant_oth
        |{MF.cust.count_quant_oth}[<>]{cust},{MF.cust.sum_quant_oth}[!=]{cust}""".stripMargin, cols)
    val one = Seq(("X", 5), ("X", 7)).toDF("cust", "quant")
    val out = EmfPlanner.plan(q, one).collect()
    assert(out.head == Row("X", 0L, null))
  }

  private val cqCols = Set("cust", "prod", "quant")

  /** Plan `spec` over (cust, prod, quant) rows — every column nullable —
    * and assert row-for-row agreement with the brute-force interpreter. */
  private def agreesWithBrute(spec: String,
      rows: Seq[(String, String, Option[Int])]): Map[Seq[Any], Any] = {
    val q = EmfParser.parseOne(spec, cqCols)
    val got = EmfPlanner.plan(q, rows.toDF("cust", "prod", "quant"))
      .collect().map(_.toSeq).toSeq
    val want = BruteEmf.run(q, rows.map { case (c, p, x) =>
      Map[String, Any]("cust" -> c, "prod" -> p, "quant" -> x.map(Int.box).orNull)
    })
    def render(rs: Seq[Seq[Any]]) = rs.map(_.mkString("|")).sorted
    assert(render(got) == render(want), spec)
    val k = q.groupAttrs.size
    got.map(r => r.take(k) -> r(k)).toMap
  }

  private val minMaxRows = Seq[(String, String, Option[Int])](
    ("a", "P", Some(10)), ("b", "P", Some(10)),  // tie on the best max
    ("c", "P", Some(3)), ("e", "P", Some(3)),    // tie on the best min
    ("d", "P", None),                            // own slice: no measure
    (null, "Q", Some(7)), ("a", "Q", Some(5)),   // null anti slice
    ("a", "R", Some(4)),                         // single slice under R
    ("a", "S", None), ("b", "S", None))          // all-null measure

  test("complement min/max: best / runner-up slice agrees with BruteEmf on edges") {
    for (f <- Seq("min", "max")) {
      val keyed = agreesWithBrute(
        s"""cust,prod,${f}_quant_oth
           |1
           |cust,prod
           |${f}_quant_oth
           |{MF.prod.${f}_quant_oth}[=]{prod}:{MF.cust.${f}_quant_oth}[<>]{cust}""".stripMargin,
        minMaxRows)
      val tie = if (f == "max") 10 else 3
      // a tied best slice reads the other tied slice's equal value
      Seq("a", "b", "c", "e").foreach(c => assert(keyed(Seq(c, "P")) == tie, s"$f $c"))
      assert(keyed(Seq("d", "P")) == tie) // not the best slice → best
      assert(keyed(Seq(null, "Q")) == 5 && keyed(Seq("a", "Q")) == 7)
      assert(keyed(Seq("a", "R")) == null) // single slice → empty complement
      assert(keyed(Seq("a", "S")) == null && keyed(Seq("b", "S")) == null)
      // a tuple condition that empties some slices: c/e keep no tuples
      // under quant > 4 and read the best of the rest
      val filtered = agreesWithBrute(
        s"""cust,prod,${f}_quant_oth
           |1
           |cust,prod
           |${f}_quant_oth
           |{MF.prod.${f}_quant_oth}[=]{prod}:{MF.cust.${f}_quant_oth}[<>]{cust}:{quant}[>]{4}""".stripMargin,
        minMaxRows)
      assert(filtered(Seq("c", "P")) == 10 && filtered(Seq("a", "P")) == 10)
      // keyless E: the complement spans every other cust
      val keyless =
        s"""cust,${f}_quant_oth
           |1
           |cust
           |${f}_quant_oth
           |{MF.cust.${f}_quant_oth}[<>]{cust}""".stripMargin
      val all = agreesWithBrute(keyless, minMaxRows)
      assert(all(Seq("d")) == (if (f == "max") 10 else 3))
      assert(agreesWithBrute(keyless, Seq(("a", "P", Some(1)), ("a", "Q", Some(2))))
        == Map(Seq("a") -> null)) // one slice
      assert(agreesWithBrute(keyless, Seq(("a", "P", None), ("b", "P", None)))
        .values.forall(_ == null)) // all-null measure
    }
  }

  test("complement min/max plan: no anti join, no groups × domain cross join") {
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = minMaxRows.toDF("cust", "prod", "quant")
    def joins(spec: String): Seq[Join] =
      EmfPlanner.plan(EmfParser.parseOne(spec, cqCols), df)
        .queryExecution.optimizedPlan.collect { case j: Join => j }
    def unkeyed(j: Join) = (j.joinType == Inner || j.joinType == Cross) &&
      j.condition.isEmpty
    val keyed = joins(
      """cust,prod,max_quant_oth
        |1
        |cust,prod
        |max_quant_oth
        |{MF.prod.max_quant_oth}[=]{prod}:{MF.cust.max_quant_oth}[<>]{cust}""".stripMargin)
    assert(keyed.nonEmpty && !keyed.exists(_.joinType == LeftAnti), keyed)
    assert(!keyed.exists(unkeyed), keyed)
    // keyless: the only cross join is against a one-row global aggregate
    val keyless = joins(
      """cust,min_quant_oth
        |1
        |cust
        |min_quant_oth
        |{MF.cust.min_quant_oth}[<>]{cust}""".stripMargin)
    assert(!keyless.exists(_.joinType == LeftAnti), keyless)
    val cross = keyless.filter(unkeyed)
    assert(cross.size == 1, keyless)
    assert(cross.head.right.collectFirst { case a: Aggregate => a }
      .exists(_.groupingExpressions.isEmpty), cross.head)
  }

  test("MF frame persistence follows PlanShare's size gate") {
    val fact = graft.Tables.salesView(spark, sf0001)
    // θ-only membership (no equi key): the MF frame feeds both the
    // inner join and the join-back
    val theta = EmfParser.parseOne(
      """cust,avg_quant,count_quant_big
        |1
        |cust
        |count_quant_big
        |{MF.avg_quant.count_quant_big}[<]{quant}""".stripMargin, fact.columns.toSet)
    // golden q8: equality-keyed, so its one left join reads the frame once
    val keyed = GoldenQueries.parsed(7)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def rows(q: EmfQuery) =
      EmfPlanner.plan(q, fact).collect().map(_.mkString("|")).sorted.toSeq
    // fixture size is far below the 2 GiB gate: nothing is pinned
    val gated = rows(theta)
    assert(sc.getPersistentRDDs.keySet == before)
    spark.conf.set("spark.graft.share.minBytes", "0")
    try {
      val forced = rows(theta)
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
        "an open gate must persist the MF frame")
      EmfPlanner.unpersistAll()
      assert(sc.getPersistentRDDs.keySet == before,
        "unpersistAll must release the MF frame")
      assert(forced == gated)
      rows(keyed)
      assert(sc.getPersistentRDDs.keySet == before,
        "a single-consumer MF frame is never pinned")
    } finally {
      spark.conf.unset("spark.graft.share.minBytes")
      EmfPlanner.unpersistAll()
    }
  }

  test("small inputs run interpreted: no whole-stage codegen, no compile for a new literal") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val aqe = new AdaptiveSparkPlanHelper {}
    def wholeStage(df: org.apache.spark.sql.DataFrame): Int =
      aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the sf0.01 fact (1.39 MB of leaf files) is the size class of the
    // ad-hoc fixtures the gate exists for
    val fact = graft.Tables.salesView(spark, sf001).cache()
    fact.count()
    val leaf = graft.Gates.leafBytes(fact)
    assert(leaf > BigInt(1L << 20) && leaf < BigInt(graft.Gates.InterpretMaxBytes), leaf)
    // q6's shape (a dependent pass) with a numeric literal, which
    // compiled code inlines into its generated source
    def q(lit: Long) = EmfParser.parseOne(
      s"""prod,month,avg_quant_1,count_quant_2
        |2
        |prod,month
        |avg_quant_1,count_quant_2
        |{MF.prod.avg_quant_1}[=]{prod}:{MF.month.avg_quant_1}[=]{month}:{quant}[<]{$lit},{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant},{year}[==]{1997}""".stripMargin,
      fact.columns.toSet)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).sorted.toSeq
    // literals no earlier query in this JVM has used
    val fresh = 1000000L + (System.nanoTime() % 1000000L)
    val tz = "spark.sql.session.timeZone"
    val callerTz = spark.conf.get(tz)
    try {
      rows(EmfPlanner.plan(q(999999L), fact)) // the shape's non-literal classes
      val before = compiles
      val small = EmfPlanner.plan(q(fresh), fact)
      val interpreted = rows(small)
      assert(compiles == before,
        "an interpreted query must compile nothing (a Spark that ignores " +
          "spark.sql.codegen.factoryMode compiles its expressions here)")
      assert(EmfPlanner.isInterpreted(small))
      assert(wholeStage(small) == 0, small.queryExecution.executedPlan)
      assert(interpreted.nonEmpty)
      // the caller's session never holds the interpreted form's conf
      Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN").foreach { case (k, v) =>
        assert(!spark.conf.getOption(k).contains(v), k)
      }
      // the compiled form, forced by the session conf: another new
      // literal (every quant passes both filters, so the rows agree)
      // compiles its classes and whole stages fuse
      spark.conf.set("spark.graft.emf.interpret.maxBytes", "0")
      val compiled = try EmfPlanner.plan(q(fresh + 1), fact) finally
        spark.conf.unset("spark.graft.emf.interpret.maxBytes")
      val before2 = compiles
      assert(rows(compiled) == interpreted)
      assert(compiles > before2, "the compiled form must compile its new literal")
      assert(!EmfPlanner.isInterpreted(compiled))
      assert(wholeStage(compiled) > 0, compiled.queryExecution.executedPlan)
      // a conf the caller sets at runtime reaches the returned frame
      spark.conf.set(tz, "America/Los_Angeles")
      val zoned = EmfPlanner.plan(q(fresh), fact)
        .select(org.apache.spark.sql.functions.current_timezone()).head()
      assert(zoned.getString(0) == "America/Los_Angeles")
    } finally {
      spark.conf.set(tz, callerTz)
      fact.unpersist()
      EmfPlanner.unpersistAll()
    }
  }

  /** eq on cust + an aggregate threshold: one equality-keyed dependent
    * pass, which reads every salt conf once the gate is forced */
  private val eqDependent = """cust,avg_quant_a,count_quant_b
    |2
    |cust
    |avg_quant_a,count_quant_b
    |{MF.cust.avg_quant_a}[=]{cust},{MF.cust.count_quant_b}[=]{cust}:{MF.avg_quant_a.count_quant_b}[>]{quant}""".stripMargin

  test("malformed salt confs fail at planning, naming key and value") {
    val q = EmfParser.parseOne(eqDependent, cols)
    // θ-only membership: the pass whose MF frame goes through the share gate
    val theta = EmfParser.parseOne(
      """cust,avg_quant,count_quant_big
        |1
        |cust
        |count_quant_big
        |{MF.avg_quant.count_quant_big}[<]{quant}""".stripMargin, cols)
    def rejects(confs: (String, String)*)(key: String, value: String,
        query: EmfQuery = q): Unit = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val e = intercept[IllegalArgumentException](EmfPlanner.plan(query, sales))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
          e.getMessage)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // every gate key graft reads (graft.Gates' table), plus the salt's
    // bucket count
    val share = "spark.graft.share.minBytes"
    val interpret = "spark.graft.emf.interpret.maxBytes"
    val maxPerKey = "spark.graft.emf.salt.maxPerKey"
    val buckets = "spark.graft.emf.salt.buckets"
    rejects(share -> "2GiB")(share, "2GiB", theta)
    rejects(interpret -> "4 MiB")(interpret, "4 MiB")
    rejects(maxPerKey -> "lots")(maxPerKey, "lots")
    rejects("spark.graft.emf.salt.statMinBytes" -> "1GiB")(
      "spark.graft.emf.salt.statMinBytes", "1GiB")
    rejects(maxPerKey -> "0", buckets -> "four")(buckets, "four")
    rejects(maxPerKey -> "0", buckets -> "0")(buckets, "0")
    rejects(maxPerKey -> "0", buckets -> "-3")(buckets, "-3")
    val tooMany = (Int.MaxValue.toLong + 1).toString
    rejects(maxPerKey -> "0", buckets -> tooMany)(buckets, tooMany)
    val pastLong = (BigInt(Long.MaxValue) + 1).toString
    rejects(interpret -> pastLong)(interpret, pastLong)
    // the two interpret values that decide without a probe: 0 forces the
    // compiled form and Long.MaxValue the interpreted one, also over a
    // fact whose leaves report no size (an RDD-backed frame reports
    // spark.sql.defaultSizeInBytes, Long.MaxValue); at the default T that
    // fact counts as too big
    val unsized = spark.createDataFrame(sales.rdd, sales.schema)
    assert(graft.Gates.leafBytes(unsized) >= BigInt(Long.MaxValue))
    def form(t: Option[String], fact: org.apache.spark.sql.DataFrame): Boolean = {
      t.foreach(spark.conf.set(interpret, _))
      try EmfPlanner.isInterpreted(EmfPlanner.plan(q, fact))
      finally spark.conf.unset(interpret)
    }
    assert(form(Some(Long.MaxValue.toString), unsized))
    assert(form(Some(Long.MaxValue.toString), sales))
    assert(!form(None, unsized))
    assert(form(None, sales))
    assert(!form(Some("0"), sales))
  }

  test("the salt gate's hot-key stat: none below its floor, one memo entry above it") {
    val fact = graft.Tables.salesView(spark, sf001)
    val q = EmfParser.parseOne(eqDependent, fact.columns.toSet)
    val memo = graft.Memo.hotKeys
    val sc = spark.sparkContext
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).sorted.toSeq
    /** jobs `body` starts before any action on what it returns */
    def jobsOf[T](body: => T): (T, Int) = {
      val group = s"salt-stat-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      try { val r = body; (r, sc.statusTracker.getJobIdsForGroup(group).length) }
      finally sc.clearJobGroup()
    }
    memo.evict()
    try {
      // default confs: the sf0.01 fact is far below the 1 GiB floor
      val (gated, gatedJobs) = jobsOf(EmfPlanner.plan(q, fact))
      assert(gatedJobs == 0 && memo.isEmpty, "below-floor plan ran the sampling stat")
      spark.conf.set("spark.graft.emf.salt.statMinBytes", "0")
      val (sampled, sampledJobs) = jobsOf(EmfPlanner.plan(q, fact))
      assert(sampledJobs > 0 && memo.size == 1, s"$sampledJobs jobs, memo $memo")
      val est = memo.values.iterator.next()
      // a rebuild reuses the entry: same value, no sampling job
      val (_, rebuildJobs) = jobsOf(EmfPlanner.plan(q, fact))
      assert(rebuildJobs == 0 && memo.size == 1 && memo.values.iterator.next() == est)
      // TPC-H-shaped customers are nowhere near 100k rows: the plain join
      assert(!sampled.queryExecution.optimizedPlan.toString.contains("__gsalt"))
      assert(rows(sampled) == rows(gated))
    } finally {
      spark.conf.unset("spark.graft.emf.salt.statMinBytes")
      memo.evict()
      EmfPlanner.unpersistAll()
    }
  }

  test("windowed lowering: subset-equality and order variables use Window, not join") {
    // corpus q2 shape: sum within group + per-prod total (subset equality)
    val q2 = EmfParser.parseOne(
      """prod,month,sum_quant_1,sum_quant_tot
        |2
        |prod,month
        |sum_quant_1,sum_quant_tot
        |{MF.prod.sum_quant_1}[=]{prod}:{MF.month.sum_quant_1}[=]{month},{MF.prod.sum_quant_tot}[=]{prod}""".stripMargin, cols)
    val plan2 = EmfPlanner.plan(q2, sales)
    val opt2 = plan2.queryExecution.optimizedPlan.toString
    assert(!opt2.toLowerCase.contains("join"), s"q2 should not join:\n$opt2")
    assert(opt2.contains("Window"), "q2 should use a window")
    // cross-check the window result against hand SQL
    sales.createOrReplaceTempView("s_win_spec")
    val want = spark.sql(
      """SELECT prod, month, sum_quant_1,
        |  sum(sum_quant_1) OVER (PARTITION BY prod) AS sum_quant_tot
        |FROM (SELECT prod, month, sum(quant) AS sum_quant_1
        |      FROM s_win_spec GROUP BY 1, 2)
        |ORDER BY prod, month""".stripMargin).collect().toSeq
    assert(plan2.orderBy("prod", "month").collect().toSeq == want)

    // corpus q3 shape: order comparison (before/after) → RANGE frame
    val q3 = EmfParser.parseOne(
      """cust,month,avg_quant,avg_quant_before
        |1
        |cust,month
        |avg_quant_before
        |{MF.cust.avg_quant_before}[=]{cust}:{MF.month.avg_quant_before}[<]{month}""".stripMargin, cols)
    val plan3 = EmfPlanner.plan(q3, sales)
    assert(!plan3.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
    val got3 = plan3.orderBy("cust", "month").collect().toSeq
    val want3 = spark.sql(
      """SELECT g.cust, g.month, g.avg_quant, b.avg_quant_before
        |FROM (SELECT cust, month, avg(quant) AS avg_quant FROM s_win_spec GROUP BY 1,2) g
        |LEFT JOIN (SELECT g2.cust, g2.month, avg(t.quant) AS avg_quant_before
        |           FROM (SELECT DISTINCT cust, month FROM s_win_spec) g2
        |           JOIN s_win_spec t ON t.cust = g2.cust AND t.month < g2.month
        |           GROUP BY 1, 2) b
        |ON g.cust = b.cust AND g.month = b.month
        |ORDER BY g.cust, g.month""".stripMargin).collect().toSeq
    assert(got3 == want3)
  }

  test("windowed lowering falls back to dependent pass on fractional order attrs") {
    // strict '<' via rangeBetween(-1) is only valid for integral order
    // values; a double order column must take the (always-correct) join
    val df = Seq(("a", 1.0, 10), ("a", 1.5, 10), ("a", 2.0, 10))
      .toDF("g", "price", "quant")
    val q = EmfParser.parseOne(
      """g,price,sum_quant_before
        |1
        |g,price
        |sum_quant_before
        |{MF.g.sum_quant_before}[=]{g}:{MF.price.sum_quant_before}[<]{price}""".stripMargin,
      Set("g", "price", "quant"))
    val out = EmfPlanner.plan(q, df).orderBy("price").collect()
    assert(out(0).isNullAt(2))          // nothing before 1.0
    assert(out(1).getLong(2) == 10L)    // 1.0 < 1.5
    assert(out(2).getLong(2) == 20L)    // 1.0, 1.5 < 2.0 — rangeBetween(-1) would say 10
    val opt = EmfPlanner.plan(q, df).queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("join")) // dependent path, not window
  }

  test("cross-attribute tuple operand + MF-vs-MF group restriction (q7 forms)") {
    val f = Seq(
      ("A", 1, 3, 10), // (A,1,3): day<month → A-tuples with day<3: 10+5 = 15
      ("A", 2, 3, 5),  // (A,2,3): day<month → same tuple set: 15
      ("A", 5, 2, 7),  // (A,5,2): 5<2 fails the MF-vs-MF restriction → NULL
      ("B", 1, 1, 9)   // (B,1,1): 1<1 fails → NULL
    ).toDF("cust", "day", "month", "quant")
    val q = EmfParser.parseOne(
      """cust,day,month,sum_quant_dm
        |1
        |cust,day,month
        |sum_quant_dm
        |{MF.cust.sum_quant_dm}[=]{cust}:{MF.month.sum_quant_dm}[<]{day}:{MF.month.sum_quant_dm}[<]{MF.day.sum_quant_dm}""".stripMargin,
      Set("cust", "day", "month", "quant"))
    val out = EmfPlanner.plan(q, f).orderBy("cust", "day", "month").collect()
    assert(out.toSeq == Seq(
      Row("A", 1, 3, 15L), Row("A", 2, 3, 15L),
      Row("A", 5, 2, null), Row("B", 1, 1, null)))
  }

  test("HAVING mixed and/or uses AND-over-OR precedence") {
    val q = EmfParser.parseOne(
      """cust,sum_quant_a,sum_quant_b,sum_quant_c
        |3
        |cust
        |sum_quant_a,sum_quant_b,sum_quant_c
        |{MF.cust.sum_quant_a}[=]{cust},{MF.cust.sum_quant_b}[=]{cust},{MF.cust.sum_quant_c}[=]{cust}
        |{sum_quant_a,>,1} [||] {sum_quant_b,>,1} [&&] {sum_quant_c,>,1}""".stripMargin, cols)
    // a>1 OR (b>1 AND c>1), not (a>1 OR b>1) AND c>1
    assert(q.having.get == HavingOr(
      HavingLeaf(HavingCond(MfField("sum_quant_a"), ">", Lit("1"))),
      HavingAnd(
        HavingLeaf(HavingCond(MfField("sum_quant_b"), ">", Lit("1"))),
        HavingLeaf(HavingCond(MfField("sum_quant_c"), ">", Lit("1"))))))
  }

  test("HAVING filters the MF frame") {
    val q = EmfParser.parseOne(
      """cust,sum_quant_a
        |1
        |cust
        |sum_quant_a
        |{MF.cust.sum_quant_a}[=]{cust}
        |{MF.sum_quant_a,>,10}""".stripMargin, cols)
    val out = EmfPlanner.plan(q, sales).collect()
    assert(out.map(_.getString(0)).toSet == Set("AB"))
  }

  test("plan-shape guards: one agg for SIMPLE, no agg-pass explosion for EMF") {
    // q5-shape (3 simple vars): exactly ONE Aggregate node in the
    // optimized plan — regression guard for the scan-0 folding
    val q5 = EmfParser.parseOne(
      """cust,avg_quant_NY,avg_quant_CT
        |2
        |cust
        |avg_quant_NY,avg_quant_CT
        |{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NY},{MF.cust.avg_quant_CT}[=]{cust}:{state}[=]{CT}""".stripMargin, cols)
    val p5 = EmfPlanner.plan(q5, sales).queryExecution.optimizedPlan
    val nAgg5 = p5.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size
    assert(nAgg5 == 1, s"expected 1 Aggregate, got $nAgg5:\n$p5")

    // q6-shape (1 simple + 1 dependent): two logical Aggregates and one
    // Join — scan-0, then the dependent pass's left join regrouped on G;
    // the scan-0 frame appears once (no join-back). Guard against growth.
    val q6 = EmfParser.parseOne(
      """cust,avg_quant_a,count_quant_b
        |2
        |cust
        |avg_quant_a,count_quant_b
        |{MF.cust.avg_quant_a}[=]{cust},{MF.cust.count_quant_b}[=]{cust}:{MF.avg_quant_a.count_quant_b}[>]{quant}""".stripMargin, cols)
    val p6 = EmfPlanner.plan(q6, sales).queryExecution.optimizedPlan
    val nAgg6 = p6.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size
    assert(nAgg6 <= 2, s"Aggregate count grew: $nAgg6:\n$p6")
    val nJoin6 = p6.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    assert(nJoin6 == 1, s"expected 1 Join, got $nJoin6:\n$p6")
  }

  test("WHERE combines with windowed and dependent variables") {
    val df = Seq(
      ("a", 1, "NY", 10, 2020), ("a", 2, "NY", 20, 2020),
      ("a", 3, "CT", 30, 2021), ("b", 1, "NY", 5, 2020)
    ).toDF("g", "ord", "state", "quant", "yr")
    val q = EmfParser.parseOne(
      """g,ord,sum_quant_before,sum_quant_oth
        |2
        |g,ord
        |sum_quant_before,sum_quant_oth
        |{MF.g.sum_quant_before}[=]{g}:{MF.ord.sum_quant_before}[<]{ord},{MF.g.sum_quant_oth}[!=]{g},{yr}[==]{2020}""".stripMargin,
      Set("g", "ord", "state", "quant", "yr"))
    val out = EmfPlanner.plan(q, df).orderBy("g", "ord").collect()
    // WHERE yr=2020 removes the 2021 row everywhere
    assert(out.length == 3)
    // ("a",2): before = 10; oth (g != a) = 5
    val a2 = out.find(r => r.getString(0) == "a" && r.getInt(1) == 2).get
    assert(a2.getLong(2) == 10L && a2.getLong(3) == 5L)
    // ("b",1): before = null; oth = 30 (a's 2020 rows: 10+20)
    val b1 = out.find(r => r.getString(0) == "b").get
    assert(b1.isNullAt(2) && b1.getLong(3) == 30L)
  }

  test("null grouping values follow the partition-selector contract in every lowering") {
    // A null group IS a group (SQL GROUP BY); same-attr membership on a
    // grouping attr is null-safe. Pinned on the two paths that used to
    // diverge: the complement pass (a null-anti group's own lookup
    // missed, handing it the TOTAL) and the general dependent join
    // (t.g != null compared false, emptying the null group's set).
    val df = Seq(
      (null.asInstanceOf[String], 10),
      ("a", 20),
      ("b", 30)).toDF("g", "x")
    val cols = Set("g", "x")
    // complement path: sum/count are subtractable → complementPass
    val qc = EmfParser.parseOne(
      """g,sum_x_oth,count_x_oth
        |2
        |g
        |sum_x_oth,count_x_oth
        |{MF.g.sum_x_oth}[!=]{g},{MF.g.count_x_oth}[!=]{g}""".stripMargin, cols)
    // min has no inverse → complementMinMaxPass (keyless E: global
    // best / runner-up slice), whose null anti slice must match too
    val qd = EmfParser.parseOne(
      """g,min_x_oth
        |1
        |g
        |min_x_oth
        |{MF.g.min_x_oth}[!=]{g}""".stripMargin, cols)
    val gotC = EmfPlanner.plan(qc, df).collect()
      .map(r => (r.getString(0), r.get(1), r.get(2))).toSet
    assert(gotC == Set(
      (null, 50L, 2L),  // complement of the null group = {20, 30}
      ("a", 40L, 2L),   // {10, 30} — the null row BELONGS to a's complement
      ("b", 30L, 2L)))  // {10, 20}
    val gotD = EmfPlanner.plan(qd, df).collect()
      .map(r => (r.getString(0), r.get(1))).toSet
    assert(gotD == Set((null, 20), ("a", 10), ("b", 10)))
    // and both agree with the interpreter
    val rows = Seq(Map[String, Any]("g" -> null, "x" -> 10),
      Map[String, Any]("g" -> "a", "x" -> 20),
      Map[String, Any]("g" -> "b", "x" -> 30))
    assert(BruteEmf.run(qc, rows).map(r => (r(0), r(1), r(2))).toSet == gotC)
    assert(BruteEmf.run(qd, rows).map(r => (r(0), r(1))).toSet == gotD)
  }

  test("fixture fact views declare non-nullable schemas (the =-key fast-path gate)") {
    // EmfPlanner pays null-safe membership joins (one extra exchange per
    // dependent pass) exactly when a grouping attr's schema says
    // nullable. The fixture views prove non-nullability via
    // AssertNotNull; if a refactor drops that, every corpus query
    // silently slows 2-3x — pin the schema here instead.
    val sv = graft.Tables.salesView(spark, sf0001)
    sv.schema.fields.foreach(f =>
      assert(!f.nullable, s"salesView.${f.name} became nullable — " +
        "the EMF =-key fast path is lost"))
    val ev = GoldenQueries.runEventsMf(spark, sf0001)
    assert(ev.columns.nonEmpty) // events MF runs end-to-end on the view
  }

  test("cyclic EMF dependencies are rejected") {
    val cyc = EmfQuery(
      Seq("g", "sum_a_x", "sum_b_y"), Seq("g"), Nil,
      Seq(
        GroupingVar(1, AggSpec("sum", "a", "sum_a_x"),
          Seq(Cond(TupleCol("g"), "=", MfField("g")),
              Cond(TupleCol("a"), ">", MfField("sum_b_y")))),
        GroupingVar(2, AggSpec("sum", "b", "sum_b_y"),
          Seq(Cond(TupleCol("g"), "=", MfField("g")),
              Cond(TupleCol("b"), ">", MfField("sum_a_x"))))),
      Nil, None)
    val base = Seq(("x", 1.0, 2.0)).toDF("g", "a", "b")
    val e = intercept[IllegalArgumentException](EmfPlanner.plan(cyc, base))
    assert(e.getMessage.contains("cyclic"))
  }
}
