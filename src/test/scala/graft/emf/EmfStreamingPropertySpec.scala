package graft.emf

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.{Gen, rng}

case class SPropRow(g: String, h: String, ord: Int, state: String, x: Int)
case class SNPropRow(g: String, h: String, ord: Int, state: String, x: Option[Int])

/** Property fuzz for the INCREMENTAL streaming EMF classes (all-SIMPLE,
  * windowed, dependent, chained, cross-group) —
  * the hand-rolled state machinery (exact micro-unit accumulators,
  * window recombination, histogram re-classification, complement
  * subtraction) that the batch planner never executes. For each class,
  * random queries inside that class's accepted shape run over a random
  * table fed in TWO micro-batches; after EVERY batch the snapshot must
  * equal the batch planner on the rows seen so far — the strongest form
  * of the incremental contract (revisions and retractions included),
  * checked against an independently fuzzed planner (EmfPropertySpec
  * pins the planner itself against BruteEmf). Every query runs in both
  * execution forms, forced through the interpret gate's conf.
  */
class EmfStreamingPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowGen: Gen[SPropRow] = for {
    g <- Gen.oneOf("a", "b", "c")
    h <- Gen.oneOf("p", "q")
    ord <- Gen.choose(1, 4)
    state <- Gen.oneOf("NY", "CT", "NJ")
    x <- Gen.choose(0, 50)
  } yield SPropRow(g, h, ord, state, x)

  private def sample[T](g: Gen[T], seed: Long): T = {
    var s = seed
    var r: Option[T] = None
    while (r.isEmpty) { r = g.apply(Gen.Parameters.default, rng.Seed(s)); s += 7919 }
    r.get
  }

  private val genTupleCond: Gen[Cond] = Gen.oneOf(
    for { s <- Gen.oneOf("NY", "CT", "NJ"); op <- Gen.oneOf("=", "!=") }
      yield Cond(TupleCol("state"), op, Lit(s)),
    for { v <- Gen.choose(5, 45); op <- Gen.oneOf("<", "<=", ">", ">=") }
      yield Cond(TupleCol("x"), op, Lit(v.toString)))

  private def eq(a: String) = Cond(TupleCol(a), "=", MfField(a))
  private val funcs = Gen.oneOf("sum", "avg", "min", "max", "count")
  private val subFuncs = Gen.oneOf("sum", "avg", "count") // subtractable

  private def genVarZero(n: Int): Gen[Seq[AggSpec]] =
    Gen.listOfN(n, funcs).map(_.zipWithIndex.map { case (f, j) =>
      AggSpec(f, "x", s"${f}_x_z$j") })

  private def simpleVar(i: Int, gAttrs: Seq[String]): Gen[GroupingVar] = for {
    f <- funcs
    nT <- Gen.choose(0, 2)
    ts <- Gen.listOfN(nT, genTupleCond)
  } yield GroupingVar(i, AggSpec(f, "x", s"${f}_x_v$i"), gAttrs.map(eq) ++ ts)

  private def havingGen(aggs: Seq[AggSpec]): Gen[Option[HavingExpr]] =
    if (aggs.isEmpty) Gen.const(None)
    else Gen.frequency(2 -> Gen.const(None), 1 -> (for {
      a <- Gen.oneOf(aggs)
      op <- Gen.oneOf("<", "<=", ">", ">=")
      v <- Gen.choose(0, 60)
    } yield Some(HavingLeaf(HavingCond(MfField(a.name), op, Lit(v.toString)))
      : HavingExpr)))

  // ---- per-class query generators (inside each lowering's shape) -----

  /** all-SIMPLE → EmfStreaming.plan */
  private val genSimpleQ: Gen[EmfQuery] = for {
    gAttrs <- Gen.oneOf(Seq("g"), Seq("h"), Seq("g", "h"), Seq("g", "state"))
    nZ <- Gen.choose(0, 1)
    vz <- genVarZero(nZ)
    nV <- Gen.choose(1, 3)
    vars <- Gen.sequence[Seq[GroupingVar], GroupingVar](
      (1 to nV).map(simpleVar(_, gAttrs)))
    nW <- Gen.choose(0, 1)
    wh <- Gen.listOfN(nW, genTupleCond)
    hav <- havingGen(vz ++ vars.map(_.agg))
  } yield EmfQuery(gAttrs ++ (vz ++ vars.map(_.agg)).map(_.name),
    gAttrs, vz, vars, wh, hav)

  /** SIMPLE + WINDOWED with G = E ∪ {ord} → planKeyed (windowed) */
  private val genWindowedQ: Gen[EmfQuery] = for {
    eqAttrs <- Gen.oneOf(Seq("g"), Seq("h"), Seq("g", "h"))
    gAttrs = eqAttrs :+ "ord"
    nV <- Gen.choose(1, 3)
    vars <- Gen.sequence[Seq[GroupingVar], GroupingVar]((1 to nV).map { i =>
      for {
        f <- funcs
        // var 1 always carries an order comparison (planKeyed needs
        // ≥ 1); later vars draw order / whole-partition / SIMPLE shapes
        shape <- if (i == 1) Gen.const(0) else Gen.choose(0, 2)
        op <- Gen.oneOf("<", "<=", ">", ">=")
        nT <- Gen.choose(0, 1)
        ts <- Gen.listOfN(nT, genTupleCond)
      } yield {
        val conds = shape match {
          case 0 => eqAttrs.map(eq) :+ Cond(TupleCol("ord"), op, MfField("ord"))
          case 1 => eqAttrs.map(eq) // whole-partition frame
          case _ => gAttrs.map(eq)  // SIMPLE alongside
        }
        GroupingVar(i, AggSpec(f, "x", s"${f}_x_v$i"), conds ++ ts)
      }
    })
    nZ <- Gen.choose(0, 1)
    vz <- genVarZero(nZ)
    nW <- Gen.choose(0, 1)
    wh <- Gen.listOfN(nW, genTupleCond)
    hav <- havingGen(vz ++ vars.map(_.agg))
  } yield EmfQuery(gAttrs ++ (vz ++ vars.map(_.agg)).map(_.name),
    gAttrs, vz, vars, wh, hav)

  /** varZero/SIMPLE threshold sources + full-pin dependent → planKeyed (dependent) */
  private val genDependentQ: Gen[EmfQuery] = for {
    gAttrs <- Gen.oneOf(Seq("g"), Seq("h"), Seq("g", "h"))
    base <- simpleVar(1, gAttrs)
    depF <- funcs
    op <- Gen.oneOf("<", "<=", ">", ">=", "=", "!=")
    nT <- Gen.choose(0, 1)
    ts <- Gen.listOfN(nT, genTupleCond)
    nW <- Gen.choose(0, 1)
    wh <- Gen.listOfN(nW, genTupleCond)
    dep = GroupingVar(2, AggSpec(depF, "x", s"${depF}_x_v2"),
      gAttrs.map(eq) ++ Seq(Cond(TupleCol("x"), op, MfField(base.agg.name))) ++ ts)
    hav <- havingGen(Seq(base.agg, dep.agg))
  } yield EmfQuery(gAttrs ++ Seq(base.agg.name, dep.agg.name),
    gAttrs, Nil, Seq(base, dep), wh, hav)

  /** WINDOWED threshold source + full-pin dependent comparing against it
    * (the q8 shape) → planKeyed (chained). The dependent variable
    * references the windowed aggregate 3 times in 4 (a threshold that
    * moves with the order frame), else a SIMPLE one drawn alongside. */
  private val genChainedQ: Gen[EmfQuery] = for {
    eqAttrs <- Gen.oneOf(Seq("g"), Seq("h"), Seq("g", "h"))
    gAttrs = eqAttrs :+ "ord"
    wf <- funcs
    wop <- Gen.oneOf("<", "<=", ">", ">=")
    nWT <- Gen.choose(0, 1)
    wts <- Gen.listOfN(nWT, genTupleCond)
    win = GroupingVar(1, AggSpec(wf, "x", s"${wf}_x_v1"),
      eqAttrs.map(eq) ++ Seq(Cond(TupleCol("ord"), wop, MfField("ord"))) ++ wts)
    nS <- Gen.choose(0, 1)
    simples <- Gen.sequence[Seq[GroupingVar], GroupingVar](
      (2 to 1 + nS).map(simpleVar(_, gAttrs)))
    ref <- Gen.frequency(3 -> Gen.const(win.agg),
      1 -> Gen.oneOf(win.agg +: simples.map(_.agg)))
    depF <- funcs
    op <- Gen.oneOf("<", "<=", ">", ">=", "=", "!=")
    nT <- Gen.choose(0, 1)
    ts <- Gen.listOfN(nT, genTupleCond)
    dep = GroupingVar(3, AggSpec(depF, "x", s"${depF}_x_v3"),
      gAttrs.map(eq) ++ Seq(Cond(TupleCol("x"), op, MfField(ref.name))) ++ ts)
    nW <- Gen.choose(0, 1)
    wh <- Gen.listOfN(nW, genTupleCond)
    vars = (win +: simples) :+ dep
    hav <- havingGen(vars.map(_.agg))
  } yield EmfQuery(gAttrs ++ vars.map(_.agg.name), gAttrs, Nil, vars, wh, hav)

  /** complement shape (G = E ∪ {anti}) → planAuto's cross-group class
    * (planKeyed); 1-in-4 drops the equality pin entirely — the KEYLESS
    * global complement (E = ∅, G = {anti}), which planAuto lowers to
    * per-anti partials combined by snapshot */
  private val genCrossQ: Gen[EmfQuery] = for {
    pair <- Gen.oneOf(("g", "h"), ("h", "g"), ("g", "state"), ("state", "g"))
    (eqA, anti) = pair
    keyless <- Gen.frequency(3 -> false, 1 -> true)
    gAttrs = if (keyless) Seq(anti) else Seq(anti, eqA)
    nSimple <- Gen.choose(0, 1)
    simples <- Gen.sequence[Seq[GroupingVar], GroupingVar](
      (1 to nSimple).map(simpleVar(_, gAttrs)))
    nComp <- Gen.choose(1, 2)
    comps <- Gen.sequence[Seq[GroupingVar], GroupingVar](
      (1 to nComp).map { j =>
        for {
          // ALL five aggregates since round 13: min/max complements
          // stream via the all-but-self combine (no inverse needed) —
          // the batch side routes them through the dependent-pass join,
          // so agreement here is two independent formulations meeting
          f <- funcs
          neq <- Gen.oneOf("!=", "<>")
          nT <- Gen.choose(0, 1)
          ts <- Gen.listOfN(nT, genTupleCond)
        } yield GroupingVar(10 + j, AggSpec(f, "x", s"${f}_x_c$j"),
          (if (keyless) Nil else Seq(eq(eqA))) ++
            Seq(Cond(TupleCol(anti), neq, MfField(anti))) ++ ts)
      })
    nZ <- Gen.choose(0, 1)
    vz <- genVarZero(nZ)
    nW <- Gen.choose(0, 1)
    wh <- Gen.listOfN(nW, genTupleCond)
    vars = simples ++ comps
    hav <- havingGen(vz ++ vars.map(_.agg))
  } yield EmfQuery(gAttrs ++ (vz ++ vars.map(_.agg)).map(_.name),
    gAttrs, vz, vars, wh, hav)

  // ---- the harness ---------------------------------------------------

  private val factCols = Set("g", "h", "ord", "state", "x")
  private var qId = 0

  /** Depth multiplier, same convention as EmfPropertySpec. */
  private val fuzzN = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(1)

  /** The interpret gate's conf value forcing each execution form. */
  private val forms = Seq("compiled" -> "0", "interpreted" -> Long.MaxValue.toString)

  private def check[T <: Product : org.apache.spark.sql.Encoder](q: EmfQuery,
      planFn: (EmfQuery, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame,
      rows: Seq[T], complete: Boolean, form: String): Unit = {
    EmfParser.validate(q, factCols)
    qId += 1
    val name = s"emf_sprop_$qId"
    val stream = MemoryStream[T](spark)
    val lowered = planFn(q, stream.toDF())
    assert(EmfPlanner.isInterpreted(lowered) == (form == "interpreted"), form)
    val sq = lowered
      .writeStream.format("memory").queryName(name)
      .outputMode(if (complete) OutputMode.Complete else OutputMode.Update)
      .start()
    try {
      val cut = rows.length / 2
      Seq(rows.take(cut), rows.drop(cut)).zipWithIndex
        .foldLeft(Seq.empty[T]) { case (seen, (batch, bi)) =>
          stream.addData(batch)
          sq.processAllAvailable()
          val all = seen ++ batch
          val cols = q.select
          def ordered(df: org.apache.spark.sql.DataFrame) = df
            .select(cols.map(org.apache.spark.sql.functions.col): _*)
            .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
            .collect().toSeq
          // complete mode: the memory table IS the current result;
          // update mode: per-group latest emission via snapshot(__ver).
          // The table lives in the session that started the query.
          val sink = sq.sparkSession.table(name)
          val snap =
            if (complete) ordered(sink)
            else ordered(EmfStreaming.snapshot(sink, q))
          val batchR = ordered(EmfPlanner.plan(q, spark.createDataset(all).toDF()))
          assert(snap == batchR,
            s"$form batch $bi diverged\nquery=$q\nsnap=$snap\nbatch=$batchR")
          all
        }
    } finally sq.stop()
    EmfPlanner.unpersistAll()
  }

  private def fuzzClass[T <: Product : org.apache.spark.sql.Encoder](
      label: String, gen: Gen[EmfQuery],
      planFn: (EmfQuery, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame,
      n: Int, seed0: Long, complete: Boolean = false,
      rowG: Gen[T]): Unit =
    (0 until n).foreach { i =>
      val rows = sample(Gen.listOfN(36, rowG), seed0 + 31 * i)
      val q = sample(gen, seed0 + 1000 + i)
      forms.foreach { case (form, maxBytes) =>
        spark.conf.set("spark.graft.emf.interpret.maxBytes", maxBytes)
        try check(q, planFn, rows, complete, form)
        catch {
          case e: AssertionError => throw e
          case e: Throwable =>
            throw new AssertionError(s"$label query $i ($form) failed\nquery=$q", e)
        } finally spark.conf.unset("spark.graft.emf.interpret.maxBytes")
      }
    }

  /** Null-bearing row stream: nulls in the grouping/filter columns and
    * the aggregate column (ord stays non-null — the windowed boundary).
    * Exercises the streaming null machinery: typed state keys over null
    * key fields, guarded projections folding null aggregates, and the
    * batch planner's null-safe lowerings on the comparison side. */
  private val nullRowGen: Gen[SNPropRow] = for {
    g <- Gen.frequency(8 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.const(null: String))
    h <- Gen.frequency(9 -> Gen.oneOf("p", "q"), 1 -> Gen.const(null: String))
    ord <- Gen.choose(1, 4)
    state <- Gen.frequency(8 -> Gen.oneOf("NY", "CT", "NJ"), 2 -> Gen.const(null: String))
    x <- Gen.frequency(8 -> Gen.choose(0, 50).map(Option(_)), 2 -> Gen.const(None: Option[Int]))
  } yield SNPropRow(g, h, ord, state, x)

  test("fuzz: all-SIMPLE streaming == batch at each micro-batch (8 queries)") {
    fuzzClass("simple", genSimpleQ, EmfStreaming.plan, 8 * fuzzN, 11000L,
      complete = true, rowG = rowGen)
  }

  test("fuzz: WINDOWED streaming == batch at each micro-batch (8 queries)") {
    fuzzClass("windowed", genWindowedQ, EmfStreaming.planKeyed, 8 * fuzzN, 12000L,
      rowG = rowGen)
  }

  test("fuzz: DEPENDENT streaming == batch at each micro-batch (8 queries)") {
    fuzzClass("dependent", genDependentQ, EmfStreaming.planKeyed, 8 * fuzzN, 13000L,
      rowG = rowGen)
  }

  test("fuzz: CHAINED streaming == batch at each micro-batch (8 queries)") {
    fuzzClass("chained", genChainedQ, EmfStreaming.planKeyed, 8 * fuzzN, 15000L,
      rowG = rowGen)
  }

  test("fuzz: CROSS-GROUP streaming == batch at each micro-batch (8 queries)") {
    fuzzClass("crossgroup", genCrossQ, EmfStreaming.planAuto(_, _).df, 8 * fuzzN, 14000L,
      rowG = rowGen)
  }

  /** NON-complement cross-group membership (cross-ATTRIBUTE predicate:
    * tuple attr vs a DIFFERENT MF grouping attr) — the residual
    * microBatch class after round-14 closed the keyless complement
    * (PLANS.md round 14 carries the bounded-state impossibility
    * argument for this class). */
  private val genFallbackQ: Gen[EmfQuery] = for {
    gAttrs <- Gen.oneOf(Seq("g"), Seq("g", "h"))
    base <- simpleVar(1, gAttrs)
    f <- funcs
    tattr <- Gen.oneOf(if (gAttrs.contains("h")) Seq("state") else Seq("h", "state"))
    mattr <- Gen.oneOf(gAttrs)
    op <- Gen.oneOf("=", "!=")
    nT <- Gen.choose(0, 1)
    ts <- Gen.listOfN(nT, genTupleCond)
    cross = GroupingVar(2, AggSpec(f, "x", s"${f}_x_f"),
      Seq(Cond(TupleCol(tattr), op, MfField(mattr))) ++ ts)
    hav <- havingGen(Seq(base.agg, cross.agg))
  } yield EmfQuery(gAttrs ++ Seq(base.agg.name, cross.agg.name),
    gAttrs, Nil, Seq(base, cross), Nil, hav)

  test("fuzz: residual non-complement shapes reject to microBatch, which matches batch (6 queries)") {
    import org.apache.spark.sql.functions.col
    (0 until 6 * fuzzN).foreach { i =>
      val rows = sample(Gen.listOfN(30, rowGen), 25000L + 31 * i)
      val q = sample(genFallbackQ, 26000L + i)
      EmfParser.validate(q, factCols)
      val stream = MemoryStream[SPropRow](spark)
      // both halves of the fallback contract: every incremental route
      // rejects naming microBatch…
      val e = intercept[IllegalArgumentException](
        EmfStreaming.planAuto(q, stream.toDF()))
      assert(e.getMessage.contains("microBatch"),
        s"fallback query $i rejected without naming microBatch: ${e.getMessage}")
      // …and the fallback itself reproduces the batch planner
      var last: Seq[org.apache.spark.sql.Row] = Nil
      val sq = EmfStreaming.microBatch(q, stream.toDF()) { (df, _) =>
        val out = df.select(q.select.map(col): _*)
          .orderBy(q.select.map(col): _*).collect().toSeq
        if (out.nonEmpty) last = out
      }.outputMode(OutputMode.Append).start()
      try { stream.addData(rows); sq.processAllAvailable() } finally sq.stop()
      val batchR = EmfPlanner.plan(q, spark.createDataset(rows).toDF())
        .select(q.select.map(col): _*)
        .orderBy(q.select.map(col): _*).collect().toSeq
      assert(last == batchR, s"fallback query $i diverged\nquery=$q")
      EmfPlanner.unpersistAll()
    }
  }

  test("fuzz with nulls: each streaming class == batch on null-bearing streams (16 queries)") {
    fuzzClass("simple-null", genSimpleQ, EmfStreaming.plan, 4 * fuzzN, 21000L,
      complete = true, rowG = nullRowGen)
    fuzzClass("windowed-null", genWindowedQ, EmfStreaming.planKeyed, 4 * fuzzN,
      22000L, rowG = nullRowGen)
    fuzzClass("dependent-null", genDependentQ, EmfStreaming.planKeyed, 4 * fuzzN,
      23000L, rowG = nullRowGen)
    fuzzClass("crossgroup-null", genCrossQ, EmfStreaming.planAuto(_, _).df, 4 * fuzzN,
      24000L, rowG = nullRowGen)
  }

  test("fuzz with nulls: CHAINED streaming == batch on null-bearing streams (4 queries)") {
    fuzzClass("chained-null", genChainedQ, EmfStreaming.planKeyed, 4 * fuzzN,
      27000L, rowG = nullRowGen)
  }
}
