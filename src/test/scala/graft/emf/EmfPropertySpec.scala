package graft.emf

import graft.SparkSpec
import org.scalacheck.{Gen, rng}

case class PropRow(g: String, h: String, ord: Int, state: String, x: Int)
case class NPropRow(g: String, h: String, ord: Int, state: String, x: Option[Int])

/** Property tests (SURVEY.md §5.4): the planner's specialized lowerings
  * must agree with the general join formulation — and with plain SQL — on
  * random small tables. Generators driven directly (deterministic seeds);
  * scalatest+scalacheck only, no scalatestplus bridge in this build. */
class EmfPropertySpec extends SparkSpec {
  import spark.implicits._

  private val cols = Set("g", "h", "ord", "state", "x")

  /** Fuzz-depth multiplier: GRAFT_FUZZ_N=k runs k× the default query
    * counts (deep one-off shakeouts without inflating the CI suite). */
  private val fuzzN = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(1)

  private val rowGen: Gen[PropRow] = for {
    g <- Gen.oneOf("a", "b", "c")
    h <- Gen.oneOf("p", "q")
    ord <- Gen.choose(1, 5)
    state <- Gen.oneOf("NY", "CT", "NJ")
    x <- Gen.choose(0, 50)
  } yield PropRow(g, h, ord, state, x)

  private def sampleTables(n: Int): Seq[List[PropRow]] =
    (1 to n).map { i =>
      Gen.listOfN(40, rowGen)
        .apply(Gen.Parameters.default, rng.Seed(42L + i)).get
    }

  test("SIMPLE lowering == conditional-agg SQL on random tables") {
    sampleTables(8).foreach { rows =>
      val df = rows.toDF()
      df.createOrReplaceTempView("prop_t")
      val q = EmfParser.parseOne(
        """g,sum_x_NY,count_x_CT
          |2
          |g
          |sum_x_NY,count_x_CT
          |{MF.g.sum_x_NY}[=]{g}:{state}[=]{NY},{MF.g.count_x_CT}[=]{g}:{state}[=]{CT}""".stripMargin, cols)
      val got = EmfPlanner.plan(q, df).orderBy("g").collect().toSeq
      val want = spark.sql(
        """SELECT g, sum(CASE WHEN state='NY' THEN x END) AS sum_x_NY,
          |       count(CASE WHEN state='CT' THEN x END) AS count_x_CT
          |FROM prop_t GROUP BY g ORDER BY g""".stripMargin).collect().toSeq
      assert(got == want, s"rows=$rows")
    }
  }

  test("WINDOWED lowering == join formulation on random tables") {
    sampleTables(8).foreach { rows =>
      val df = rows.toDF()
      df.createOrReplaceTempView("prop_w")
      val qWin = EmfParser.parseOne(
        """g,ord,avg_x_before
          |1
          |g,ord
          |avg_x_before
          |{MF.g.avg_x_before}[=]{g}:{MF.ord.avg_x_before}[<]{ord}""".stripMargin, cols)
      val got = EmfPlanner.plan(qWin, df).orderBy("g", "ord").collect().toSeq
      val want = spark.sql(
        """SELECT m.g, m.ord, b.avg_x_before
          |FROM (SELECT DISTINCT g, ord FROM prop_w) m
          |LEFT JOIN (SELECT m2.g, m2.ord, avg(t.x) AS avg_x_before
          |           FROM (SELECT DISTINCT g, ord FROM prop_w) m2
          |           JOIN prop_w t ON t.g = m2.g AND t.ord < m2.ord
          |           GROUP BY 1, 2) b
          |ON m.g = b.g AND m.ord = b.ord
          |ORDER BY g, ord""".stripMargin).collect().toSeq
      assert(got == want, s"rows=$rows")
    }
  }

  test("DEPENDENT lowering (!= membership) == join SQL on random tables") {
    sampleTables(8).foreach { rows =>
      val df = rows.toDF()
      df.createOrReplaceTempView("prop_d")
      val q = EmfParser.parseOne(
        """g,sum_x_oth
          |1
          |g
          |sum_x_oth
          |{MF.g.sum_x_oth}[!=]{g}""".stripMargin, cols)
      val got = EmfPlanner.plan(q, df).orderBy("g").collect().toSeq
      val want = spark.sql(
        """SELECT m.g, o.sum_x_oth
          |FROM (SELECT DISTINCT g FROM prop_d) m
          |LEFT JOIN (SELECT m2.g, sum(t.x) AS sum_x_oth
          |           FROM (SELECT DISTINCT g FROM prop_d) m2
          |           JOIN prop_d t ON t.g <> m2.g GROUP BY 1) o
          |ON m.g = o.g ORDER BY m.g""".stripMargin).collect().toSeq
      assert(got == want, s"rows=$rows")
    }
  }

  // ---- round-12 planner fuzz: random EmfQuery ASTs vs the brute-force
  // paper-semantics interpreter ([[BruteEmf]]) ---------------------------
  //
  // The generator spans the full parser-constructible space: 1–4 grouping
  // variables drawn from SIMPLE / WINDOWED / subset-equality / complement
  // (same-attr !=) / EMF-dependent (tuple-vs-earlier-aggregate) /
  // MF-vs-MF / cross-attribute membership, each with 0–2 tuple
  // predicates, plus variable-0 aggregates, a global WHERE, and a random
  // HAVING tree — exactly the classification boundaries EmfPlanner picks
  // lowerings at. Dependencies point backwards (declaration order = a
  // valid topo order), matching the reference's sequential-scan model.

  private val stringDoms = Map(
    "g" -> Seq("a", "b", "c"), "h" -> Seq("p", "q"),
    "state" -> Seq("NY", "CT", "NJ"))

  private val genTupleCond: Gen[Cond] = Gen.oneOf(
    for { s <- Gen.oneOf(stringDoms("state")); op <- Gen.oneOf("=", "!=") }
      yield Cond(TupleCol("state"), op, Lit(s)),
    for { v <- Gen.choose(5, 45); op <- Gen.oneOf("<", "<=", ">", ">=") }
      yield Cond(TupleCol("x"), op, Lit(v.toString)),
    for { v <- Gen.choose(1, 5); op <- Gen.oneOf("<", "<=", ">", ">=", "=", "!=") }
      yield Cond(TupleCol("ord"), op, Lit(v.toString)),
    for { s <- Gen.oneOf(stringDoms("g")); op <- Gen.oneOf("=", "!=") }
      yield Cond(TupleCol("g"), op, Lit(s)))

  private val anyOps = Gen.oneOf("<", "<=", ">", ">=", "=", "!=")

  /** Membership-condition shapes for variable `i`, given grouping attrs
    * and the aggregates already declared before it. */
  private def genVar(i: Int, gAttrs: Seq[String], earlier: Seq[AggSpec]): Gen[GroupingVar] = {
    def eq(a: String) = Cond(TupleCol(a), "=", MfField(a))
    val eqAll = gAttrs.map(eq)
    def eqSubset(of: Seq[String]): Gen[Seq[Cond]] =
      Gen.someOf(of).map(_.toSeq.map(eq))

    val simple: Gen[Seq[Cond]] = Gen.const(eqAll)
    // equality on a subset + one order comparison on the integral attr
    val windowed: Gen[Seq[Cond]] =
      if (!gAttrs.contains("ord")) simple
      else for {
        eqs <- eqSubset(gAttrs.filterNot(_ == "ord"))
        op  <- Gen.oneOf("<", "<=", ">", ">=")
      } yield eqs :+ Cond(TupleCol("ord"), op, MfField("ord"))
    // equality on a (possibly empty) strict subset of G
    val subsetEq: Gen[Seq[Cond]] = eqSubset(gAttrs.dropRight(1))
    // complement shape: eq subset + one same-attr <> (the anti attr may
    // collide with an eq attr — contradiction, must yield NULL/0)
    val anti: Gen[Seq[Cond]] = for {
      eqs <- eqSubset(gAttrs)
      a   <- Gen.oneOf(gAttrs)
      neq <- Gen.oneOf("!=", "<>")
    } yield eqs :+ Cond(TupleCol(a), neq, MfField(a))
    // EMF dependency: tuple column vs an earlier variable's aggregate
    val dep: Gen[Seq[Cond]] =
      if (earlier.isEmpty) windowed
      else for {
        eqs <- Gen.oneOf(Gen.const(eqAll), eqSubset(gAttrs))
        t   <- Gen.oneOf(earlier)
        c   <- Gen.oneOf("x", "ord")
        op  <- anyOps
      } yield eqs :+ Cond(TupleCol(c), op, MfField(t.name))
    // MF-vs-MF: group-side-only predicate (all-or-nothing membership)
    val mfVsMf: Gen[Seq[Cond]] = {
      val numericMf = earlier.map(_.name) ++ gAttrs.filter(_ == "ord")
      if (numericMf.size < 2) simple
      else for {
        a1 <- Gen.oneOf(numericMf); a2 <- Gen.oneOf(numericMf); op <- anyOps
      } yield eqAll :+ Cond(MfField(a1), op, MfField(a2))
    }
    // MF-vs-literal: group-side-only predicate in NORMALIZED parser form
    // (Lit on the lhs — exactly what `{MF.f.agg}[op]{lit}` parses to).
    // Exercises the pre-join MF-filter route for fact-side-free
    // conditions beyond MF-vs-MF (round-13 advice: this class previously
    // rode Dataset.join's condition, the mis-resolving one-sided shape).
    val mfVsLit: Gen[Seq[Cond]] = {
      def bound(a: AggSpec): Int = a.func match {
        case "count" => 20
        case "sum"   => if (a.column == "x") 250 else 60
        case _       => if (a.column == "x") 45 else 5
      }
      val numTargets: Seq[(String, Int)] =
        earlier.map(a => a.name -> bound(a)) ++
          (if (gAttrs.contains("ord")) Seq("ord" -> 5) else Nil)
      val strTargets = gAttrs.filter(stringDoms.contains)
      val condGens: Seq[Gen[Cond]] =
        (if (numTargets.isEmpty) Nil
         else Seq(for {
           t  <- Gen.oneOf(numTargets)
           op <- anyOps
           v  <- Gen.choose(0, t._2)
         } yield Cond(Lit(v.toString), op, MfField(t._1)))) ++
        (if (strTargets.isEmpty) Nil
         else Seq(for {
           a  <- Gen.oneOf(strTargets)
           op <- Gen.oneOf("=", "!=")
           s  <- Gen.oneOf(stringDoms(a))
         } yield Cond(Lit(s), op, MfField(a))))
      if (condGens.isEmpty) simple
      else for {
        eqs <- Gen.oneOf(Gen.const(eqAll), eqSubset(gAttrs))
        i   <- Gen.choose(0, condGens.size - 1)
        c   <- condGens(i)
      } yield eqs :+ c
    }
    // cross-attribute: tuple.c ? MF.a with c ≠ a (type-compatible pairs)
    val crossAttr: Gen[Seq[Cond]] = {
      val strPairs = gAttrs.filter(stringDoms.contains)
        .flatMap(a => stringDoms.keys.filterNot(_ == a).map(c => (c, a)))
      val pairs = strPairs ++ (if (gAttrs.contains("ord")) Seq(("x", "ord")) else Nil)
      if (pairs.isEmpty) simple
      else for { p <- Gen.oneOf(pairs); op <- anyOps }
        yield Seq(Cond(TupleCol(p._1), op, MfField(p._2)))
    }

    for {
      membership <- Gen.frequency(2 -> simple, 3 -> windowed, 2 -> subsetEq,
        3 -> anti, 3 -> dep, 2 -> mfVsMf, 1 -> crossAttr, 2 -> mfVsLit)
      nTup <- Gen.choose(0, 2)
      tups <- Gen.listOfN(nTup, genTupleCond)
      func <- Gen.oneOf("sum", "avg", "min", "max", "count")
      c    <- Gen.oneOf("x", "ord")
    } yield GroupingVar(i, AggSpec(func, c, s"${func}_${c}_v$i"), membership ++ tups)
  }

  private def genVarsSeq(n: Int, g: Seq[String], varZero: Seq[AggSpec]): Gen[Seq[GroupingVar]] =
    (1 to n).foldLeft(Gen.const(Seq.empty[GroupingVar])) { (acc, i) =>
      acc.flatMap(vs => genVar(i, g, varZero ++ vs.map(_.agg)).map(vs :+ _))
    }

  private def genHaving(aggs: Seq[AggSpec]): Gen[Option[HavingExpr]] = {
    def bound(a: AggSpec): Int = a.func match {
      case "count" => 20
      case "sum"   => if (a.column == "x") 250 else 60
      case _       => if (a.column == "x") 45 else 5
    }
    val leaf: Gen[HavingExpr] = for {
      a  <- Gen.oneOf(aggs)
      op <- anyOps
      v  <- Gen.choose(0, bound(a))
    } yield HavingLeaf(HavingCond(MfField(a.name), op, Lit(v.toString)))
    if (aggs.isEmpty) Gen.const(None)
    else Gen.frequency(2 -> Gen.const(None), 3 -> (for {
      n      <- Gen.choose(1, 3)
      leaves <- Gen.listOfN(n, leaf)
      ops    <- Gen.listOfN(math.max(0, n - 1), Gen.oneOf(true, false))
    } yield Some(leaves.tail.zip(ops).foldLeft(leaves.head) {
      case (acc, (l, isAnd)) =>
        if (isAnd) HavingAnd(acc, l) else HavingOr(acc, l)
    })))
  }

  private val genQuery: Gen[EmfQuery] = for {
    gAttrs <- Gen.oneOf(Seq("g"), Seq("h"), Seq("state"), Seq("g", "h"),
      Seq("g", "ord"), Seq("ord"), Seq("h", "ord"), Seq("g", "h", "ord"))
    nZero <- Gen.choose(0, 2)
    zs <- Gen.listOfN(nZero, for {
      f <- Gen.oneOf("sum", "avg", "min", "max", "count")
      c <- Gen.oneOf("x", "ord")
    } yield (f, c))
    varZero = zs.zipWithIndex.map { case ((f, c), j) => AggSpec(f, c, s"${f}_${c}_z$j") }
    nVars <- Gen.choose(1, 4)
    vars  <- genVarsSeq(nVars, gAttrs, varZero)
    nWhere <- Gen.choose(0, 2)
    where  <- Gen.listOfN(nWhere, genTupleCond)
    allAggs = varZero ++ vars.map(_.agg)
    hav <- genHaving(allAggs)
  } yield EmfQuery(gAttrs ++ allAggs.map(_.name), gAttrs, varZero, vars, where, hav)

  private def sampleQuery(seed: Long): EmfQuery = {
    var s = seed
    var q: Option[EmfQuery] = None
    while (q.isEmpty) { // Gen retry on the rare filtered-out sample
      q = genQuery.apply(Gen.Parameters.default, rng.Seed(s))
      s += 7919
    }
    q.get
  }

  private def eqVal(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null)           => true
    case (x: Number, y: Number) => math.abs(x.doubleValue - y.doubleValue) < 1e-9
    case _                      => a == b
  }

  private def assertAgree(q: EmfQuery, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit = {
    def key(r: Seq[Any]) = r.take(q.groupAttrs.size).map(String.valueOf).mkString("|")
    val gs = got.sortBy(key)
    val ws = want.sortBy(key)
    assert(gs.size == ws.size,
      s"row count ${gs.size} vs ${ws.size}\nquery=$q\nplanner=$gs\nbrute=$ws")
    gs.zip(ws).foreach { case (g, w) =>
      g.indices.foreach { i =>
        assert(eqVal(g(i), w(i)),
          s"col '${q.select(i)}': planner=${g(i)} brute=${w(i)}\nquery=$q\nrow=$g vs $w")
      }
    }
  }

  /** `plan(q, df)`'s rows in both execution forms: the interpreted form
    * the size gate picks for these fixtures, then the compiled form
    * forced through the test hook. The two must hold identical rows (in
    * any order: hash aggregation emits groups in a form-specific order).
    * Returns the interpreted form's rows. */
  private def rowsInBothForms(q: EmfQuery,
      df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    def rows(p: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      p.collect().toSeq.map(r => (0 until r.length).map(r.get))
    val small = EmfPlanner.plan(q, df)
    assert(EmfPlanner.isInterpreted(small), s"fixture not interpreted\nquery=$q")
    val interpreted = rows(small)
    val old = EmfPlanner.InterpretMaxBytes
    EmfPlanner.InterpretMaxBytes = 0L
    val compiled =
      try {
        val big = EmfPlanner.plan(q, df)
        assert(!EmfPlanner.isInterpreted(big))
        rows(big)
      } finally EmfPlanner.InterpretMaxBytes = old
    def sorted(rs: Seq[Seq[Any]]) = rs.sortBy(_.map(String.valueOf).mkString("\u0001"))
    assert(sorted(interpreted) == sorted(compiled),
      s"execution forms differ\nquery=$q\ninterpreted=$interpreted\ncompiled=$compiled")
    interpreted
  }

  test("fuzz: 240 random EMF queries match brute-force paper semantics") {
    var checked = 0
    sampleTables(4 * fuzzN).zipWithIndex.foreach { case (rows, ti) =>
      val df = rows.toDF().persist()
      df.count()
      val brute: Seq[BruteEmf.TRow] = rows.map(r =>
        Map("g" -> r.g, "h" -> r.h, "ord" -> r.ord, "state" -> r.state, "x" -> r.x))
      (0 until 60).foreach { qi =>
        val q = sampleQuery(100000L * (ti + 1) + qi)
        EmfParser.validate(q, cols) // generator must stay inside the grammar
        val got =
          try rowsInBothForms(q, df)
          catch {
            case e: Throwable =>
              throw new AssertionError(s"planner failed on seed ${100000L * (ti + 1) + qi}\nquery=$q", e)
          }
        assertAgree(q, got, BruteEmf.run(q, brute))
        checked += 1
      }
      df.unpersist()
      EmfPlanner.unpersistAll()
    }
    assert(checked == 240 * fuzzN)
  }

  // ---- r18 skew-fallback fuzz: PATHOLOGICAL key distribution (one g/h
  // value owns ~90% of rows — the hot-key shape the dependent pass's
  // salt exists for) with the salt FORCED (salt.maxPerKey=0) and a
  // bucket count chosen to exercise real splitting on 60-row tables.
  // Every query class must agree with brute force under the salted
  // groups×tuples join, and spot-agree with the unsalted plan form.

  private val hotRowGen: Gen[PropRow] = for {
    g <- Gen.frequency(9 -> Gen.const("a"), 1 -> Gen.oneOf("b", "c"))
    h <- Gen.frequency(9 -> Gen.const("p"), 1 -> Gen.const("q"))
    ord <- Gen.choose(1, 5)
    state <- Gen.oneOf("NY", "CT", "NJ")
    x <- Gen.choose(0, 50)
  } yield PropRow(g, h, ord, state, x)

  test("fuzz under forced salt: hot-key tables match brute force and the plain form") {
    spark.conf.set("spark.graft.emf.salt.maxPerKey", "0")
    spark.conf.set("spark.graft.emf.salt.buckets", "7")
    try {
      var checked = 0
      (1 to 2 * fuzzN).foreach { ti =>
        val rows = {
          var s = 31000L + ti
          var r: Option[List[PropRow]] = None
          while (r.isEmpty) {
            r = Gen.listOfN(60, hotRowGen).apply(Gen.Parameters.default, rng.Seed(s))
            s += 7919
          }
          r.get
        }
        val df = rows.toDF().persist()
        df.count()
        val brute: Seq[BruteEmf.TRow] = rows.map(r =>
          Map("g" -> r.g, "h" -> r.h, "ord" -> r.ord, "state" -> r.state, "x" -> r.x))
        (0 until 40).foreach { qi =>
          val q = sampleQuery(7700000L * ti + qi)
          EmfParser.validate(q, cols)
          val got =
            try EmfPlanner.plan(q, df).collect().toSeq
              .map(r => (0 until r.length).map(r.get))
            catch {
              case e: Throwable =>
                throw new AssertionError(s"salted planner failed on seed ${7700000L * ti + qi}\nquery=$q", e)
            }
          assertAgree(q, got, BruteEmf.run(q, brute))
          // the two plan forms are the same function of the data
          if (qi % 8 == 0) {
            spark.conf.set("spark.graft.emf.salt.maxPerKey", Long.MaxValue.toString)
            val plain = EmfPlanner.plan(q, df).collect().toSeq
              .map(r => (0 until r.length).map(r.get))
            spark.conf.set("spark.graft.emf.salt.maxPerKey", "0")
            assertAgree(q, got, plain)
          }
          checked += 1
        }
        df.unpersist()
        EmfPlanner.unpersistAll()
      }
      assert(checked == 80 * fuzzN)
    } finally {
      spark.conf.unset("spark.graft.emf.salt.maxPerKey")
      spark.conf.unset("spark.graft.emf.salt.buckets")
    }
  }

  // ---- null-contract fuzz: same generator, tables with nulls in the
  // grouping/filter/aggregate columns (ord stays non-null — the
  // documented WINDOWED boundary). Checks that every lowering class
  // implements the partition-selector null rule identically: scan-0
  // GROUP BY, window partitions, the complement pass's null-safe
  // subtraction joins, the dependent pass's <=> membership and
  // null-safe join-back all must agree with the interpreter.

  private val nullRowGen: Gen[NPropRow] = for {
    g <- Gen.frequency(8 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.const(null: String))
    h <- Gen.frequency(9 -> Gen.oneOf("p", "q"), 1 -> Gen.const(null: String))
    ord <- Gen.choose(1, 5)
    state <- Gen.frequency(8 -> Gen.oneOf("NY", "CT", "NJ"), 2 -> Gen.const(null: String))
    x <- Gen.frequency(8 -> Gen.choose(0, 50).map(Option(_)), 2 -> Gen.const(None: Option[Int]))
  } yield NPropRow(g, h, ord, state, x)

  test("fuzz with nulls: 120 random EMF queries match the partition-selector null contract") {
    var checked = 0
    (1 to 2 * fuzzN).foreach { ti =>
      val rows = {
        var s = 5000L + ti
        var r: Option[List[NPropRow]] = None
        while (r.isEmpty) {
          r = Gen.listOfN(40, nullRowGen).apply(Gen.Parameters.default, rng.Seed(s))
          s += 7919
        }
        r.get
      }
      val df = rows.toDF().persist()
      df.count()
      val brute: Seq[BruteEmf.TRow] = rows.map(r =>
        Map("g" -> r.g, "h" -> r.h, "ord" -> r.ord, "state" -> r.state,
          "x" -> r.x.map(Int.box).orNull))
      (0 until 60).foreach { qi =>
        val q = sampleQuery(900000L * ti + qi)
        EmfParser.validate(q, cols)
        val got =
          try EmfPlanner.plan(q, df).collect().toSeq
            .map(r => (0 until r.length).map(r.get))
          catch {
            case e: Throwable =>
              throw new AssertionError(s"planner failed on null-fuzz seed ${900000L * ti + qi}\nquery=$q", e)
          }
        assertAgree(q, got, BruteEmf.run(q, brute))
        checked += 1
      }
      df.unpersist()
      EmfPlanner.unpersistAll()
    }
    assert(checked == 120 * fuzzN)
  }

  // ---- frontend-equivalence fuzz: render a random EmfQuery into the
  // papers' SUCH-THAT SQL dialect, parse it with MfSqlParser, and
  // require the EXACT same AST back — the two frontends must feed the
  // planner identical queries. The renderable subset excludes MF-vs-MF
  // conditions (the dialect's lhs is always a variable column) and
  // vars with no membership condition (the parser's own-group
  // auto-rewrite would rewrite them, by design).

  private def renderable(q: EmfQuery): Boolean = {
    // flat AND/OR text with SQL precedence can't spell Or-under-And
    def havingOk(h: HavingExpr): Boolean = h match {
      case HavingLeaf(_) => true
      case HavingAnd(l, r) => havingOk(l) && havingOk(r) &&
        !l.isInstanceOf[HavingOr] && !r.isInstanceOf[HavingOr]
      case HavingOr(l, r) => havingOk(l) && havingOk(r)
    }
    q.vars.forall { v =>
      v.mfConds.nonEmpty &&
        // the dialect's lhs is always a variable (tuple-side) column, so
        // MF-vs-MF (MfField lhs) and MF-vs-literal (Lit lhs) don't render
        v.conds.forall(c => c.lhs.isInstanceOf[TupleCol])
    } && q.having.forall(havingOk)
  }

  private def renderMfSql(q: EmfQuery): String = {
    def lit(raw: String): String =
      if (raw.matches("-?\\d+(\\.\\d+)?")) raw else s"'$raw'"
    def rhs(o: Operand): String = o match {
      case MfField(n) => n
      case Lit(raw)   => lit(raw)
      case TupleCol(n) =>
        throw new IllegalArgumentException(s"tuple rhs $n not renderable")
    }
    val varName = q.vars.map(v => v.agg.name -> s"V${v.index}").toMap
    val selAggs =
      q.varZero.map(a => s"${a.func}(${a.column}) AS ${a.name}") ++
        q.vars.map(v =>
          s"${v.agg.func}(${varName(v.agg.name)}.${v.agg.column}) AS ${v.agg.name}")
    val such = q.vars.map { v =>
      v.conds.map { case Cond(TupleCol(c), op, r) =>
        s"${varName(v.agg.name)}.$c $op ${rhs(r)}"
      }.mkString(" AND ")
    }
    def havingStr(h: HavingExpr): String = h match {
      case HavingAnd(l, r) => s"${havingStr(l)} AND ${havingStr(r)}"
      case HavingOr(l, r)  => s"${havingStr(l)} OR ${havingStr(r)}"
      case HavingLeaf(HavingCond(a, op, b)) =>
        def side(o: Operand) = o match {
          case MfField(n) => n
          case Lit(raw)   => lit(raw)
          case TupleCol(n) => n
        }
        s"${side(a)} $op ${side(b)}"
    }
    val sb = new StringBuilder
    sb ++= s"SELECT ${(q.groupAttrs ++ selAggs).mkString(", ")}\nFROM t\n"
    if (q.where.nonEmpty)
      sb ++= "WHERE " + q.where.map {
        case Cond(TupleCol(c), op, Lit(raw)) => s"$c $op ${lit(raw)}"
        case other => throw new IllegalArgumentException(s"bad WHERE $other")
      }.mkString(" AND ") + "\n"
    sb ++= s"GROUP BY ${q.groupAttrs.mkString(", ")} ; " +
      s"${q.vars.map(v => varName(v.agg.name)).mkString(", ")}\n"
    sb ++= s"SUCH THAT ${such.mkString(",\n          ")}"
    q.having.foreach(h => sb ++= s"\nHAVING ${havingStr(h)}")
    sb.toString
  }

  test("fuzz: MF-SQL frontend round-trips 150 random queries to identical ASTs") {
    var checked = 0
    var seed = 42000L
    while (checked < 150 * fuzzN) {
      val q = sampleQuery(seed)
      seed += 1
      if (renderable(q)) {
        val sql = renderMfSql(q)
        val q2 =
          try MfSqlParser.parse(sql, cols)
          catch {
            case e: Throwable =>
              throw new AssertionError(s"parse failed\nsql=$sql\nquery=$q", e)
          }
        assert(q2 == q, s"AST round-trip diverged\nsql=$sql\nwant=$q\ngot =$q2")
        checked += 1
      }
    }
  }

  // ---- positional-format round-trip: render a random EmfQuery into the
  // reference's 5/6-line spec format — INCLUDING the operand inversion
  // its MF conditions carry ({MF.field.agg}[op]{rhs} evaluates rhs op
  // MF.field) — and require EmfParser to normalize back to the exact
  // same AST. Not renderable: vars with no MF condition (auto-rewrite
  // would add eq-on-G) and HAVING trees that mix AND under OR in shapes
  // the [&&]/[||] grammar's fixed precedence can't spell.

  private def positionalRenderable(q: EmfQuery): Boolean = {
    def havingOk(h: HavingExpr): Boolean = h match {
      case HavingLeaf(_) => true
      case HavingAnd(l, r) => havingOk(l) && havingOk(r) &&
        !l.isInstanceOf[HavingOr] && !r.isInstanceOf[HavingOr]
      case HavingOr(l, r) => havingOk(l) && havingOk(r)
    }
    q.vars.forall(_.mfConds.nonEmpty) && q.having.forall(havingOk) &&
      // a Lit-lhs membership cond renders as `{MF.f.agg}[op]{raw}`, whose
      // rhs re-parses as a literal only under the digit/minus-head rule —
      // string literals are grammatically columns there, so not renderable
      q.vars.forall(_.conds.forall {
        case Cond(Lit(raw), _, _) => raw.matches("-?\\d+(\\.\\d+)?")
        case _                    => true
      }) &&
      // AggSpec.parse must reconstruct the same (func, column, name):
      // our generated names are func_col_tag with col a real fact column
      (q.varZero ++ q.vars.map(_.agg)).forall(a =>
        a.name.startsWith(s"${a.func}_${a.column}_"))
  }

  private def renderPositional(q: EmfQuery): String = {
    def operandTok(o: Operand): String = o match {
      case TupleCol(n) => n
      case MfField(n)  => s"MF.$n"
      case Lit(raw)    => raw
    }
    // normalized Cond(rhs, op, MfField(field)) renders inverted as
    // {MF.field.<aggName>}[op]{rhs}; tuple conds render directly
    def cond(c: Cond, aggName: String): String = c match {
      case Cond(lhs, op, MfField(f)) => s"{MF.$f.$aggName}[$op]{${operandTok(lhs)}}"
      case Cond(TupleCol(a), op, Lit(raw)) => s"{$a}[$op]{$raw}"
      case other => throw new IllegalArgumentException(s"unrenderable $other")
    }
    val groups = q.vars.map(v => v.conds.map(cond(_, v.agg.name)).mkString(":"))
    val whereGroup =
      if (q.where.isEmpty) Nil
      else Seq(q.where.map { case Cond(TupleCol(a), op, Lit(raw)) =>
        s"{$a}[$op]{$raw}"
      }.mkString(":"))
    def havingStr(h: HavingExpr): String = h match {
      case HavingLeaf(HavingCond(a, op, b)) =>
        def side(o: Operand) = o match {
          case MfField(n) => n
          case Lit(raw)   => raw
          case TupleCol(n) => n
        }
        s"{${side(a)},$op,${side(b)}}"
      case HavingAnd(l, r) => s"${havingStr(l)} [&&] ${havingStr(r)}"
      case HavingOr(l, r)  => s"${havingStr(l)} [||] ${havingStr(r)}"
    }
    val lines = Seq(
      q.select.mkString(","),
      q.vars.size.toString,
      q.groupAttrs.mkString(","),
      q.vars.map(_.agg.name).mkString(","),
      (groups ++ whereGroup).mkString(",")) ++
      q.having.map(havingStr).toSeq
    lines.mkString("\n")
  }

  test("fuzz: positional format round-trips 150 random queries to identical ASTs") {
    var checked = 0
    var seed = 52000L
    while (checked < 150 * fuzzN) {
      val q = sampleQuery(seed)
      seed += 1
      if (positionalRenderable(q)) {
        val text = renderPositional(q)
        val q2 =
          try EmfParser.parseOne(text, cols)
          catch {
            case e: Throwable =>
              throw new AssertionError(s"parse failed\nspec=$text\nquery=$q", e)
          }
        assert(q2 == q, s"AST round-trip diverged\nspec=$text\nwant=$q\ngot =$q2")
        checked += 1
      }
    }
  }

  test("dedup idempotent; sum/count/avg consistent on random tables") {
    sampleTables(4).foreach { rows =>
      val df = rows.toDF()
      val once = df.dropDuplicates()
      assert(once.dropDuplicates().count() == once.count())
      val agg = df.groupBy("g")
        .agg(org.apache.spark.sql.functions.sum($"x").as("s"),
          org.apache.spark.sql.functions.count($"x").as("c"),
          org.apache.spark.sql.functions.avg($"x").as("a"))
        .collect()
      agg.foreach { r =>
        assert(math.abs(r.getLong(1).toDouble / r.getLong(2) - r.getDouble(3)) < 1e-9)
      }
    }
  }
}
