package graft.emf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lowers an [[EmfQuery]] onto DataFrame plans.
  *
  * The reference evaluates MF queries with n+1 sequential scans where
  * scans 1..n are O(|R|·|MF|) nested loops (reference
  * `src/QueryProcessor1.java:113-302`). We classify each grouping variable
  * and pick the cheapest Spark shape instead:
  *
  *  - '''SIMPLE''' — membership is equality on ALL grouping attributes and
  *    no other variable's aggregate is referenced → folded into the single
  *    scan-0 `groupBy(G).agg(f(when(tuplePreds, col)))`. One shuffle for
  *    the whole set of simple variables, map-side partial aggregation,
  *    whole-stage codegen. (Corpus queries 1 and 5 become ONE hash agg.)
  *
  *  - '''DEPENDENT''' — anything else (equality on a subset of G, order /
  *    inequality membership, references to other variables' aggregates) →
  *    one `left join + groupBy(G)` pass per variable, in dependency-DAG
  *    order. Equality conditions are written as join keys so Catalyst
  *    plans a shuffled hash / broadcast join (never the reference's
  *    nested loop unless the condition set is truly θ-only, which takes
  *    an inner join and a join-back instead; see [[dependentPass]]).
  *
  * At 100 TB the scan-0 aggregation shuffles on G once; each dependent
  * pass shuffles the fact table on its equality key subset — the same
  * partitioning a hand-written MD-join (Chatziantoniou et al., SIGMOD '99)
  * would need. The MF frame (one row per group) is small relative to the
  * fact table and broadcast-joins back for free under AQE.
  *
  * An equality-keyed dependent pass reads the MF frame once. Only a
  * θ-only pass reads it twice (join input and join-back); whether that
  * frame is materialized follows the one persistence policy,
  * [[graft.PlanShare.shared]]: below `spark.graft.share.minBytes` of
  * leaf input AQE's exchange reuse serves both consumers from one scan-0
  * (a persist there only adds a barrier job); above it the frame is
  * persisted and registered for [[unpersistAll]].
  *
  * '''Execution form.''' Spark compiles generated Java for a plan: one
  * class per whole-stage-fused pipeline, plus one per projection,
  * predicate or ordering outside them. Its class cache is keyed by the
  * generated source, in which numeric literals are inlined, so an
  * ad-hoc query with new literals misses it; in local mode the key also
  * holds the compiling thread's classloader, so a planning thread and
  * an executor task compile the same class twice. On a small input those
  * compiles are a large share of a query's wall time (a perfbench
  * adhoc run, seed 905: 357 compiles in 24 timed queries, 5.3 s of
  * compile time summed over threads against 13.4 s of query wall time;
  * 5 compiles in 32 queries interpreted). [[plan]] therefore probes the
  * fact frame's leaf input bytes ([[graft.PlanShare.leafInputBytes]],
  * the probe of the share and salt gates) and, below
  * [[InterpretMaxBytes]] (T), returns the same analyzed plan bound to
  * a copy of the caller's session with
  * `spark.sql.codegen.wholeStage=false` and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` (an internal Spark conf;
  * EmfPlannerSpec counts compiles, so a Spark that stops honouring it
  * fails loudly). Both confs are needed: with whole-stage fusion off
  * alone, each operator still compiles its expressions' classes. Results
  * are identical in both forms (EmfPropertySpec runs its fuzz in both).
  * T = 4 MiB is a measured crossover (BASELINE.md, "Interpreted EMF
  * crossover", golden q1–q8 on a 4-core box): at 1.39 MB and 2.55 MB
  * of leaves the interpreted form ran in 0.32–0.79× of a cold compiled
  * run (the ad-hoc case: every query new); at 5.41 MB one query rose to
  * 0.88× cold and 1.84× warm; at 14.1 MB (sf0.1) three queries ran
  * slower than cold. The perfbench adhoc fixture has 1.84 MB. This is
  * the adaptive-execution argument (Kohn, Leis, Neumann, ICDE 2018):
  * interpret first, compile when the input pays for it.
  *
  * '''Null contract.''' Groups follow SQL GROUP BY: a null grouping
  * value IS a group. Membership conditions of the form
  * `tuple.a OP MF.a` with `a` a grouping attribute are PARTITION
  * selectors and are therefore null-safe: `=` means "same group slice
  * on a" (`<=>`), `!=`/`<>` means "a different slice" (`NOT <=>`) — so
  * every lowering (scan-0 fold, window partition, complement
  * subtraction, dependent join) computes the same answer for null
  * groups, instead of the general join silently emptying them while
  * scan-0/windowPartitionBy kept them. All OTHER comparisons
  * (tuple-vs-literal, cross-attribute, aggregate thresholds, HAVING)
  * keep standard SQL three-valued semantics: a null operand compares
  * false. One documented boundary: the WINDOWED lowering assumes the
  * ORDER attribute carries no nulls (an order comparison is not a
  * partition selector, and Spark's window frame over null order values
  * differs from compare-false semantics); null-ordered data belongs to
  * the dependent path. EmfPropertySpec fuzzes the contract on
  * null-bearing tables against the brute-force interpreter.
  */
object EmfPlanner {

  /** Plan `q` over the fact table `fact` (e.g. Tables.salesView), in the
    * execution form the fact's leaf input bytes call for (see the object
    * doc): below [[InterpretMaxBytes]] the plan runs interpreted. */
  def plan(q: EmfQuery, fact: DataFrame): DataFrame = {
    val df = lower(q, fact)
    if (graft.PlanShare.leafInputBytes(fact) < BigInt(InterpretMaxBytes)) interpreted(df)
    else df
  }

  /** Leaf input bytes of the fact frame below which [[plan]] returns the
    * interpreted form; measured crossover, see the object doc.
    * Test-tunable: 0 forces the compiled form (EmfPropertySpec runs its
    * fuzz in both forms; Bench warms the compiled form it times). */
  @volatile private[graft] var InterpretMaxBytes: Long = 4L << 20

  /** Codegen settings of the interpreted form: no whole-stage fusion,
    * and every expression (projections, predicates, orderings) through
    * its interpreted implementation instead of a compiled class. */
  private val interpretedConfs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** `df`'s analyzed plan bound to a copy of its session that carries
    * [[interpretedConfs]]. The caller's session is untouched, and every
    * conf it holds at this call carries over. One copy serves each
    * caller session, re-synced per call, because a new session is a new
    * artifact-isolation id: Spark gives each id its own executor
    * classloader, and generated classes are cached per classloader, so
    * a copy per call recompiled the classes that have no interpreted
    * implementation (cached-batch column readers, row joiners: 3 per
    * q6-shaped query) on every query. */
  private def interpreted(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val caller = df.sparkSession
    val session = interpretedSessions.synchronized {
      val s = interpretedSessions.computeIfAbsent(caller, CatalystBridge.cloneSession(_))
      CatalystBridge.resync(caller, s, interpretedConfs)
      s
    }
    CatalystBridge.ofRows(session, df.queryExecution.analyzed)
  }

  /** Interpreted-form session per caller session, least recently used
    * evicted past 4 entries: each entry holds its caller session alive
    * (the copy references its parent's state), so the bound is what
    * keeps a process that creates many sessions (one per streaming
    * query, for [[EmfStreaming.microBatch]]) from holding them all. */
  private val interpretedSessions =
    new java.util.LinkedHashMap[SparkSession, SparkSession](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, SparkSession]): Boolean = size > 4
    }

  /** Is `df` bound to the interpreted form [[plan]] picks for small
    * inputs? Read from the frame's own session conf. */
  private[graft] def isInterpreted(df: DataFrame): Boolean =
    interpretedConfs.forall { case (k, v) => df.sparkSession.conf.getOption(k).contains(v) }

  /** The logical lowering of `q` over `fact`, bound to `fact`'s session. */
  private def lower(q: EmfQuery, fact: DataFrame): DataFrame = {
    val schema = fact.schema
    val base = q.where.foldLeft(fact)((df, c) => df.filter(tupleCond(c, schema, None)))

    val (simpleVars, winVars, depVars) = classifyVars(q, schema)
    val aggNames = q.aggNames

    // ---- scan 0: groups + variable-0 aggregates + all SIMPLE variables
    // + per-group partials for WINDOWED variables
    val scan0Aggs: Seq[Column] =
      varZeroAndSimpleAggs(q.varZero, simpleVars, schema) ++
      winVars.flatMap { v =>
        val cond = v.tupleConds.map(tupleCond(_, schema, None))
          .reduceOption(_ && _).getOrElse(lit(true))
        val x0 = when(cond, col(v.agg.column))
        // floating partials accumulate in DECIMAL (see aggColumn)
        val x = if (isFloating(v.agg.column, schema)) x0.cast(exactDec) else x0
        val p = s"__p_${v.agg.name}"
        v.agg.func match {
          case "sum"          => Seq(sum(x).as(s"${p}_sum"))
          case "count"        => Seq(count(x).as(s"${p}_cnt"))
          case "avg"          => Seq(sum(x).as(s"${p}_sum"), count(x0).as(s"${p}_cnt"))
          case "min"          => Seq(min(x0).as(s"${p}_min"))
          case "max"          => Seq(max(x0).as(s"${p}_max"))
        }
      }
    val grouped = base.groupBy(q.groupAttrs.map(col): _*)
    var mf: DataFrame =
      if (scan0Aggs.nonEmpty) grouped.agg(scan0Aggs.head, scan0Aggs.tail: _*)
      else base.select(q.groupAttrs.map(col): _*).distinct()

    // ---- WINDOWED variables: per-group partials combined over a window
    // frame — no join, no extra shuffle beyond the window's sort
    for (v <- winVars) mf = windowedPass(v, mf, q)
    mf = mf.drop(mf.columns.filter(_.startsWith("__p_")): _*)

    // ---- dependent variables, in dependency order
    for (v <- topoSort(depVars, aggNames)) complementShape(v, q) match {
      case Some((eqAttrs, antiAttr)) =>
        mf = complementPass(v, mf, base, q, schema, eqAttrs, antiAttr)
      case None =>
        mf = dependentPass(v, mf, base, q, schema)
    }

    // ---- HAVING, then project the select list in order
    val filtered = q.having.fold(mf)(h => mf.filter(havingExpr(h)))
    filtered.select(q.select.map(col): _*)
  }

  /** Scan-0 aggregate columns for variable-0 and SIMPLE variables —
    * shared with the streaming lowering ([[EmfStreaming]]). */
  private[emf] def varZeroAndSimpleAggs(varZero: Seq[AggSpec],
      simpleVars: Seq[GroupingVar], schema: StructType): Seq[Column] =
    varZero.map(a => aggColumn(a.func, col(a.column), a.column, schema).as(a.name)) ++
      simpleVars.map { v =>
        val cond = v.tupleConds.map(tupleCond(_, schema, None))
          .reduceOption(_ && _).getOrElse(lit(true))
        aggColumn(v.agg.func, when(cond, col(v.agg.column)), v.agg.column, schema)
          .as(v.agg.name)
      }

  /** Is this variable SIMPLE w.r.t. the query? (exposed for streaming) */
  private[emf] def isSimplePublic(v: GroupingVar, q: EmfQuery): Boolean =
    isSimple(v, q, q.aggNames)

  /** Partition the query's variables into (SIMPLE, WINDOWED, DEPENDENT) —
    * the same classification [[plan]] uses (exposed for streaming). */
  private[emf] def classifyVars(q: EmfQuery, schema: StructType)
      : (Seq[GroupingVar], Seq[GroupingVar], Seq[GroupingVar]) = {
    val aggNames = q.aggNames
    val (simpleVars, rest) = q.vars.partition(isSimple(_, q, aggNames))
    val (winVars, depVars) = rest.partition(isWindowed(_, q, aggNames, schema))
    (simpleVars, winVars, depVars)
  }

  /** HAVING tree to a Column (exposed for streaming). */
  private[emf] def havingColumn(h: HavingExpr): Column = havingExpr(h)

  /** WHERE conjunction to a Column (exposed for streaming). */
  private[emf] def whereColumn(conds: Seq[Cond], schema: StructType): Column =
    conds.map(tupleCond(_, schema, None)).reduceOption(_ && _).getOrElse(lit(true))

  /** Complement SHAPE: every MF condition is a same-attr equality on a
    * grouping attr plus EXACTLY ONE same-attr `<>`/`!=` on a grouping
    * attr, no EMF dependencies — the membership
    * `{x: x.E = g.E ∧ x.c ≠ g.c}` for ANY aggregate function. Returns
    * (equality attrs E, anti attr c).
    *
    * Both lowerings of this shape stay linear in the fact table, where
    * the dependent pass's groups × tuples θ-join on `≠` is quadratic in
    * the anti attr's popularity (9·10⁹ joined rows for a keyless min at
    * sf0.1's 15k custs × 600k rows):
    *  - batch: sum/count/avg by [[complementPass]]'s subtraction
    *    `f(E-slice) ⊖ f(own slice)`, min/max by [[complementMinMaxPass]]'s
    *    best / runner-up slice per E;
    *  - streaming ([[EmfStreaming.planCrossGroup]]) keys its state by E
    *    and combines all-but-self over the key's per-group partials. */
  private[emf] def complementShape(v: GroupingVar, q: EmfQuery)
      : Option[(Seq[String], String)] = {
    if (v.dependsOn(q.aggNames).nonEmpty) return None
    // = / <> are symmetric, so both operand orders qualify
    def attrOf(c: Cond, ops: Set[String]): Option[String] = c match {
      case Cond(TupleCol(a), op, MfField(b))
        if ops(op) && a == b && q.groupAttrs.contains(a) => Some(a)
      case Cond(MfField(b), op, TupleCol(a))
        if ops(op) && a == b && q.groupAttrs.contains(a) => Some(a)
      case _ => None
    }
    val eqs   = v.mfConds.flatMap(attrOf(_, Set("=", "==")))
    val antis = v.mfConds.flatMap(attrOf(_, Set("<>", "!=")))
    if (eqs.size + antis.size == v.mfConds.size && antis.size == 1)
      Some((eqs.distinct, antis.head))
    else None
  }

  /** Lower a complement-shaped variable ([[complementShape]]) as two
    * LINEAR aggregations of the (tuple-filtered) fact table — totals per
    * equality attrs E, own contribution per E ∪ {c} — joined back to the
    * MF frame, instead of the dependent pass's group×tuple join whose
    * output is quadratic in key popularity (every tuple pairs with every
    * OTHER group sharing its E value; corpus q4 at the sf1 rehearsal:
    * |MF|≈180k rows × fact tuples per prod). Floating sums stay in
    * DECIMAL through the subtraction (exact ⇒ identical to aggregating
    * the complement subset directly); empty complements surface as NULL
    * (count: 0) exactly like the reference's never-updated aggregate. */
  private def complementPass(v: GroupingVar, mf: DataFrame, base: DataFrame,
      q: EmfQuery, schema: StructType,
      eqAttrs: Seq[String], antiAttr: String): DataFrame = {
    if (v.agg.func == "min" || v.agg.func == "max")
      return complementMinMaxPass(v, mf, base, q, schema, eqAttrs, antiAttr)
    val t = v.tupleConds.foldLeft(base)((df, c) => df.filter(tupleCond(c, schema, None)))
    val c0 = col(v.agg.column)
    val floating = isFloating(v.agg.column, schema)
    val sumIn = if (floating) c0.cast(exactDec) else c0
    val ownKeys = (eqAttrs :+ antiAttr).distinct
    val tot =
      if (eqAttrs.nonEmpty)
        t.groupBy(eqAttrs.map(col): _*)
          .agg(sum(sumIn).as("__t_sum"), count(c0).as("__t_cnt"))
      else t.agg(sum(sumIn).as("__t_sum"), count(c0).as("__t_cnt"))
    val own = t.groupBy(ownKeys.map(col): _*)
      .agg(sum(sumIn).as("__o_sum"), count(c0).as("__o_cnt"))
    // null-safe joins: the groupBys above put null keys in their own
    // rows (SQL GROUP BY), so the lookups must match them too — a plain
    // USING join would hand a null-anti group the TOTal (own lookup
    // misses) and a null-E group nothing, both off the partition algebra
    val joined =
      joinNullSafe(
        if (eqAttrs.nonEmpty) joinNullSafe(mf, tot, eqAttrs)
        else mf.crossJoin(broadcast(tot)), // keyless: totals are ONE row
        own, ownKeys)
    val sumDiff = coalesce(col("__t_sum"), lit(0)) - coalesce(col("__o_sum"), lit(0))
    val cntDiff = coalesce(col("__t_cnt"), lit(0L)) - coalesce(col("__o_cnt"), lit(0L))
    val value = v.agg.func match {
      case "count" => cntDiff
      case "sum" =>
        val s = when(cntDiff > 0, sumDiff)
        if (floating) s.cast("double") else s
      case "avg" => when(cntDiff > 0, sumDiff.cast("double") / cntDiff)
    }
    joined.withColumn(v.agg.name, value)
      .drop("__t_sum", "__t_cnt", "__o_sum", "__o_cnt")
  }

  /** Complement min/max by BEST and RUNNER-UP slice. min/max have no
    * subtraction inverse, but the complement of group g is the union of
    * the OTHER c-slices under g.E, so its extremum is the extremum over
    * those slices' own extrema `own(E, c) = ext(x.q)`:
    *
    *   ext{x.q : x.E = g.E ∧ x.c ≠ g.c} =
    *     runnerUp(g.E)  if g.c <=> bestSlice(g.E)
    *     best(g.E)      otherwise
    *
    * Per E only the top two slices matter: one ranking window over the
    * per-slice aggregate (keyless E: a global top-2, exactly one row,
    * cross-joined by broadcast), then one join back on E. Every frame is
    * bounded by the number of slices, never groups × value domain. A tie
    * on the best value leaves runnerUp = best, so either tied slice reads
    * the right value; a group whose own slice has no qualifying tuple is
    * not the best slice and reads best; null measures never form a
    * slice, and an empty complement (no other slice) reads NULL, matching
    * the reference's never-updated aggregate. */
  private def complementMinMaxPass(v: GroupingVar, mf: DataFrame,
      base: DataFrame, q: EmfQuery, schema: StructType,
      eqAttrs: Seq[String], antiAttr: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = v.tupleConds.foldLeft(base)((df, c) => df.filter(tupleCond(c, schema, None)))
    val n = v.agg.name
    val (own, top, second) = (s"__o_$n", s"__b_$n", s"__r_$n")
    val isMin = v.agg.func == "min"
    val (ext, opp): (Column => Column, Column => Column) =
      if (isMin) (min, max) else (max, min)
    val ownKeys = (eqAttrs :+ antiAttr).distinct
    val slices = t.filter(col(v.agg.column).isNotNull)
      .groupBy(ownKeys.map(col): _*)
      .agg(ext(col(v.agg.column)).as(own))
    // best first; the anti attr breaks ties so the ranking is deterministic
    val order = Seq(if (isMin) col(own).asc else col(own).desc, col(antiAttr).asc)
    val top2 =
      if (eqAttrs.nonEmpty)
        slices.withColumn("__rn", row_number().over(
          Window.partitionBy(eqAttrs.map(col): _*).orderBy(order: _*)))
          .filter(col("__rn") <= 2).drop("__rn")
      else slices.orderBy(order: _*).limit(2)
    // ≤ 2 rows per E collapse to (best slice, runner-up value); struct
    // order compares the value first, so the extremum struct is the best
    val slice = struct(col(own).as("v"), col(antiAttr).as("c"))
    val best = top2.groupBy(eqAttrs.map(col): _*).agg(
      ext(slice).as(top),
      when(count(lit(1)) === 2, opp(col(own))).as(second))
    val joined =
      if (eqAttrs.nonEmpty) joinNullSafe(mf, best, eqAttrs)
      else mf.crossJoin(broadcast(best))
    joined.withColumn(n,
      when(col(antiAttr) <=> col(s"$top.c"), col(second))
        .otherwise(col(s"$top.v")))
      .drop(top, second)
  }

  /** Rows-per-equality-key ceiling above which [[dependentPass]] salts
    * the groups × tuples join (conf `spark.graft.emf.salt.maxPerKey`;
    * ≤ 0 forces the salted form, Long.MaxValue forces the plain form —
    * both short-circuit the sampling scan, the q21Core contract). */
  private[emf] val SaltMaxPerKey = 100000L

  /** Plan-stats floor under which the hot-key stat is skipped and the
    * plain join taken unconditionally (conf
    * `spark.graft.emf.salt.statMinBytes`): below ~1 GiB the guaranteed
    * sampling job costs a visible fraction of the query it protects —
    * the same cost-of-deciding reasoning as q21Core / ProfileExactMaxBytes. */
  private[emf] val SaltStatMinBytes = 1L << 30

  /** Session memo for the sampled hot-key estimate, keyed by the fact
    * frame's analyzed-plan semantic hash + the equality attrs — the
    * distribution is a property of the (filtered) table, not of the
    * variable, so one measurement serves every dependent pass over it. */
  private val saltStatCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Seq[String]), java.lang.Long]()

  /** Order-of-magnitude estimate of the hottest equality-key's row count
    * from a 0.1% Bernoulli sample (fixed seed — deterministic on a fixed
    * layout); the q21Core technique. At warehouse scale this is a table-
    * statistics read, not a job. */
  private def estMaxRowsPerKey(df: DataFrame, keys: Seq[String]): Long = {
    val id = (df.queryExecution.analyzed.semanticHash(), keys)
    val cached = saltStatCache.get(id)
    if (cached != null) return cached.longValue
    val p = 0.001
    val m = df.sample(p, seed = 42L).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c")).agg(max(col("c"))).collect()(0)
    val est = if (m.isNullAt(0)) 0L else (m.getLong(0) / p).toLong
    saltStatCache.put(id, java.lang.Long.valueOf(est))
    est
  }

  /** Conf with an env fallback (`spark.graft.emf.salt.maxPerKey` →
    * `SPARK_GRAFT_EMF_SALT_MAXPERKEY`) so plan tooling can exhibit the
    * salted shape without a code change — the SPARK_GRAFT_SHARE_MIN
    * precedent. */
  private def confLong(df: DataFrame, key: String, dflt: Long): Long = {
    val env = "SPARK_GRAFT_" +
      key.stripPrefix("spark.graft.").replace('.', '_').toUpperCase
    df.sparkSession.conf.getOption(key)
      .orElse(sys.env.get(env))
      .map { raw =>
        // name the key and value, not a bare NumberFormatException
        // mid-planning (PlanShare.minBytes' contract)
        try raw.trim.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$key / $env must be an integer, got '$raw'")
        }
      }
      .getOrElse(dflt)
  }

  /** One dependent-variable pass: join the MF frame with the fact table
    * on the variable's defining predicates, aggregate per group, and
    * return the MF frame with the variable's aggregate column added.
    *
    * '''Join form.''' When the membership pins some fact attr by
    * equality against the MF frame, the pass is ONE left join
    * `mf ⟕ t` regrouped on G, the MF frame's other columns carried
    * through `first` (each group is one MF row, so the carry is exact).
    * The MF frame then has a single consumer: no join-back and no shared
    * scan-0, one join and its stages fewer per pass. A θ-only membership
    * has no equi key, and Spark runs such a left join only by
    * broadcasting the FACT side; there the MF frame stays the build side
    * of an inner join and the aggregate joins back null-safely. That form
    * reads the frame twice, so the frame goes through
    * [[graft.PlanShare.shared]], the one persistence policy: pinned above
    * `spark.graft.share.minBytes` of leaf input, served by AQE exchange
    * reuse below it.
    *
    * '''Skew fallback (r18, guide §2.5).''' The join's output for one
    * equality-key value is |tuples with it| × |groups with it| — all in
    * ONE sort-merge partition when a key is pathologically hot, and AQE's
    * skew split does not rescue a join dominated by θ-residual work on a
    * single key. When the fact side is big enough to matter
    * ([[SaltStatMinBytes]]) and a sampled hot-key estimate exceeds
    * [[SaltMaxPerKey]], the pass salts: the fact side gets a
    * deterministic in-row salt (xxhash64 of its non-map columns — never
    * rand(), which re-draws under task retry, SPARK-38388), the MF side
    * explodes ×k, and the join keys on (equality attrs, salt), splitting
    * the hot key across ≤ k tasks. The joined multiset is IDENTICAL (each
    * (group, tuple) pair still matches exactly once — the tuple has one
    * salt value and the group carries all k; a copy that matches nothing
    * adds only a null fact side, which every aggregate skips), so every
    * aggregate is unchanged; floating sums are exact DECIMAL either way
    * ([[aggColumn]]), hence bit-reproducible under the re-partitioning.
    * EmfPropertySpec's forced-salt fuzz pins brute-force agreement and
    * form equality on a hot-key fixture; EmfPlannerSpec pins the plan
    * shape. */
  private def dependentPass(v: GroupingVar, mf: DataFrame, base: DataFrame,
      q: EmfQuery, schema: StructType): DataFrame = {
    // tuple-vs-literal predicates filter the fact side BEFORE the join —
    // Catalyst pushes them into the parquet scan
    val t0 = v.tupleConds.foldLeft(base)((df, c) => df.filter(tupleCond(c, schema, None)))
    val t = t0.alias("t")
    // Conditions with NO fact-side (TupleCol) operand — MF-vs-MF, e.g.
    // corpus q6's `MF.avg_1 > MF.avg_2`, MF-vs-literal, or the degenerate
    // `MF.a = MF.a` — are group-side predicates, evaluated on the MF frame
    // alone (a filter before the inner join, a precomputed column the
    // left join tests): a group failing them gets an empty set. Keeping
    // their expressions out of Dataset.join's condition is load-bearing —
    // its ambiguous-self-join rewrite mis-resolves a condition
    // referencing only one side (found by EmfPropertySpec fuzz; the
    // MF-vs-Lit class is one-sided the same way, round-13 advice).
    val (mfOnly, joinSide) = v.mfConds.partition(c =>
      !c.lhs.isInstanceOf[TupleCol] && !c.rhs.isInstanceOf[TupleCol])
    val groupSide = mfOnly.map(mfOnlyCond(_, mf.schema)).reduceOption(_ && _)
    val joinCond = joinSide.map(mfCond(_, schema, q.groupAttrs))
      .reduceOption(_ && _).getOrElse(lit(true))
    // fact-side attrs pinned by an equality against the MF frame — the
    // join's hash-partitioning keys, and therefore where a hot value
    // funnels the whole key's θ-work into one task
    val eqFactAttrs = joinSide.collect {
      case Cond(TupleCol(a), "=" | "==", MfField(_)) => a
      case Cond(MfField(_), "=" | "==", TupleCol(a)) => a
    }.distinct
    val gCols = q.groupAttrs.map(g => col(s"mf.$g").as(g))
    val agg = aggColumn(v.agg.func, col(s"t.${v.agg.column}"), v.agg.column, schema)
      .as(v.agg.name)
    if (eqFactAttrs.isEmpty) {
      val m = graft.PlanShare.shared(mf)
      val varAgg = groupSide.fold(m)(p => m.filter(p)).alias("mf")
        .join(t, joinCond, "inner")
        .groupBy(gCols: _*).agg(agg)
      // null-safe join-back: a null grouping value is a group (SQL
      // GROUP BY), and a plain USING join would drop its aggregate
      val back = joinNullSafe(m, varAgg, q.groupAttrs)
      return if (v.agg.func != "count") back
        else back.withColumn(v.agg.name, coalesce(col(v.agg.name), lit(0L)))
    }
    val maxPerKey = confLong(t0, "spark.graft.emf.salt.maxPerKey", SaltMaxPerKey)
    val statMin = confLong(t0, "spark.graft.emf.salt.statMinBytes", SaltStatMinBytes)
    // size floor probes analyzed-plan LEAF bytes (PlanShare's probe:
    // file sizes, never join-output estimates — the fact frame is often
    // a cached multi-way join whose un-materialized InMemoryRelation
    // reports the join ESTIMATE, which inflates past any floor even on
    // MB-sized inputs and would fire a spurious sampling job per pass)
    val skewed = maxPerKey <= 0L ||
      (maxPerKey != Long.MaxValue &&
        graft.PlanShare.leafInputBytes(t0) > BigInt(statMin) &&
        estMaxRowsPerKey(t0, eqFactAttrs) > maxPerKey)
    val m = groupSide.fold(mf)(mf.withColumn("__mf_ok", _))
    val cond = groupSide.fold(joinCond)(_ => joinCond && col("mf.__mf_ok"))
    val joined =
      if (!skewed) m.alias("mf").join(t, cond, "left")
      else {
        val kRaw = confLong(t0, "spark.graft.emf.salt.buckets",
          math.max(4L * t0.sparkSession.sparkContext.defaultParallelism, 64L))
        // fail at planning, not as pmod(…, 0)'s unnamed divide-by-zero
        if (kRaw <= 0L || kRaw > Int.MaxValue)
          throw new IllegalArgumentException(
            s"spark.graft.emf.salt.buckets must be in 1..${Int.MaxValue}, got '$kRaw'")
        val k = kRaw.toInt
        // deterministic per-row salt: xxhash64 over every hashable fact
        // column (maps are not hashable; everything else is), so re-run
        // tasks reproduce the same assignment
        val hashCols = t0.schema.fields
          .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          .map(f => col(f.name)).toSeq
        val tS = t0.withColumn("__gsalt",
          pmod(xxhash64(hashCols: _*), lit(k.toLong)).cast("int")).alias("t")
        val mS = m.withColumn("__gsalt",
          explode(sequence(lit(0), lit(k - 1)))).alias("mf")
        mS.join(tS, cond && col("mf.__gsalt") === col("t.__gsalt"), "left")
      }
    val carry = mf.columns.filterNot(q.groupAttrs.contains)
      .map(c => first(col(s"mf.$c")).as(c))
    joined.groupBy(gCols: _*).agg(agg, carry: _*)
  }

  /** WINDOWED ⇔ no EMF dependencies and every MF condition is either an
    * equality `tuple.g = MF.g` on a grouping attr or a single order
    * comparison (`<`,`<=`,`>`,`>=`) `tuple.o ? MF.o` on ONE grouping attr.
    * Lowered as per-group partial aggregates + a window over the equality
    * subset with a RANGE frame on the order attr — removes the join+shuffle
    * a dependent pass would need (corpus queries 2 and 3).
    *
    * The ±1 RANGE offsets that encode strict `<`/`>` are only correct
    * when consecutive order values differ by ≥ 1 — i.e. integral types.
    * Fractional or non-numeric order attrs fall back to the dependent
    * pass (correct for any type). */
  private def isWindowed(v: GroupingVar, q: EmfQuery, aggNames: Set[String],
      schema: StructType): Boolean =
    windowedShape(v, q, aggNames).exists(_.forall(integral(_, schema)))

  /** The WINDOWED shape up to the order attr's type: `Some(order attr, if
    * any)` when the variable has no EMF dependencies and its MF conditions
    * are grouping-attr equalities plus at most one order comparison. */
  private def windowedShape(v: GroupingVar, q: EmfQuery,
      aggNames: Set[String]): Option[Option[String]] = {
    val orderAttrs = v.mfConds.collect {
      case Cond(TupleCol(a), "<" | "<=" | ">" | ">=", MfField(b))
        if a == b && q.groupAttrs.contains(a) => a
    }
    val eqConds = v.mfConds.count {
      case Cond(TupleCol(a), "=" | "==", MfField(b)) =>
        a == b && q.groupAttrs.contains(a)
      case _ => false
    }
    if (v.dependsOn(aggNames).isEmpty &&
        eqConds + orderAttrs.size == v.mfConds.size &&
        orderAttrs.size <= 1 &&
        Set("sum", "count", "avg", "min", "max").contains(v.agg.func))
      Some(orderAttrs.headOption)
    else None
  }

  private def integral(n: String, schema: StructType): Boolean =
    schema.find(_.name == n).map(_.dataType).exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** The order attr of a variable that has the WINDOWED shape over a
    * non-integral order attr — the shape [[classifyVars]] demotes to
    * DEPENDENT (exposed so streaming can reject it by name). */
  private[emf] def nonIntegralOrderAttr(v: GroupingVar, q: EmfQuery,
      schema: StructType): Option[String] =
    windowedShape(v, q, q.aggNames).flatten.filterNot(integral(_, schema))

  /** Combine scan-0 partials over a window frame encoding the variable's
    * membership condition. */
  private def windowedPass(v: GroupingVar, mf: DataFrame, q: EmfQuery): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eqAttrs = v.mfConds.collect {
      case Cond(TupleCol(a), "=" | "==", MfField(_)) => a
    }
    val orderCond = v.mfConds.collectFirst {
      case c @ Cond(TupleCol(_), "<" | "<=" | ">" | ">=", MfField(_)) => c
    }
    val base = Window.partitionBy(eqAttrs.map(col): _*)
    val w = orderCond match {
      case None => base // frame = entire partition
      case Some(Cond(TupleCol(a), op, _)) =>
        val ordered = base.orderBy(col(a))
        op match {
          case "<"  => ordered.rangeBetween(Window.unboundedPreceding, -1)
          case "<=" => ordered.rangeBetween(Window.unboundedPreceding, Window.currentRow)
          case ">"  => ordered.rangeBetween(1, Window.unboundedFollowing)
          case ">=" => ordered.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        }
      case Some(c) => throw new IllegalStateException(s"bad order cond $c")
    }
    val p = s"__p_${v.agg.name}"
    // decimal partials (floating inputs) surface as double after the frame
    // combine; integral partials keep their type
    def decimalPartial: Boolean = mf.schema.find(_.name == s"${p}_sum")
      .map(_.dataType).exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    val out = v.agg.func match {
      case "sum" =>
        val s = sum(col(s"${p}_sum")).over(w)
        if (decimalPartial) s.cast("double") else s
      case "count" => coalesce(sum(col(s"${p}_cnt")).over(w), lit(0L))
      case "min"   => min(col(s"${p}_min")).over(w)
      case "max"   => max(col(s"${p}_max")).over(w)
      case "avg" =>
        val s = sum(col(s"${p}_sum")).over(w)
        val c = sum(col(s"${p}_cnt")).over(w)
        when(c > 0, s.cast("double") / c).otherwise(lit(null))
    }
    mf.withColumn(v.agg.name, out)
  }

  /** SIMPLE ⇔ every MF condition is `tuple.g = MF.g` over a grouping attr,
    * jointly covering membership by equality on the full G, with no
    * reference to any aggregate field. */
  private def isSimple(v: GroupingVar, q: EmfQuery, aggNames: Set[String]): Boolean =
    v.mfConds.forall {
      case Cond(TupleCol(a), "=" | "==", MfField(b)) =>
        a == b && q.groupAttrs.contains(a)
      case _ => false
    } && v.dependsOn(aggNames).isEmpty &&
      // membership must pin every grouping attr, else the variable ranges
      // wider than its own group (subset-equality → DEPENDENT)
      q.groupAttrs.forall(g => v.mfConds.exists {
        case Cond(TupleCol(a), _, MfField(b)) => a == g && b == g
        case _ => false
      })

  /** Kahn topological sort of dependent variables on their EMF edges. */
  private def topoSort(vars: Seq[GroupingVar], aggNames: Set[String]): Seq[GroupingVar] = {
    val byName = vars.map(v => v.agg.name -> v).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(v: GroupingVar, path: Set[String]): Unit = {
      if (visited.contains(v.agg.name)) return
      require(!path(v.agg.name), s"cyclic EMF dependency at ${v.agg.name}")
      v.dependsOn(aggNames).foreach { d =>
        byName.get(d).foreach(visit(_, path + v.agg.name))
      }
      visited += v.agg.name
    }
    vars.foreach(visit(_, Set.empty))
    visited.toSeq.map(byName)
  }

  // ---- persisted-frame lifecycle ------------------------------------------

  /** Frames pinned through [[registerPersisted]] — [[graft.PlanShare]]'s
    * shared frames (the planner's θ-only MF frames among them) and the
    * operators' own pins; a long-lived session should call
    * [[unpersistAll]] once the plans' final actions have run, or cached
    * blocks accumulate without bound. */
  private val persistedFrames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  /** Register a persisted frame for [[unpersistAll]] cleanup, so every
    * pinned frame shares the entrypoints' per-query lifecycle. */
  private[graft] def registerPersisted(df: DataFrame): Unit =
    persistedFrames.add(df)

  /** Unpersist every frame registered since the last call. Safe to call
    * any time after the plans' actions complete (re-running such a plan
    * afterwards recomputes what the frame held). */
  def unpersistAll(): Unit = {
    val it = persistedFrames.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }

  // ---- expression building -------------------------------------------------

  /** Is the aggregated fact column a float/double? Those sums are
    * order-dependent in IEEE arithmetic — a different partitioning gives a
    * different last bit. */
  private[emf] def isFloating(colName: String, schema: StructType): Boolean =
    schema.find(_.name == colName).map(_.dataType).exists {
      case DoubleType | FloatType => true
      case _                      => false
    }

  /** Decimal surrogate for exact floating sums: exact for data with ≤6
    * decimal digits (documented quantization for wider inputs). */
  private[emf] val exactDec = "decimal(27,6)"

  /** sum/avg over floating columns accumulate in DECIMAL (exact, hence
    * partitioning-independent and bit-reproducible across cluster sizes)
    * and surface as double; integral/decimal inputs already sum exactly. */
  private def aggColumn(func: String, c: Column, colName: String,
      schema: StructType): Column = (func, isFloating(colName, schema)) match {
    case ("sum", true)  => sum(c.cast(exactDec)).cast("double")
    case ("avg", true)  => sum(c.cast(exactDec)).cast("double") / count(c)
    case ("sum", _)     => sum(c)
    case ("avg", _)     => avg(c)
    case ("min", _)     => min(c)
    case ("max", _)     => max(c)
    case ("count", _)   => count(c)
    case (other, _)     => throw new IllegalArgumentException(s"unknown aggregate '$other'")
  }

  /** tuple-vs-literal condition, optionally qualified with an alias. */
  private[emf] def tupleCond(c: Cond, schema: StructType, qual: Option[String]): Column = {
    def ref(n: String) = qual.fold(col(n))(a => col(s"$a.$n"))
    (c.lhs, c.rhs) match {
      case (TupleCol(a), Lit(raw)) => cmp(ref(a), c.op, typedLit(raw, a, schema))
      case (Lit(raw), TupleCol(a)) => cmp(typedLit(raw, a, schema), c.op, ref(a))
      case _ => throw new IllegalArgumentException(s"not a tuple condition: $c")
    }
  }

  /** Is `n` nullable per the frame's schema? (Unknown columns count as
    * nullable — conservative.) */
  private def nullableIn(df: DataFrame, n: String): Boolean =
    df.schema.find(_.name == n).forall(_.nullable)

  /** Left join on `keys` with NULL-SAFE equality, keeping the left
    * side's key columns — the lookup shape the null contract needs
    * everywhere an aggregate frame joins back to the MF frame (null
    * grouping values are groups and must find their rows).
    *
    * Cost gate: `<=>` keys still hash-join, but Spark extracts them as
    * `(coalesce(k, d), isnull(k))` expression keys, which no longer
    * match the MF frame's `hashpartitioning(k)` from scan-0 — one extra
    * exchange per pass (measured 2-3× on the emf corpus queries at
    * sf0.1). When the schema PROVES every key non-nullable, `<=>` ≡ `=`
    * and the plain USING join keeps the partitioning reuse; fixtures
    * whose keys derive from inner joins declare that via AssertNotNull
    * ([[graft.Tables.salesView]]). Only genuinely nullable keys pay the
    * null-safe exchange. */
  private def joinNullSafe(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    if (keys.forall(k => !nullableIn(left, k) && !nullableIn(right, k)))
      return left.join(right, keys, "left")
    val l = left.alias("jl")
    val r = right.alias("jr")
    val cond = keys.map(k => col(s"jl.$k") <=> col(s"jr.$k")).reduce(_ && _)
    val payload = right.columns.filterNot(keys.contains)
    l.join(r, cond, "left").select(
      left.columns.map(c => col(s"jl.$c")) ++
        payload.map(c => col(s"jr.$c")): _*)
  }

  /** Fact-side-free condition evaluated against the (unaliased) MF frame —
    * every operand is an MF-frame column or a literal. Literals type
    * against the MF FRAME's schema (the aggregate columns the MF fields
    * actually name — long counts/sums, double avgs, or the fact type for
    * min/max), not the fact schema, where aggregate names never resolve
    * and [[typedLit]] would silently fall to an untyped string literal
    * left to ANSI coercion (round-13 advice). Unsupported MF column
    * types fail fast, same contract as every other literal site. */
  private def mfOnlyCond(c: Cond, mfSchema: StructType): Column = (c.lhs, c.rhs) match {
    case (MfField(a), MfField(b)) => cmp(col(a), c.op, col(b))
    case (MfField(a), Lit(raw))   => cmp(col(a), c.op, typedLit(raw, a, mfSchema))
    case (Lit(raw), MfField(b))   => cmp(typedLit(raw, b, mfSchema), c.op, col(b))
    case _ => throw new IllegalArgumentException(s"not an MF-only condition: $c")
  }

  /** MF condition inside a dependent join: TupleCol → fact side ("t"),
    * MfField → MF frame side ("mf"). Same-attribute comparisons on a
    * grouping attribute are partition selectors and use null-safe
    * equality (see the null contract in the object scaladoc) — this is
    * what keeps the general join path consistent with scan-0's GROUP BY
    * and the complement pass's partition algebra on null groups. */
  private def mfCond(c: Cond, schema: StructType,
      groupAttrs: Seq[String]): Column = {
    def side(o: Operand, other: Operand): Column = o match {
      case TupleCol(n) => col(s"t.$n")
      case MfField(n)  => col(s"mf.$n")
      case Lit(raw) =>
        val colName = other match {
          case TupleCol(n) => n case MfField(n) => n case _ => ""
        }
        typedLit(raw, colName, schema)
    }
    // null-safe only when the schema can't rule nulls out — a provably
    // non-null attr keeps plain = keys and their partitioning reuse
    // (same cost gate as joinNullSafe)
    val partitionSelector = (c.lhs, c.rhs) match {
      case (TupleCol(a), MfField(b)) =>
        a == b && groupAttrs.contains(a) && nullableAttr(a, schema)
      case (MfField(b), TupleCol(a)) =>
        a == b && groupAttrs.contains(a) && nullableAttr(a, schema)
      case _ => false
    }
    val (l, r) = (side(c.lhs, c.rhs), side(c.rhs, c.lhs))
    if (partitionSelector) c.op match {
      case "=" | "=="  => l <=> r
      case "!=" | "<>" => !(l <=> r)
      case _           => cmp(l, c.op, r)
    } else cmp(l, c.op, r)
  }

  /** Is `n` nullable per the fact schema? (missing → conservative yes) */
  private def nullableAttr(n: String, schema: StructType): Boolean =
    schema.find(_.name == n).forall(_.nullable)

  private def havingExpr(h: HavingExpr): Column = h match {
    case HavingAnd(l, r) => havingExpr(l) && havingExpr(r)
    case HavingOr(l, r)  => havingExpr(l) || havingExpr(r)
    case HavingLeaf(HavingCond(a, op, b)) => cmp(havingOperand(a), op, havingOperand(b))
  }

  private def havingOperand(o: Operand): Column = o match {
    case MfField(n)  => col(n)
    case TupleCol(n) => col(n)
    case Lit(raw)    => lit(parseNum(raw))
  }

  private def cmp(l: Column, op: String, r: Column): Column = op match {
    case "=" | "==" => l === r
    case "!=" | "<>" => l =!= r
    case "<"  => l < r
    case ">"  => l > r
    case "<=" => l <= r
    case ">=" => l >= r
    case other => throw new IllegalArgumentException(s"unknown operator '$other'")
  }

  /** Type a literal against the fact column it is compared with, so e.g.
    * `{year}[==]{1997}` compares int-to-int (no ANSI string coercion).
    * Unsupported fact-column types fail fast rather than silently
    * comparing against a string literal (which under ANSI mode can throw
    * at runtime or flip comparison semantics). */
  private def typedLit(raw: String, colName: String, schema: StructType): Column =
    schema.find(_.name == colName).map(_.dataType) match {
      case Some(IntegerType)    => lit(raw.toInt)
      case Some(LongType)       => lit(raw.toLong)
      case Some(DoubleType)     => lit(raw.toDouble)
      case Some(FloatType)      => lit(raw.toFloat)
      case Some(ShortType)      => lit(raw.toShort)
      case Some(ByteType)       => lit(raw.toByte)
      case Some(BooleanType)    => lit(raw.toBoolean)
      case Some(d: DecimalType) => lit(new java.math.BigDecimal(raw)).cast(d)
      case Some(DateType)       => lit(java.sql.Date.valueOf(raw))
      // session-timezone parsing (UTC here), not JVM-default-zone
      // Timestamp.valueOf — keeps the literal's instant aligned with the
      // UTC-pinned session and the DuckDB oracle on any host. Malformed
      // literals still fail loudly: ANSI mode (Spark 4 default, on in
      // every graft session) makes string→timestamp casts THROW rather
      // than return null.
      case Some(TimestampType)  => lit(raw).cast(TimestampType)
      case Some(StringType)     => lit(raw)
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported literal comparison against $colName: $other")
      case None => lit(raw) // unqualified literal-vs-literal side
    }

  private def parseNum(raw: String): Any =
    if (raw.matches("-?\\d+")) raw.toLong
    else if (raw.matches("-?\\d*\\.\\d+")) raw.toDouble
    else raw
}
