package graft.emf

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** MF/EMF over STREAMS — the lineage of the reference's second paper
  * ("Processing Complex Aggregate Queries over Data Streams"): the MF
  * structure is exactly the state of a streaming aggregation.
  *
  *  - Queries whose variables are all SIMPLE (membership = equality on
  *    the full grouping set) lower to ONE stateful streaming
  *    `groupBy(G).agg(f(when(...)))` — [[plan]]. The MF structure lives
  *    in the state store, updated incrementally per micro-batch; HAVING
  *    applies per emitted result (complete/update mode).
  *  - WINDOWED variables and DEPENDENT variables that pin the full
  *    grouping set (corpus q2/q3 windows, q6's `quant > MF.avg_quant_1`
  *    within the group, q8's dependent-on-windowed chain) lower to
  *    `flatMapGroupsWithState` over ONE keyed, ordered state model —
  *    [[planKeyed]]: key → order value → (slot partials, comparison-value
  *    histograms). The key is the windowed variables' shared equality
  *    attrs E, the order value their shared order attr o (G = E ∪ {o});
  *    a query without windowed variables is keyed by G with one constant
  *    slice. Per order value the state holds the exact partials of every
  *    variable-0/SIMPLE/WINDOWED aggregate and, per dependent variable, a
  *    histogram from comparison value to the aggregate partials of the
  *    tuples holding it — the minimal sufficient statistic, because a
  *    moving threshold re-classifies EVERY historical tuple. A
  *    micro-batch folds its rows in (O(batch), no history re-scan);
  *    emission recombines window frames by a prefix/suffix pass over the
  *    key's sorted order values and folds each group's histogram range
  *    that passes the threshold its referenced aggregate takes AT THAT
  *    GROUP. State is bounded by the order domain × the comparison-value
  *    domain per key: a windowed query keeps no histograms, a dependent
  *    one a single slice.
  *  - DEPENDENT variables with cross-group COMPLEMENT membership
  *    (corpus q4: equality on a grouping subset E plus one same-attr
  *    `!=`, ANY of the five aggregates) run incrementally via
  *    [[planCrossGroup]]: the cross-group span is confined to groups
  *    sharing E, so keying the state by E restores a key-local
  *    sufficient statistic — per anti value one accumulator row,
  *    emission combines ALL-BUT-SELF over the key's per-group partials
  *    (a prefix/suffix pass; ≡ the batch planner's `total ⊖ own`
  *    subtraction for sum/count/avg, and the only formulation that
  *    works for min/max, which have no inverse) and re-emits every
  *    group of a touched key (the revision other groups' arrivals
  *    force). Since round 14 this includes the KEYLESS complement
  *    (E = ∅ — "each group vs every other group"): the statistic is
  *    global by nature, so the structure rides one constant state key
  *    whose bound equals the keyed path's single-hot-key worst case.
  *  - DEPENDENT shapes beyond every incremental class — NON-complement
  *    cross-group membership (cross-attribute predicates like
  *    `x.a = g.b`, several `!=` legs, order predicates against another
  *    group's attrs) — run the full batch planner on each micro-batch
  *    via `foreachBatch` — [[microBatch]] — the standard
  *    full-expressiveness escape hatch: there the qualifying SET of one
  *    group is an arbitrary function of other groups' attributes, no
  *    per-value partial decomposition exists, and the only exact
  *    incremental state is the fact history itself (state ∝ stream) —
  *    the impossibility argument is written out in PLANS.md.
  *
  * Checkpoint write path. Every trigger commits the MF structure through
  * Spark's checkpoint files: the state store writes a delta (and a
  * checksum) file per stateful partition, and the offset and commit
  * logs one file each, all as create-temp-then-rename through Hadoop's
  * `FileContext`. On a `file:` checkpoint without `libhadoop.so`,
  * Hadoop's local filesystem forks `chmod` on each create and
  * `readlink` on each rename check, and those forks, not the EMF work,
  * set a small trigger's latency. Each public lowering therefore first
  * calls [[graft.io.LocalFs.install]], which points the session's
  * `file:` `FileContext` at the fork-free [[graft.io.LocalFs]] (same
  * `.crc` files and checkpoint layout, so a checkpoint written under one
  * filesystem restarts under the other). A user-set
  * `fs.AbstractFileSystem.file.impl` wins; HDFS and S3 checkpoints are
  * untouched.
  */
object EmfStreaming {

  /** What [[planAuto]] returns: the lowered streaming frame plus its
    * consumption contract. `usesSnapshot` = the frame carries `__ver`
    * emissions and the current MF structure is reconstructed with
    * [[snapshot]] from an update-mode sink (HAVING applies there);
    * otherwise the frame is a plain streaming aggregation whose
    * complete-mode sink IS the result (HAVING already applied).
    * `lowering` names the class the query was routed as: "simple",
    * "windowed", "dependent", "chained" or "cross-group". */
  final case class StreamingPlan(df: DataFrame, usesSnapshot: Boolean, lowering: String)

  /** Entry of every public lowering: the stream's session commits its
    * checkpoints through [[graft.io.LocalFs]] (see the object doc). */
  private def installLocalFs(stream: DataFrame): Unit =
    graft.io.LocalFs.install(stream.sparkSession)

  /** Route a query to its cheapest incremental lowering — the same
    * classification the batch planner uses, so callers never pick a
    * lowering by hand:
    *
    *  - all SIMPLE → [[plan]] (plain stateful aggregation)
    *  - + DEPENDENT, all complement-decomposable, no WINDOWED →
    *    [[planCrossGroup]]
    *  - any other WINDOWED / DEPENDENT mix → [[planKeyed]]
    *
    * Shapes outside every incremental class (genuinely unpinned
    * cross-group membership, non-subtractable complements, fractional
    * order attrs) propagate the specific lowering's rejection, which
    * names `microBatch(...)` — the full-expressiveness fallback. */
  def planAuto(q: EmfQuery, stream: DataFrame): StreamingPlan = {
    val (_, winVars, depVars) = EmfPlanner.classifyVars(q, stream.schema)
    if (winVars.isEmpty && depVars.isEmpty)
      StreamingPlan(plan(q, stream), usesSnapshot = false, "simple")
    else if (winVars.isEmpty && depVars.forall(EmfPlanner.complementShape(_, q).isDefined))
      StreamingPlan(planCrossGroup(q, stream), usesSnapshot = true, "cross-group")
    else
      StreamingPlan(planKeyed(q, stream), usesSnapshot = true, keyedClass(winVars, depVars))
  }

  /** The class a [[planKeyed]] query belongs to, as its rejections name it. */
  private def keyedClass(winVars: Seq[GroupingVar], depVars: Seq[GroupingVar]): String =
    if (depVars.isEmpty) "windowed" else if (winVars.isEmpty) "dependent" else "chained"

  /** Incremental lowering for all-SIMPLE queries. The returned streaming
    * DataFrame must be started in complete (or update) output mode. */
  def plan(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    require(q.vars.forall(EmfPlanner.isSimplePublic(_, q)),
      "streaming EMF supports SIMPLE variables only (equality on the full " +
        "grouping set); use microBatch(...) for windowed/dependent queries")
    val schema = stream.schema
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    val aggs = EmfPlanner.varZeroAndSimpleAggs(q.varZero, q.vars, schema)
    require(aggs.nonEmpty, "query has no aggregates")
    val mf = base.groupBy(q.groupAttrs.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val filtered = q.having.fold(mf)(h => mf.filter(EmfPlanner.havingColumn(h)))
    filtered.select(q.select.map(col): _*)
  }

  /** Full-expressiveness fallback: run the batch planner on each
    * micro-batch and hand the result to `sink`. */
  def microBatch(q: EmfQuery, stream: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    installLocalFs(stream)
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(EmfPlanner.plan(q, batch), id)
    }
  }

  // ---- state pieces shared by the incremental lowerings -------------------

  /** Exact partials of one aggregate slot: sum at scale 6 (BigInt
    * micro-units), non-null count, raw double min/max (floating slots)
    * and exact micro-unit min/max (integral slots — a double would round
    * longs above 2⁵³). Both a state cell and a combine over cells. */
  final class SlotAcc extends Serializable {
    var sumMicro: BigInt = BigInt(0)
    var cnt: Long = 0L
    var mn: Double = Double.PositiveInfinity
    var mx: Double = Double.NegativeInfinity
    var mnMic: Long = Long.MaxValue
    var mxMic: Long = Long.MinValue
    def add(a: SlotAcc): Unit = {
      sumMicro += a.sumMicro; cnt += a.cnt
      if (a.mn < mn) mn = a.mn
      if (a.mx > mx) mx = a.mx
      if (a.mnMic < mnMic) mnMic = a.mnMic
      if (a.mxMic > mxMic) mxMic = a.mxMic
    }
    def copy: SlotAcc = { val c = new SlotAcc; c.add(this); c }
  }

  /** Fold one exact (micro, raw) value into an accumulator. A defined
    * raw with an undefined micro means the decimal-6 projection nulled a
    * real value (NaN, Infinity, or |v| > ~9.2e12) — fail fast instead of
    * silently diverging from the batch planner. */
  private def fold(a: SlotAcc, micro: Option[Long], raw: Option[Double],
      slotName: String): Unit =
    (micro, raw) match {
      case (Some(m), Some(d)) =>
        a.sumMicro += m
        a.cnt += 1
        if (d < a.mn) a.mn = d
        if (d > a.mx) a.mx = d
        if (m < a.mnMic) a.mnMic = m
        if (m > a.mxMic) a.mxMic = m
      case (None, Some(d)) =>
        throw new IllegalStateException(
          s"streaming EMF: value $d of slot $slotName exceeds the exact " +
            "decimal-6 domain (finite, |v| <= 9.2e12)")
      case _ => ()
    }

  /** Strict-prefix and strict-suffix combines of slot `j` over `cells` in
    * their order: `pre(i) = ⊕ cells(0 until i)(j)` and
    * `suf(i) = ⊕ cells(i+1 until n)(j)`. One O(n) pass each serves every
    * window frame of a windowed slot and the all-but-self complement. */
  private def strictPrefixSuffix(cells: Array[Array[SlotAcc]], j: Int)
      : (Array[SlotAcc], Array[SlotAcc]) = {
    val n = cells.length
    val pre = new Array[SlotAcc](n)
    val suf = new Array[SlotAcc](n)
    var run = new SlotAcc
    var i = 0
    while (i < n) { pre(i) = run.copy; run.add(cells(i)(j)); i += 1 }
    run = new SlotAcc
    i = n - 1
    while (i >= 0) { suf(i) = run.copy; run.add(cells(i)(j)); i -= 1 }
    (pre, suf)
  }

  /** Hard cap on the entries of any one map in streaming EMF state:
    * distinct order values per key, distinct comparison values per
    * (slice, dependent slot), distinct anti values per complement key.
    * Each is bounded by a column's value DOMAIN (months, `quant`-like
    * columns — the corpus shapes), but nothing about the query form
    * itself enforces that. A near-unique column (a timestamp, an id)
    * would grow state without bound and surface as an executor OOM
    * hours in; failing fast at a width no domain-bounded column reaches
    * turns that into an immediate, named error (the broadcast-guard
    * convention, [[graft.ann.VectorKernels]]). Test-tunable so the
    * fail-fast is exercisable without 65k-row fixtures
    * (EmfStreamingSpec). */
  @volatile private[emf] var MaxHistBuckets = 65536

  /** The one state bound: fail fast with `msg`, which names the
    * unbounded domain, once a state map holds more than
    * [[MaxHistBuckets]] entries. */
  private def boundDomain(size: Int, msg: => String): Unit =
    if (size > MaxHistBuckets) throw new IllegalStateException(msg)

  /** One aggregate slot's metadata, closed over by the state function.
    * kind: 0 = varZero/SIMPLE (own-group value), 1 = WINDOWED,
    * 2 = DEPENDENT or complement. frameOp: the order comparison for
    * windowed slots ("<", "<=", ">", ">=", or "" for whole-partition
    * frames). */
  final case class SlotSpec(name: String, func: String,
      floating: Boolean, integral: Boolean, kind: Int, frameOp: String)

  /** A slot's spec plus the column it folds, guarded by its variable's
    * tuple conditions (driver side only). */
  private final case class SlotDef(spec: SlotSpec, src: String, cond: Option[Column]) {
    def guarded(c: String): Column = cond.fold(col(c))(when(_, col(c)))
    def value: Column = guarded(src)
  }

  /** Schema lookups and slot building of one lowering. A rejection names
    * the lowering's class (`cls`) and what it needs numeric (`what`). */
  private final class SlotCols(schema: StructType, cls: String, what: String) {
    def tpe(n: String): DataType =
      schema.find(_.name == n).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"unknown column $n"))
    def numeric(n: String): Unit = tpe(n) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"$cls streaming needs numeric $what; $n: $other")
    }
    def slot(a: AggSpec, cond: Option[Column], kind: Int = 0,
        frameOp: String = ""): SlotDef = {
      numeric(a.column)
      val t = tpe(a.column)
      SlotDef(SlotSpec(a.name, a.func, isFloat(t), isIntegral(t), kind, frameOp),
        a.column, cond)
    }
    /** The variable-0 and SIMPLE slots (kind 0), in query order. */
    def base(q: EmfQuery, simpleVars: Seq[GroupingVar]): Seq[SlotDef] =
      q.varZero.map(slot(_, None)) ++
        simpleVars.map(v => slot(v.agg, condOf(v, schema)))
    def field(n: String): StructField = StructField(n, tpe(n), nullable = true)
    def outField(s: SlotDef): StructField =
      StructField(s.spec.name, outType(s.spec, tpe(s.src)), nullable = true)
  }

  /** A value in exact decimal-6 micro-units (null outside that domain). */
  private def microOf(c: Column): Column =
    (c.cast("decimal(27,6)") * lit(1000000L)).cast("long")

  /** `cs` as one `array<t>` column, typed even when `cs` is empty. */
  private def arr(cs: Seq[Column], t: String): Column =
    array(cs.map(_.cast(t)): _*).cast(s"array<$t>")

  /** Typed rows from an emitter's `(json, ver)` stream: parse the JSON
    * with the output schema (stateless past the stateful op, allowed in
    * update mode). */
  private def fromJson(emitted: Dataset[(String, Long)],
      fields: Seq[StructField]): DataFrame =
    emitted.toDF("__json", "__ver")
      .select(from_json(col("__json"), StructType(fields)).as("r"), col("__ver"))
      .select(col("r.*"), col("__ver"))

  // ---- incremental KEYED lowering (windowed, dependent, chained) ---------

  final case class KeyedRow(k: String, o: Long,
      micro: Seq[Option[Long]], raw: Seq[Option[Double]],
      cmpM: Seq[Option[Long]], cmpR: Seq[Option[Double]],
      aggM: Seq[Option[Long]], aggR: Seq[Option[Double]])

  /** One histogram bucket: the comparison value's raw double (for
    * double-typed predicates) plus the aggregate partials of the tuples
    * holding that value. */
  final class HistCell(val raw: Double) extends Serializable {
    val acc = new SlotAcc
  }

  /** One order value's slice of a key's MF structure: the partials of
    * every variable-0/SIMPLE/WINDOWED slot, plus per dependent slot the
    * comparison-value histogram (keyed by exact micro-units). */
  final class Slice(val accs: Array[SlotAcc],
      val hists: Array[java.util.HashMap[java.lang.Long, HistCell]])
      extends Serializable

  /** State for one key: its slices by order value (a single constant
    * slice when the query has no windowed variable), plus an emission
    * version counter. */
  final class KeyedState extends Serializable {
    var ver: Long = 0L
    val slices = new java.util.HashMap[java.lang.Long, Slice]()
  }

  /** Metadata of one dependent slot: the comparison `tuple.cmp OP ref`,
    * which slot the threshold reads, and whether the comparison runs in
    * IEEE-double space (matching Spark's numeric promotion) or
    * exact-integer micro-unit space. */
  final case class DepMeta(op: String, refIdx: Int, cmpDouble: Boolean,
      refFunc: String, refFloating: Boolean)

  /** A dependent slot with its guarded comparison value (driver side). */
  private final case class DepDef(slot: SlotDef, cmp: Column, meta: DepMeta)

  private def eqAttrsOf(v: GroupingVar): Seq[String] = v.mfConds.collect {
    case Cond(TupleCol(a), "=" | "==", MfField(b)) if a == b => a
  }.distinct

  /** (order attr, op) of a windowed variable's order comparison. */
  private def orderOf(v: GroupingVar): Option[(String, String)] =
    v.mfConds.collectFirst {
      case Cond(TupleCol(a), op @ ("<" | "<=" | ">" | ">="), MfField(_)) => (a, op)
    }

  private def flip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case other => other
  }

  /** Incremental lowering for WINDOWED variables and DEPENDENT variables
    * that pin the full grouping set, over the keyed, ordered state model
    * of the object doc. Three classes share it, named by
    * [[EmfPlanner.classifyVars]]' partition:
    *
    *  - windowed (SIMPLE + WINDOWED; corpus q2/q3 — "months before/after
    *    this one"): the windowed variables share equality attrs E and
    *    order attr o with G = E ∪ {o}. The key is E; its slices hold no
    *    histograms.
    *  - dependent (varZero/SIMPLE + DEPENDENT; corpus q6 —
    *    `count_quant_2` counts the group's tuples with
    *    `quant > MF.avg_quant_1`): the key is G, with one constant slice
    *    and no order field in the rows.
    *  - chained (both; corpus q8 — `quant > MF.avg_quant_1` where
    *    avg_quant_1 itself windows over earlier months): keyed as
    *    windowed. The cross-group dependence travels only through the
    *    window frames, which are E-key-local.
    *
    * Each dependent variable compares one tuple column against ONE
    * earlier aggregate — variable-0/SIMPLE (its own group) or WINDOWED
    * (the chain). A micro-batch folds its rows into the key's slices
    * (O(batch)); emission re-emits every group of the key with window
    * frames recombined by one ascending/descending pass over the key's
    * sorted order values (the RANGE frames of the batch lowering,
    * evaluated over partials) and each dependent slot re-classified
    * against the threshold its referenced slot takes at that group — a
    * moved threshold flips historical tuples' membership with no history
    * re-scan. State per key is O(|order domain| × |comparison-value
    * domain|), each guarded by [[MaxHistBuckets]].
    *
    * Arithmetic matches [[EmfPlanner]]'s batch semantics bit-for-bit for
    * inputs with ≤ 6 decimal digits (the planner's decimal-exact
    * contract): sums/averages accumulate exactly and surface as
    * double/long exactly like the batch plan's decimal path. A comparison
    * runs in IEEE double if either side surfaces as double (avg;
    * sum/min/max of floating input; floating comparison column), as
    * Spark's numeric promotion does, and in exact integer micro-units
    * otherwise.
    *
    * Output: one row per (group, emission) in UPDATE mode with a
    * monotonically increasing `__ver` per key — a sink holding all
    * emissions reconstructs the current MF structure with [[snapshot]]
    * (latest `__ver` per group, then HAVING + SELECT). HAVING cannot be
    * applied pre-sink in update mode: a group leaving the HAVING set
    * emits no retraction, so the filter belongs on the snapshot. */
  def planKeyed(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.nonEmpty || depVars.nonEmpty,
      "no WINDOWED or DEPENDENT variable; use plan(...) for all-SIMPLE queries")
    val cls = keyedClass(winVars, depVars)
    val cols = new SlotCols(schema, cls,
      if (depVars.isEmpty) "aggregate columns" else "columns")
    // the state keys order values as longs: a fractional order attr
    // would merge values (1.4 and 1.5) the batch planner keeps apart.
    // The classifier demotes such a variable to DEPENDENT, so it is
    // looked for there and named before the dependent route's checks.
    val fractional = depVars.flatMap(EmfPlanner.nonIntegralOrderAttr(_, q, schema))
    require(fractional.isEmpty,
      s"windowed streaming order attribute '${fractional.head}' must be an " +
        s"integral type, got ${cols.tpe(fractional.head)} — fractional order " +
        "values would be truncated by the state key; use microBatch(...) instead")

    // ---- key: the windowed variables' shared equality attrs E, whose
    // shared order attr o completes G = E ∪ {o}; without windowed
    // variables, G itself
    val (keyAttrs, orderAttr) =
      if (winVars.isEmpty) (q.groupAttrs, None)
      else {
        val eqAttrs = eqAttrsOf(winVars.head)
        val o = winVars.flatMap(orderOf).headOption.map(_._1).getOrElse(
          throw new IllegalArgumentException(
            s"$cls streaming needs at least one order comparison"))
        winVars.foreach { v =>
          require(eqAttrsOf(v) == eqAttrs && orderOf(v).forall(_._1 == o),
            s"windowed variable ${v.agg.name} must share equality attrs " +
              s"$eqAttrs and order attr $o")
        }
        require(eqAttrs.nonEmpty, s"$cls streaming needs ≥ 1 equality attr")
        require(q.groupAttrs.toSet == (eqAttrs :+ o).toSet && !eqAttrs.contains(o),
          s"grouping set ${q.groupAttrs} must be exactly equality attrs " +
            s"$eqAttrs plus order attr $o")
        (eqAttrs, Some(o))
      }

    // ---- slots: varZero + SIMPLE (kind 0), WINDOWED (kind 1); only a
    // query without windowed variables can have none
    val slots = cols.base(q, simpleVars) ++ winVars.map(v =>
      cols.slot(v.agg, condOf(v, schema), 1, orderOf(v).fold("")(_._2)))
    require(slots.nonEmpty,
      "dependent streaming needs at least one variable-0/SIMPLE aggregate " +
        "(the threshold source); shapes without one need microBatch(...)")
    val specs = slots.map(_.spec).toArray
    val slotIdx = specs.map(_.name).zipWithIndex.toMap

    // ---- dependent slots (kind 2)
    val deps = depVars.map { v =>
      val slot = cols.slot(v.agg, condOf(v, schema), 2)
      val pins = eqAttrsOf(v)
      require(pins.toSet == q.groupAttrs.toSet,
        s"dependent variable ${v.agg.name} must pin the full grouping " +
          s"set ${q.groupAttrs} (got $pins); " +
          (if (winVars.isEmpty) "" else "unpinned ") +
          "cross-group membership needs microBatch(...)")
      val depConds = v.mfConds.filterNot {
        case Cond(TupleCol(a), "=" | "==", MfField(b)) => a == b
        case _ => false
      }
      require(depConds.size == 1,
        s"dependent variable ${v.agg.name} needs exactly one aggregate " +
          s"comparison, got ${depConds.size}")
      val (cmpCol, op, refName) = depConds.head match {
        case Cond(TupleCol(c), o, MfField(a)) if q.aggNames.contains(a) =>
          (c, o, a)
        case Cond(MfField(a), o, TupleCol(c)) if q.aggNames.contains(a) =>
          (c, flip(o), a)
        case other => throw new IllegalArgumentException(
          s"dependent variable ${v.agg.name}: unsupported membership " +
            s"condition $other")
      }
      val refIdx = slotIdx.getOrElse(refName,
        throw new IllegalArgumentException(
          s"dependent variable ${v.agg.name} references '$refName', " +
            (if (winVars.isEmpty)
              "which is not a variable-0/SIMPLE aggregate — chains onto " +
                "windowed aggregates run via planKeyed(...); deeper " +
                "chains need microBatch(...)"
            else
              "which is not a variable-0/SIMPLE/WINDOWED aggregate — " +
                "chains onto other dependent aggregates need microBatch(...)")))
      cols.numeric(cmpCol)
      val ref = specs(refIdx)
      val refOutDouble = ref.func == "avg" ||
        (ref.floating && Set("sum", "min", "max").contains(ref.func))
      val cmpDouble = refOutDouble || isFloat(cols.tpe(cmpCol))
      DepDef(slot, slot.guarded(cmpCol), DepMeta(op, refIdx, cmpDouble, ref.func, ref.floating))
    }

    // ---- input projection: key JSON, order value, slot values, per
    // dependent slot its comparison and aggregate values. A null order
    // value cannot key the state (batch treats it as a normal group): the
    // incremental path rejects it rather than dropping the row
    val order = orderAttr.fold(lit(0L)) { o =>
      coalesce(col(o).cast("long"),
        raise_error(lit(s"$cls streaming EMF: null $o — null order groups " +
          "need the batch planner (microBatch)")).cast("long"))
    }
    val projected = stream.filter(EmfPlanner.whereColumn(q.where, schema)).select(
      to_json(struct(keyAttrs.map(col): _*)).as("k"),
      order.as("o"),
      arr(slots.map(s => microOf(s.value)), "bigint").as("micro"),
      arr(slots.map(_.value), "double").as("raw"),
      arr(deps.map(d => microOf(d.cmp)), "bigint").as("cmpM"),
      arr(deps.map(_.cmp), "double").as("cmpR"),
      arr(deps.map(d => microOf(d.slot.value)), "bigint").as("aggM"),
      arr(deps.map(_.slot.value), "double").as("aggR"))
      .as[KeyedRow]

    // ---- the stateful combine
    val depSpecs = deps.map(_.slot.spec).toArray
    val depMeta = deps.map(_.meta).toArray
    implicit val stateEnc: Encoder[KeyedState] = Encoders.kryo[KeyedState]
    val emitted = projected
      .groupByKey(_.k)
      .flatMapGroupsWithState[KeyedState, (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedRow], state: GroupState[KeyedState]) =>
          val st = state.getOption.getOrElse(new KeyedState)
          rows.foreach { r =>
            var slice = st.slices.get(r.o)
            if (slice == null) {
              slice = new Slice(Array.fill(specs.length)(new SlotAcc),
                Array.fill(depSpecs.length)(
                  new java.util.HashMap[java.lang.Long, HistCell]()))
              st.slices.put(r.o, slice)
              boundDomain(st.slices.size,
                s"$cls streaming EMF: more than $MaxHistBuckets distinct order " +
                  "values in one group's state — the order attribute is not " +
                  "domain-bounded; state would grow with the stream. Use a batch " +
                  "EMF pass or bucket the order column.")
            }
            var i = 0
            while (i < specs.length) {
              fold(slice.accs(i), r.micro(i), r.raw(i), specs(i).name)
              i += 1
            }
            var j = 0
            while (j < depSpecs.length) {
              foldHist(slice.hists(j), r, j, depSpecs(j).name, cls)
              j += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitKeyed(key, st, specs, depSpecs, depMeta, orderAttr)
      }

    fromJson(emitted, keyAttrs.map(cols.field) ++ orderAttr.map(cols.field) ++
      (slots ++ deps.map(_.slot)).map(cols.outField))
  }

  /** Fold dependent slot `j` of row `r` into that slot's
    * comparison-value histogram. */
  private def foldHist(hist: java.util.HashMap[java.lang.Long, HistCell],
      r: KeyedRow, j: Int, slot: String, cls: String): Unit =
    (r.cmpM(j), r.aggM(j)) match {
      case (Some(cm), Some(am)) =>
        val raw = r.cmpR(j).get
        var cell = hist.get(cm)
        if (cell == null) {
          cell = new HistCell(raw)
          hist.put(cm, cell)
          boundDomain(hist.size,
            s"$cls streaming EMF: comparison-value histogram of slot $slot " +
              s"exceeds $MaxHistBuckets distinct values — the comparison " +
              "column is not domain-bounded; state would grow with the " +
              "stream. Use a batch EMF pass or bucket the comparison column.")
        } else if (cell.raw != raw &&
            !(java.lang.Double.isNaN(cell.raw) && java.lang.Double.isNaN(raw)))
          // a second double below decimal-6 resolution would silently
          // classify by the first-seen representative; fail loud instead
          // (the domain-guard convention). The both-NaN escape matters:
          // x != x is true for every NaN, so bare != would report two
          // identical NaNs as "distinct" values; IEEE == (not
          // Double.compare) keeps -0.0 == 0.0 passing
          throw new IllegalStateException(
            s"$cls streaming EMF: comparison values ${cell.raw} and $raw of " +
              s"slot $slot are distinct below the decimal-6 bucket resolution")
        fold(cell.acc, Some(am), r.aggR(j), slot)
      case (None, _) if r.cmpR(j).isDefined =>
        throw new IllegalStateException(
          s"$cls streaming EMF: comparison value ${r.cmpR(j).get} of slot " +
            s"$slot exceeds the exact decimal-6 domain (finite, |v| <= 9.2e12)")
      case (Some(_), None) if r.aggR(j).isDefined =>
        throw new IllegalStateException(
          s"$cls streaming EMF: value ${r.aggR(j).get} of slot $slot exceeds " +
            "the exact decimal-6 domain (finite, |v| <= 9.2e12)")
      case _ => () // tuple conds failed / null value: no contribution
    }

  /** Emit one JSON row per slice of the key: its order value (windowed
    * and chained keys), variable-0/SIMPLE slots from the slice's own
    * partials, WINDOWED slots as their frame over the key's sorted order
    * values (prefix/suffix pass ≡ the batch RANGE frames over per-group
    * partials), and each dependent slot as the histogram buckets passing
    * the threshold its referenced slot takes AT THAT GROUP. */
  private def emitKeyed(key: String, st: KeyedState, specs: Array[SlotSpec],
      depSpecs: Array[SlotSpec], depMeta: Array[DepMeta],
      orderAttr: Option[String]): Iterator[(String, Long)] = {
    val ordered = st.slices.keySet().asScala.map(_.longValue()).toArray.sorted
    val slices = ordered.map(o => st.slices.get(o))
    val cells = slices.map(_.accs)
    val frames = specs.indices.filter(specs(_).kind == 1)
      .map(j => j -> strictPrefixSuffix(cells, j)).toMap
    def combAt(j: Int, i: Int): SlotAcc = {
      val own = cells(i)(j)
      if (specs(j).kind == 0) own
      else {
        val (pre, suf) = frames(j)
        specs(j).frameOp match {
          case "<"  => pre(i)
          case "<=" => { val c = pre(i).copy; c.add(own); c }
          case ">"  => suf(i)
          case ">=" => { val c = suf(i).copy; c.add(own); c }
          case _    => { val c = pre(i).copy; c.add(own); c.add(suf(i)); c }
        }
      }
    }

    // key JSON == to_json(struct(key attrs)) — splice its fields into each row
    val keyInner = key.substring(1, key.length - 1)
    ordered.indices.map { i =>
      val sb = new StringBuilder(96).append('{').append(keyInner)
      def field(name: String, value: String): Unit = {
        if (sb.length > 1) sb.append(',')
        sb.append('"').append(name).append("\":").append(value)
      }
      orderAttr.foreach(field(_, ordered(i).toString))
      specs.indices.foreach(j => field(specs(j).name, render(specs(j), combAt(j, i))))
      depSpecs.indices.foreach { d =>
        val m = depMeta(d)
        val comb = new SlotAcc
        foldQualifying(comb, slices(i).hists(d), combAt(m.refIdx, i), m)
        field(depSpecs(d).name, render(depSpecs(d), comb))
      }
      (sb.append('}').toString, st.ver)
    }.iterator
  }

  /** Fold the histogram buckets whose comparison value passes the
    * threshold derived from `ref` (the referenced aggregate's current
    * combined partials) into `comb`. A NULL reference aggregate (empty
    * qualifying set, func != count) compares to nothing — the dependent
    * set stays empty, as in batch. */
  private def foldQualifying(comb: SlotAcc,
      hist: java.util.HashMap[java.lang.Long, HistCell],
      ref: SlotAcc, m: DepMeta): Unit =
    if (m.refFunc == "count" || ref.cnt > 0) {
      if (m.cmpDouble) {
        def sumD: Double =
          if (m.refFloating)
            new java.math.BigDecimal(ref.sumMicro.bigInteger, 6).doubleValue()
          else (ref.sumMicro / 1000000).toDouble
        val thr: Double = m.refFunc match {
          case "count" => ref.cnt.toDouble
          case "avg" => sumD / ref.cnt
          case "sum" => sumD
          case "min" => if (m.refFloating) ref.mn else (ref.mnMic / 1000000).toDouble
          case "max" => if (m.refFloating) ref.mx else (ref.mxMic / 1000000).toDouble
        }
        hist.values().asScala.foreach { cell =>
          if (cmpD(cell.raw, m.op, thr)) comb.add(cell.acc)
        }
      } else {
        val thr: BigInt = m.refFunc match {
          case "count" => BigInt(ref.cnt) * 1000000
          case "sum" => ref.sumMicro
          case "min" => BigInt(ref.mnMic)
          case "max" => BigInt(ref.mxMic)
          case other => throw new IllegalStateException(s"bad ref func $other")
        }
        hist.entrySet().asScala.foreach { e =>
          if (cmpI(BigInt(e.getKey.longValue()), m.op, thr)) comb.add(e.getValue.acc)
        }
      }
    }

  // ---- incremental CROSS-GROUP lowering (complement shape, corpus q4) ----

  final case class CrossRow(k: String, a: String,
      micro: Seq[Option[Long]], raw: Seq[Option[Double]])

  /** State for one equality key E (e.g. prod): one accumulator row per
    * anti-attribute value (e.g. cust) — the key's slice of the MF
    * structure. Base slots accumulate the group's own aggregates;
    * complement slots accumulate the group's OWN contribution, and
    * `complement(g) = ⊕_{g'≠g} own(g')` is computable at emission as an
    * all-but-self fold of the key's rows — no cross-key traffic, no
    * inverse needed (which is what admits min/max). */
  final class CrossState extends Serializable {
    var ver: Long = 0L
    val groups = new java.util.HashMap[String, Array[SlotAcc]]()
  }

  /** Incremental lowering for the cross-group COMPLEMENT shape (corpus
    * q4: `avg(quant) over tuples with the same prod but a DIFFERENT
    * cust`): varZero/SIMPLE variables plus DEPENDENT variables that are
    * complement-SHAPED ([[EmfPlanner.complementShape]] — equality on a
    * grouping subset E, exactly one same-attr `!=` on the remaining
    * grouping attr, any of sum/count/avg/min/max) with G = E ∪ {anti}.
    *
    * The membership of group (e, a) genuinely spans OTHER groups — the
    * shape [[planKeyed]] rejects — but the span is confined to groups
    * sharing e, so keying the state by E restores a key-local
    * sufficient statistic (E = ∅, the KEYLESS global complement, rides
    * the same machinery under one constant key — see the inline note on
    * why that is not a new scale class): per anti value, ONE accumulator row holding
    * the group's base aggregates and its own complement-slot
    * contribution; emission combines `complement(g) = ⊕_{g'≠g} own(g')`
    * all-but-self over the key's groups (prefix/suffix pass, see
    * [[emitCrossKey]]) — two-level state, O(groups-per-key), no history
    * re-scan. For sum/count/avg this is exactly the batch planner's
    * `total ⊖ own` subtraction; min/max have no inverse, and the
    * all-but-self combine is what makes them streamable here (the batch
    * planner reads them off the best / runner-up slice per key —
    * [[EmfPlanner.complementShape]]). Each
    * micro-batch touching a key re-emits ALL the key's groups: one new
    * (c₃, p) tuple moves the complement of every (cᵢ, p) group, and
    * those groups' revisions must reach the sink without any cᵢ row
    * arriving (the retraction the batch planner gets for free by
    * recomputing).
    *
    * Arithmetic matches the batch pass bit-for-bit within the decimal-6
    * exactness contract: exact micro-unit sums and counts; min/max over
    * integral slots in exact micro-units (doubles would round past
    * 2⁵³); an empty complement renders NULL for sum/avg/min/max and 0
    * for count. Output/emission contract (UPDATE mode, `__ver`,
    * [[snapshot]], HAVING on the snapshot) is identical to
    * [[planKeyed]]. State per key is O(|anti domain within the
    * key|) — the MF frame's own cardinality for that key — guarded by
    * the same fail-fast the keyed path uses. */
  def planCrossGroup(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.isEmpty,
      "incremental cross-group streaming supports variable-0/SIMPLE + " +
        "complement-decomposable DEPENDENT variables only; use " +
        "planKeyed(...) for windowed mixes or microBatch(...) beyond that")
    require(depVars.nonEmpty,
      "no DEPENDENT variable; use plan(...) for all-SIMPLE queries")

    val infos = depVars.map(v => v -> EmfPlanner.complementShape(v, q))
    infos.foreach { case (v, i) =>
      require(i.isDefined,
        s"dependent variable ${v.agg.name} is not complement-shaped " +
          "(equality on a grouping subset + exactly one same-attr !=); " +
          "use planKeyed(...) for own-group aggregate comparisons or " +
          "microBatch(...) beyond that")
    }
    val (eqAttrs, antiAttr) = infos.head._2.get
    infos.foreach { case (v, Some((e, a))) =>
      require(e.toSet == eqAttrs.toSet && a == antiAttr,
        s"complement variable ${v.agg.name} must share equality attrs " +
          s"$eqAttrs and anti attr $antiAttr; mixed complement keys need " +
          "microBatch(...)")
      case _ => ()
    }
    // eqAttrs MAY be empty — the KEYLESS global complement ("for each
    // cust: agg over every OTHER cust's tuples", corpus q4 minus its
    // equality pin). Every group's answer then moves when ANY group
    // changes, so the sufficient statistic is global by nature and the
    // lowering keys the whole structure under ONE constant state key:
    // the same two-level state, whose bound (one accumulator row per
    // anti value, the anti-domain fail-fast) is EXACTLY the keyed
    // path's single-hot-key worst case — no new scale class. On a real
    // cluster the constant key serializes input folding; the
    // distributed variant shards per-anti partials as a plain
    // streaming aggregation and pushes the all-but-self combine to the
    // snapshot side (PLANS.md §streaming) — same arithmetic, chosen
    // here for state-machinery reuse at the fixture's scale.
    require(!eqAttrs.contains(antiAttr),
      s"anti attr $antiAttr also appears in the equality set — the " +
        "membership is contradictory (always empty); use microBatch(...)")
    require(q.groupAttrs.toSet == (eqAttrs :+ antiAttr).toSet,
      s"grouping set ${q.groupAttrs} must be exactly equality attrs " +
        s"$eqAttrs plus anti attr $antiAttr; use microBatch(...)")

    // ---- slots: varZero + SIMPLE (kind 0), then complement (kind 2)
    val cols = new SlotCols(schema, "cross-group", "aggregate columns")
    val slots = cols.base(q, simpleVars) ++
      depVars.map(v => cols.slot(v.agg, condOf(v, schema), 2))
    val specs = slots.map(_.spec).toArray
    val nBase = specs.count(_.kind == 0)

    // ---- input projection: E-key JSON, anti-value JSON, slot values.
    // ignoreNullFields=false: a null key/anti field must keep its slot in
    // the JSON (default to_json DROPS null fields, which would splice a
    // malformed `{...,,...}` row and alias distinct null patterns)
    val keepNulls = Map("ignoreNullFields" -> "false")
    val keyCol =
      if (eqAttrs.isEmpty) lit("{}")
      else to_json(struct(eqAttrs.map(col): _*), keepNulls)
    val projected = stream.filter(EmfPlanner.whereColumn(q.where, schema)).select(
      keyCol.as("k"),
      to_json(struct(col(antiAttr)), keepNulls).as("a"),
      arr(slots.map(s => microOf(s.value)), "bigint").as("micro"),
      arr(slots.map(_.value), "double").as("raw"))
      .as[CrossRow]

    // ---- the stateful combine
    implicit val stateEnc: Encoder[CrossState] = Encoders.kryo[CrossState]
    val emitted = projected
      .groupByKey(_.k)
      .flatMapGroupsWithState[CrossState, (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[CrossRow], state: GroupState[CrossState]) =>
          val st = state.getOption.getOrElse(new CrossState)
          rows.foreach { r =>
            var cells = st.groups.get(r.a)
            if (cells == null) {
              cells = Array.fill(specs.length)(new SlotAcc)
              st.groups.put(r.a, cells)
              boundDomain(st.groups.size,
                s"cross-group streaming EMF: more than $MaxHistBuckets distinct " +
                  "anti-attribute values in one key's state — the anti attribute " +
                  "is not domain-bounded within its equality key; state would " +
                  "grow with the stream. Use a batch EMF pass instead.")
            }
            var i = 0
            while (i < specs.length) {
              fold(cells(i), r.micro(i), r.raw(i), specs(i).name)
              i += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitCrossKey(key, st, specs, nBase)
      }

    fromJson(emitted, eqAttrs.map(cols.field) ++ Seq(cols.field(antiAttr)) ++
      slots.map(cols.outField))
  }

  /** Cluster-scale SHARDED lowering of the KEYLESS (E = ∅) global
    * complement — the PLANS.md §planCrossGroup distributed variant,
    * here as tested code. [[planCrossGroup]] runs the keyless shape
    * under ONE constant state key, which is correct but serializes
    * input folding at one reduction point; this form keeps folding
    * horizontal: the streaming plan is a PLAIN aggregation keyed by
    * the anti attribute (per-anti-value partials — own scan-0 slots
    * plus, per complement variable, exact sum/count partials on the
    * batch planner's DECIMAL path and min/max partials), so state
    * shards across executors like any streaming groupBy and nothing
    * quadratic or global ever lives in state. The forced single
    * reduction point (the statistic is global by nature — every
    * group's answer moves when any group changes) is paid at RENDER:
    * [[snapshotShardedKeyless]] combines all-but-self over the ≤
    * |anti domain| latest partial rows — `total ⊖ own` for
    * sum/count/avg on the same exact arithmetic as
    * [[EmfPlanner.complementPass]], an anti-ordered strict-prefix ⊕
    * strict-suffix window pair for the non-subtractable min/max.
    * Sharded ≡ constant-key ≡ batch is pinned per emission step by
    * EmfStreamingSpec. Emits one `__nrows` column (the key's running
    * row count, strictly increasing per emission) as the snapshot's
    * latest-version marker. */
  def planCrossGroupShardedKeyless(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val schema = stream.schema
    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.isEmpty, "sharded keyless lowering: no WINDOWED mix")
    require(depVars.nonEmpty, "no DEPENDENT variable; use plan(...)")
    val infos = depVars.map(v => EmfPlanner.complementShape(v, q))
    require(infos.forall(_.isDefined),
      "sharded keyless lowering needs complement-shaped variables only")
    val antiAttr = infos.head.get._2
    require(infos.forall(i => i.get._1.isEmpty && i.get._2 == antiAttr),
      s"sharded lowering is the KEYLESS (E = ∅) form on one anti attr; " +
        s"got ${infos.map(_.get)}")
    require(q.groupAttrs == Seq(antiAttr),
      s"keyless complement groups by exactly the anti attr $antiAttr")
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    val ownAggs = EmfPlanner.varZeroAndSimpleAggs(q.varZero, simpleVars, schema)
    val partialAggs = depVars.zipWithIndex.flatMap { case (v, i) =>
      val c0 = col(v.agg.column)
      val guarded = condOf(v, schema).map(c => when(c, c0)).getOrElse(c0)
      val floating = EmfPlanner.isFloating(v.agg.column, schema)
      val sumIn = if (floating) guarded.cast(EmfPlanner.exactDec) else guarded
      // the partial's NAME records the isFloating decision (`__sf_` =
      // floating source riding the exact-DECIMAL surrogate, `__s_` =
      // native type): the snapshot must not infer it from the sink's
      // DecimalType, or a natively-DECIMAL source would be misread as
      // floating and its sum cast to double at render, diverging from
      // EmfPlanner.complementPass which keeps native decimals un-cast
      Seq(sum(sumIn).as(if (floating) s"__sf_$i" else s"__s_$i"),
        count(guarded).as(s"__c_$i"),
        min(guarded).as(s"__mn_$i"), max(guarded).as(s"__mx_$i"))
    }
    val aggs = ownAggs ++ partialAggs :+ count(lit(1)).as("__nrows")
    base.groupBy(col(antiAttr)).agg(aggs.head, aggs.tail: _*)
  }

  /** Render the current MF structure from a sink table of
    * [[planCrossGroupShardedKeyless]] partial rows: latest partials per
    * anti value (max `__nrows`), then the all-but-self combine per
    * complement variable, HAVING, and the SELECT list — the batch
    * planner's output, recomputed from sharded state. The combine is a
    * single pass over ≤ |anti domain| rows: exactly the O(|MF|) render
    * cost the PLANS.md design prices in. */
  def snapshotShardedKeyless(partials: DataFrame, q: EmfQuery): DataFrame = {
    val antiAttr = q.groupAttrs.head
    val wLatest = Window.partitionBy(col(antiAttr)).orderBy(col("__nrows").desc)
    var latest = partials.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn", "__nrows")
    // same order as classifyVars' partition — q.vars order preserved
    val depVars = q.vars.filter(v =>
      !EmfPlanner.isSimplePublic(v, q) &&
        EmfPlanner.complementShape(v, q).isDefined)
    // both combines are STRICT-PREFIX frames: the suffix side runs as a
    // prefix under DESCENDING order — same row set as
    // `rowsBetween(1, unboundedFollowing)` ascending, but Spark's
    // UnboundedPreceding frame accumulates incrementally (O(n)) where
    // UnboundedFollowing RECOMPUTES the frame per row (O(n²): measured
    // as a 55-minute hang in UnboundedFollowingWindowFunctionFrame at
    // sf10's 1.5M-customer anti domain; the spec's 15k domain hid it)
    val wPre = Window.orderBy(col(antiAttr))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPost = Window.orderBy(col(antiAttr).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    depVars.zipWithIndex.foreach { case (v, i) =>
      val value = v.agg.func match {
        case "min" =>
          least(min(col(s"__mn_$i")).over(wPre), min(col(s"__mn_$i")).over(wPost))
        case "max" =>
          greatest(max(col(s"__mx_$i")).over(wPre), max(col(s"__mx_$i")).over(wPost))
        case f =>
          // total ⊖ own on the exact partials — EmfPlanner.complementPass
          // verbatim, with the one-row totals as window aggregates over
          // the whole latest frame instead of a cross join
          val wAll = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
          // the planner's isFloating decision rides the partial's NAME
          // (`__sf_` = floating via the exact-DECIMAL surrogate, cast
          // back to double at render; `__s_` = native type, un-cast) —
          // inferring it from the sink's DecimalType would misread a
          // natively-DECIMAL source column as floating
          val floating = partials.columns.contains(s"__sf_$i")
          val sName = if (floating) s"__sf_$i" else s"__s_$i"
          val sumDiff = coalesce(sum(col(sName)).over(wAll), lit(0)) -
            coalesce(col(sName), lit(0))
          val cntDiff = coalesce(sum(col(s"__c_$i")).over(wAll), lit(0L)) -
            coalesce(col(s"__c_$i"), lit(0L))
          f match {
            case "count" => cntDiff
            case "sum" =>
              val s = when(cntDiff > 0, sumDiff)
              if (floating) s.cast("double") else s
            case "avg" => when(cntDiff > 0, sumDiff.cast("double") / cntDiff)
          }
      }
      latest = latest.withColumn(v.agg.name, value)
    }
    val dropped = depVars.indices.flatMap(i =>
      Seq(s"__s_$i", s"__sf_$i", s"__c_$i", s"__mn_$i", s"__mx_$i"))
    val cleaned = latest.drop(dropped: _*)
    q.having.fold(cleaned)(h => cleaned.filter(EmfPlanner.havingColumn(h)))
      .select(q.select.map(col): _*)
  }

  /** Emit one JSON row per (key, anti value): base slots straight from
    * the group's accumulators; complement slots combine ALL-BUT-SELF over
    * the key's per-group partials — `complement(gᵢ) = ⊕_{j≠i} own(gⱼ)`,
    * rendered from a strict-prefix ⊕ strict-suffix pair per slot (the
    * windowed frames' own recombination, O(groups) total). For
    * sum/count/avg this equals [[EmfPlanner.complementPass]]'s
    * `total ⊖ own` subtraction over exact partials bit-for-bit; for
    * min/max it is the identity that subtraction CANNOT express (min has
    * no inverse), which is what lets non-subtractable complements stream
    * incrementally — the round-12 residue this closed. */
  private def emitCrossKey(key: String, st: CrossState,
      specs: Array[SlotSpec], nBase: Int): Iterator[(String, Long)] = {
    val entries = st.groups.entrySet().asScala.toArray
    val cells = entries.map(_.getValue)
    val comps = (nBase until specs.length).map(strictPrefixSuffix(cells, _))
    val keyInner = key.substring(1, key.length - 1)
    entries.indices.map { i =>
      val anti = entries(i).getKey
      val sb = new StringBuilder(96).append('{')
      if (keyInner.nonEmpty) sb.append(keyInner).append(',')
      sb.append(anti.substring(1, anti.length - 1))
      specs.indices.foreach { j =>
        val v =
          if (j < nBase) cells(i)(j)
          else { val (pre, suf) = comps(j - nBase); val c = pre(i).copy; c.add(suf(i)); c }
        sb.append(",\"").append(specs(j).name).append("\":").append(render(specs(j), v))
      }
      (sb.append('}').toString, st.ver)
    }.iterator
  }

  private def cmpD(l: Double, op: String, r: Double): Boolean = op match {
    case "<" => l < r; case "<=" => l <= r
    case ">" => l > r; case ">=" => l >= r
    case "=" | "==" => l == r; case "<>" | "!=" => l != r
    case other => throw new IllegalArgumentException(s"bad op $other")
  }
  private def cmpI(l: BigInt, op: String, r: BigInt): Boolean = op match {
    case "<" => l < r; case "<=" => l <= r
    case ">" => l > r; case ">=" => l >= r
    case "=" | "==" => l == r; case "<>" | "!=" => l != r
    case other => throw new IllegalArgumentException(s"bad op $other")
  }

  /** Current MF structure from a sink table of [[planKeyed]] or
    * [[planCrossGroup]] emissions:
    * latest `__ver` per group, then HAVING, then the SELECT list. */
  def snapshot(emissions: DataFrame, q: EmfQuery): DataFrame = {
    val w = Window.partitionBy(q.groupAttrs.map(col): _*)
      .orderBy(col("__ver").desc)
    val latest = emissions.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__ver")
    q.having.fold(latest)(h => latest.filter(EmfPlanner.havingColumn(h)))
      .select(q.select.map(col): _*)
  }

  // ---- helpers -------------------------------------------------------------

  private def condOf(v: GroupingVar, schema: StructType): Option[Column] =
    if (v.tupleConds.isEmpty) None
    else Some(EmfPlanner.whereColumn(v.tupleConds, schema))

  private def isFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true; case _ => false
  }
  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }

  /** Output type per slot — identical to the batch planner's:
    * count → long; avg → double; sum → double (floating input, via the
    * exact-decimal path) / long (integral); min/max → input type. */
  private def outType(s: SlotSpec, in: DataType): DataType = s.func match {
    case "count" => LongType
    case "avg"   => DoubleType
    case "sum"   => if (s.floating) DoubleType else LongType
    case _       => in // min/max
  }

  /** Render one aggregate value — same null/zero semantics and arithmetic
    * as the batch lowering (sum/min/max over an empty set → null; count →
    * 0; avg guards the zero denominator). */
  private def render(s: SlotSpec, c: SlotAcc): String = s.func match {
    case "count" => c.cnt.toString
    case "sum" =>
      if (c.cnt == 0) "null"
      else if (s.floating)
        java.lang.Double.toString(
          new java.math.BigDecimal(c.sumMicro.bigInteger, 6).doubleValue())
      else (c.sumMicro / 1000000).toString
    case "avg" =>
      if (c.cnt == 0) "null"
      else {
        val sum =
          if (s.floating)
            new java.math.BigDecimal(c.sumMicro.bigInteger, 6).doubleValue()
          else (c.sumMicro / 1000000).toDouble
        java.lang.Double.toString(sum / c.cnt)
      }
    case "min" =>
      if (c.cnt == 0) "null"
      else if (s.integral) (c.mnMic / 1000000).toString // exact above 2^53
      else java.lang.Double.toString(c.mn)
    case "max" =>
      if (c.cnt == 0) "null"
      else if (s.integral) (c.mxMic / 1000000).toString
      else java.lang.Double.toString(c.mx)
  }
}
