package graft.emf

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.GenericRow
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
  *  - Every other incremental class lowers to `flatMapGroupsWithState`
  *    over ONE keyed, sliced state model — [[planKeyed]]: key → slice
  *    value → (slot partials, comparison-value histograms). WINDOWED
  *    variables and DEPENDENT variables that pin the full grouping set
  *    (corpus q2/q3 windows, q6's `quant > MF.avg_quant_1` within the
  *    group, q8's dependent-on-windowed chain) key the state by the
  *    windowed variables' shared equality attrs E and slice it by their
  *    shared order attr o (G = E ∪ {o}); a query without windowed
  *    variables is keyed by G with one constant slice. Cross-group
  *    COMPLEMENT variables (corpus q4: equality on a grouping subset E
  *    plus one same-attr `!=`, ANY of the five aggregates) key it by E
  *    and slice it by the anti attr: the cross-group span is confined to
  *    groups sharing E, so the key holds a key-local sufficient
  *    statistic. Per slice the state holds the exact partials of every
  *    variable-0/SIMPLE/WINDOWED/complement aggregate and, per
  *    dependent variable, a histogram from comparison value to the
  *    aggregate partials of the tuples holding it — the minimal
  *    sufficient statistic, because a moving threshold re-classifies
  *    EVERY historical tuple. A micro-batch folds its rows in (O(batch),
  *    no history re-scan); emission re-emits every group of a touched
  *    key, recombining window frames and complements (all-but-self) by
  *    one prefix/suffix pass over the key's slices and folding each
  *    group's histogram range that passes the threshold its referenced
  *    aggregate takes AT THAT GROUP. State is bounded by the slice
  *    domain × the comparison-value domain per key.
  *
  *    The KEYLESS complement (E = ∅ — "each group vs every other
  *    group") has no key to confine it: every group's answer moves when
  *    ANY group changes. [[planAuto]] lowers it to a plain streaming
  *    aggregation of per-anti-value partials, which shards across
  *    executors like any streaming groupBy, and [[snapshot]] pays the
  *    forced global reduction at render, as an all-but-self combine over
  *    at most |anti domain| partial rows.
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
  *
  * Execution form. A stream's session conf is fixed when it starts (Spark
  * clones the session its frame is bound to), so the compiled or
  * interpreted form [[EmfPlanner]] picks per batch query is picked here
  * before the stream starts, by the same interpret gate
  * ([[graft.Gates.interpret]], `spark.graft.emf.interpret.maxBytes`,
  * T = 4 MiB). A file-source stream is probed by the bytes its path holds
  * at plan time ([[graft.Gates.sourceBytes]]); any other source (memory,
  * rate, Kafka) counts as unbounded. 0 forces the compiled form and
  * Long.MaxValue the interpreted one. Below T every public lowering
  * returns its frame bound to [[EmfPlanner]]'s interpreted session copy,
  * so the stream's own session, and the micro-batches a `foreachBatch`
  * sink receives, run with codegen off from the first trigger. In the
  * compiled form each stream recompiles its plan on its first trigger:
  * its cloned session has its own classloader and misses Spark's codegen
  * cache (perfbench `stream`: 11–21 compiles and 270–600 ms per case).
  * Results are the same in both forms (EmfStreamingPropertySpec runs its
  * fuzzes in both). The binding has two visible costs: a started query
  * belongs to the copy's `StreamingQueryManager`
  * (`sp.df.sparkSession.streams`), not the caller's, and a memory sink
  * registers its table in the copy (`sp.df.sparkSession.table(name)`).
  * The form is fixed for the life of the query: a source that grows past
  * T after the start keeps the interpreted form until the stream
  * restarts.
  *
  * State keys are typed: [[planKeyed]] groups by the key columns
  * themselves and emits typed rows, so a key is an `UnsafeRow` of its
  * attributes in the shuffle, the sort and the state store. A checkpoint
  * restarts only under the state layout that wrote it.
  */
object EmfStreaming {

  /** What [[planAuto]] returns: the lowered streaming frame plus its
    * consumption contract. `usesSnapshot` = an update-mode sink holds
    * the frame's rows — `__ver` emissions of the [[planKeyed]] classes,
    * or the keyless class's per-anti-value partial rows — and
    * [[snapshot]] renders the current MF structure from them (HAVING
    * applies there); otherwise the frame is a plain streaming
    * aggregation whose complete-mode sink IS the result (HAVING already
    * applied). `lowering` names the class the query was routed as:
    * "simple", "windowed", "dependent", "chained", "cross-group" or
    * "keyless". `form` is the execution form the interpret gate chose
    * ("interpreted" or "compiled"), `sourceBytes` the bytes it probed
    * (None: a source of unknown size). */
  final case class StreamingPlan(df: DataFrame, usesSnapshot: Boolean, lowering: String,
      form: String, sourceBytes: Option[BigInt])

  /** Entry of every public lowering: the stream's session commits its
    * checkpoints through [[graft.io.LocalFs]] (see the object doc). */
  private def installLocalFs(stream: DataFrame): Unit =
    graft.io.LocalFs.install(stream.sparkSession)

  /** Exit of every public lowering: `lowered` in the execution form the
    * interpret gate chose (see the object doc). The interpreted copy is
    * re-synced from the stream's session after [[installLocalFs]], so it
    * carries the checkpoint filesystem too. */
  private def inForm(lowered: DataFrame, interpret: Boolean): DataFrame =
    if (interpret) EmfPlanner.interpreted(lowered) else lowered

  /** Route a query to its cheapest incremental lowering — the same
    * classification the batch planner uses, so callers never pick a
    * lowering by hand ([[keyedClass]]):
    *
    *  - all SIMPLE → [[plan]] (plain stateful aggregation)
    *  - keyless complement → per-anti-value partials, rendered by
    *    [[snapshot]] (see the object doc)
    *  - any other WINDOWED / DEPENDENT mix → [[planKeyed]]
    *
    * Shapes outside every incremental class (genuinely unpinned
    * cross-group membership, fractional order attrs) propagate the
    * lowering's rejection, which names `microBatch(...)` — the
    * full-expressiveness fallback. The source is probed once, and the
    * probe is reported in the plan. */
  def planAuto(q: EmfQuery, stream: DataFrame): StreamingPlan = {
    val cls = keyedClass(q, stream.schema)
    val lowered = cls match {
      case "simple" => simpleFrame(q, stream)
      case "keyless" => keylessFrame(q, stream)
      case _ => keyedFrame(q, stream)
    }
    val bytes = graft.Gates.sourceBytes(stream)
    val interpret = graft.Gates.interpret(stream.sparkSession, bytes)
    StreamingPlan(inForm(lowered, interpret), cls != "simple", cls,
      if (interpret) "interpreted" else "compiled", bytes)
  }

  /** The class a query streams as, named as its rejections name it:
    * "simple", the [[planKeyed]] classes "windowed", "dependent",
    * "chained" and "cross-group" (every dependent variable
    * complement-shaped, [[EmfPlanner.complementShape]]), or "keyless"
    * (complement variables without an equality attr). `schema` is the
    * stream's or a sink's: they agree on the grouping attrs, the only
    * columns the classification reads types of. */
  private def keyedClass(q: EmfQuery, schema: StructType): String = {
    val (_, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    val complements = depVars.map(EmfPlanner.complementShape(_, q))
    if (depVars.isEmpty) (if (winVars.isEmpty) "simple" else "windowed")
    else if (winVars.nonEmpty) "chained"
    else if (complements.contains(None)) "dependent"
    else if (complements.forall(_.get._1.isEmpty)) "keyless"
    else "cross-group"
  }

  /** Incremental lowering for all-SIMPLE queries. The returned streaming
    * DataFrame must be started in complete (or update) output mode. */
  def plan(q: EmfQuery, stream: DataFrame): DataFrame =
    inForm(simpleFrame(q, stream), graft.Gates.interpret(stream))

  private def simpleFrame(q: EmfQuery, stream: DataFrame): DataFrame = {
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
    inForm(stream, graft.Gates.interpret(stream)).writeStream.foreachBatch {
      (batch: DataFrame, id: Long) => sink(EmfPlanner.plan(q, batch), id)
    }
  }

  // ---- state pieces ---------------------------------------------------------

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

  /** Fold one exact value — its micro-units and raw double, each null
    * where the row contributes nothing — into an accumulator. A raw
    * value without micro-units means the decimal-6 projection nulled a
    * real value (NaN, Infinity, or |v| > ~9.2e12) — fail fast instead of
    * silently diverging from the batch planner. */
  private def fold(a: SlotAcc, micro: Any, raw: Any, slotName: String): Unit =
    if (raw != null) {
      if (micro == null) throw new IllegalStateException(
        s"streaming EMF: value $raw of slot $slotName exceeds the exact " +
          "decimal-6 domain (finite, |v| <= 9.2e12)")
      val m = micro.asInstanceOf[Long]
      val d = raw.asInstanceOf[Double]
      a.sumMicro += m
      a.cnt += 1
      if (d < a.mn) a.mn = d
      if (d > a.mx) a.mx = d
      if (m < a.mnMic) a.mnMic = m
      if (m > a.mxMic) a.mxMic = m
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
    * distinct slice values (order or anti values) per key, distinct
    * comparison values per (slice, dependent slot). Each is bounded by a
    * column's value DOMAIN (months, `quant`-like columns — the corpus
    * shapes), but nothing about the query form itself enforces that. A
    * near-unique column (a timestamp, an id) would grow state without
    * bound and surface as an executor OOM hours in; failing fast at a
    * width no domain-bounded column reaches turns that into an
    * immediate, named error (the broadcast-guard convention,
    * [[graft.ann.VectorKernels]]). Test-tunable so the fail-fast is
    * exercisable without 65k-row fixtures (EmfStreamingSpec). */
  @volatile private[emf] var MaxHistBuckets = 65536

  /** The one state bound: fail fast with `msg`, which names the
    * unbounded domain, once a state map holds more than
    * [[MaxHistBuckets]] entries. */
  private def boundDomain(size: Int, msg: => String): Unit =
    if (size > MaxHistBuckets) throw new IllegalStateException(msg)

  /** One aggregate slot's metadata, closed over by the state function.
    * kind: 0 = varZero/SIMPLE (own-group value), 1 = a frame over the
    * key's slices (WINDOWED or complement), 2 = DEPENDENT. frameOp: the
    * frame of a kind-1 slot — an order comparison ("<", "<=", ">", ">="),
    * "" for a whole-partition frame, or "!=" for all-but-self (the
    * complement). */
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

  // ---- incremental KEYED lowering --------------------------------------------

  /** One histogram bucket: the comparison value's raw double (for
    * double-typed predicates) plus the aggregate partials of the tuples
    * holding that value. */
  final class HistCell(val raw: Double) extends Serializable {
    val acc = new SlotAcc
  }

  /** One slice value's share of a key's MF structure: the partials of
    * every variable-0/SIMPLE/frame slot, plus per dependent slot the
    * comparison-value histogram (keyed by exact micro-units); `hists` is
    * null in a class without dependent slots. */
  final class Slice(val accs: Array[SlotAcc],
      val hists: Array[java.util.HashMap[java.lang.Long, HistCell]])
      extends Serializable

  /** State for one key: its slices by slice value — an order value, an
    * anti value (null included) or the one constant slice of the
    * dependent class — plus an emission version counter. */
  final class KeyedState extends Serializable {
    var ver: Long = 0L
    val slices = new java.util.HashMap[Any, Slice]()
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

  /** The equality attrs E and anti attr of a query whose dependent
    * variables are all complement-shaped: every variable shares them,
    * and G = E ∪ {anti}. */
  private def complementKey(q: EmfQuery, depVars: Seq[GroupingVar])
      : (Seq[String], String) = {
    val shapes = depVars.map(v => v -> EmfPlanner.complementShape(v, q).get)
    val (eqAttrs, antiAttr) = shapes.head._2
    shapes.foreach { case (v, (e, a)) =>
      require(e.toSet == eqAttrs.toSet && a == antiAttr,
        s"complement variable ${v.agg.name} must share equality attrs " +
          s"$eqAttrs and anti attr $antiAttr; mixed complement keys need " +
          "microBatch(...)")
    }
    require(!eqAttrs.contains(antiAttr),
      s"anti attr $antiAttr also appears in the equality set — the " +
        "membership is contradictory (always empty); use microBatch(...)")
    require(q.groupAttrs.toSet == (eqAttrs :+ antiAttr).toSet,
      s"grouping set ${q.groupAttrs} must be exactly equality attrs " +
        s"$eqAttrs plus anti attr $antiAttr; use microBatch(...)")
    (eqAttrs, antiAttr)
  }

  /** Incremental lowering for WINDOWED, DEPENDENT and cross-group
    * COMPLEMENT variables over the keyed, sliced state model of the
    * object doc. Four classes share it, named by [[keyedClass]]:
    *
    *  - windowed (SIMPLE + WINDOWED; corpus q2/q3 — "months before/after
    *    this one"): the windowed variables share equality attrs E and
    *    order attr o with G = E ∪ {o}. The key is E, sliced by o; its
    *    slices hold no histograms.
    *  - dependent (varZero/SIMPLE + DEPENDENT; corpus q6 —
    *    `count_quant_2` counts the group's tuples with
    *    `quant > MF.avg_quant_1`): the key is G, with one constant slice
    *    and no slice field in the rows.
    *  - chained (both; corpus q8 — `quant > MF.avg_quant_1` where
    *    avg_quant_1 itself windows over earlier months): keyed as
    *    windowed. The cross-group dependence travels only through the
    *    window frames, which are E-key-local.
    *  - cross-group (varZero/SIMPLE + complement-shaped DEPENDENT; corpus
    *    q4 — `avg(quant)` over tuples with the same prod but a DIFFERENT
    *    cust): the key is E, sliced by the anti attr, and each complement
    *    variable is a frame slot whose frame is all-but-self:
    *    `complement(g) = ⊕_{g'≠g} own(g')`. For sum/count/avg this is
    *    exactly the batch planner's `total ⊖ own` subtraction; min/max
    *    have no inverse, and the all-but-self combine is what makes them
    *    streamable (the batch planner reads them off the best /
    *    runner-up slice per key). One new (c₃, p) tuple moves the
    *    complement of every (cᵢ, p) group, and re-emitting every group
    *    of the touched key carries those revisions to the sink without
    *    any cᵢ row arriving. The keyless complement (E = ∅) is not a
    *    keyed shape: [[planAuto]] lowers it.
    *
    * Each dependent variable compares one tuple column against ONE
    * earlier aggregate — variable-0/SIMPLE (its own group) or WINDOWED
    * (the chain). A micro-batch folds its rows into the key's slices
    * (O(batch)); emission re-emits every group of the key with frames
    * recombined by one ascending/descending pass over the key's slices
    * (sorted by order value; the RANGE frames of the batch lowering,
    * evaluated over partials) and each dependent slot re-classified
    * against the threshold its referenced slot takes at that group — a
    * moved threshold flips historical tuples' membership with no history
    * re-scan. State per key is O(|slice domain| × |comparison-value
    * domain|), each guarded by [[MaxHistBuckets]].
    *
    * Arithmetic matches [[EmfPlanner]]'s batch semantics bit-for-bit for
    * inputs with ≤ 6 decimal digits (the planner's decimal-exact
    * contract): sums/averages accumulate exactly and surface as
    * double/long exactly like the batch plan's decimal path; min/max
    * over integral slots stay in exact micro-units; an empty frame or
    * complement renders NULL for sum/avg/min/max and 0 for count. A
    * comparison runs in IEEE double if either side surfaces as double
    * (avg; sum/min/max of floating input; floating comparison column),
    * as Spark's numeric promotion does, and in exact integer micro-units
    * otherwise.
    *
    * Output: one row per (group, emission) in UPDATE mode with a
    * monotonically increasing `__ver` per key — a sink holding all
    * emissions reconstructs the current MF structure with [[snapshot]]
    * (latest `__ver` per group, then HAVING + SELECT). HAVING cannot be
    * applied pre-sink in update mode: a group leaving the HAVING set
    * emits no retraction, so the filter belongs on the snapshot. */
  def planKeyed(q: EmfQuery, stream: DataFrame): DataFrame =
    inForm(keyedFrame(q, stream), graft.Gates.interpret(stream))

  private def keyedFrame(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.nonEmpty || depVars.nonEmpty,
      "no WINDOWED or DEPENDENT variable; use plan(...) for all-SIMPLE queries")
    val cls = keyedClass(q, schema)
    require(cls != "keyless",
      "a keyless complement (no equality attr) has no state key; planAuto(...) " +
        "lowers it to per-anti-value partials")
    // complement variables are frames over the key's anti values; the
    // other dependent variables compare against a threshold
    val complement = cls == "cross-group"
    val (frameVars, cmpVars) = if (complement) (depVars, Nil) else (winVars, depVars)
    val cols = new SlotCols(schema, cls,
      if (cmpVars.isEmpty) "aggregate columns" else "columns")
    // the state slices order values exactly: a fractional order attr
    // would merge values (1.4 and 1.5) the batch planner keeps apart.
    // The classifier demotes such a variable to DEPENDENT, so it is
    // looked for there and named before the dependent route's checks.
    val fractional = cmpVars.flatMap(EmfPlanner.nonIntegralOrderAttr(_, q, schema))
    require(fractional.isEmpty,
      s"windowed streaming order attribute '${fractional.head}' must be an " +
        s"integral type, got ${cols.tpe(fractional.head)} — fractional order " +
        "values would be truncated by the state key; use microBatch(...) instead")

    // ---- key and slice attr: a complement's E and anti attr; the
    // windowed variables' shared equality attrs E and order attr o
    // (G = E ∪ {o}); without either, G itself and one constant slice
    val (keyAttrs, sliceAttr) =
      if (complement) { val (e, a) = complementKey(q, depVars); (e, Some(a)) }
      else if (winVars.isEmpty) (q.groupAttrs, None)
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
    val ordered = sliceAttr.isDefined && !complement

    // ---- slots: varZero + SIMPLE (kind 0), frames (kind 1); only a
    // query without frame variables can have none
    val slots = cols.base(q, simpleVars) ++ frameVars.map(v =>
      cols.slot(v.agg, condOf(v, schema), 1,
        if (complement) "!=" else orderOf(v).fold("")(_._2)))
    require(slots.nonEmpty,
      "dependent streaming needs at least one variable-0/SIMPLE aggregate " +
        "(the threshold source); shapes without one need microBatch(...)")
    val specs = slots.map(_.spec).toArray
    val slotIdx = specs.map(_.name).zipWithIndex.toMap

    // ---- dependent slots (kind 2)
    val deps = cmpVars.map { v =>
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

    // ---- input row: key columns `__k0…`, the slice value, then one
    // nullable column per value the state function folds — per slot its
    // micro-units and raw double, per dependent slot its comparison's and
    // aggregate's. A null order value cannot slice the state (batch
    // treats it as a normal group): the incremental path rejects it
    // rather than dropping the row; a null anti value is a slice like
    // any other
    val slice = sliceAttr.fold(lit(0)) { a =>
      if (complement) col(a)
      else coalesce(col(a), raise_error(lit(s"$cls streaming EMF: null $a — null " +
        "order groups need the batch planner (microBatch)")).cast(cols.tpe(a)))
    }
    val values = slots.map(s => microOf(s.value)) ++ slots.map(_.value.cast("double")) ++
      deps.map(d => microOf(d.cmp)) ++ deps.map(_.cmp.cast("double")) ++
      deps.map(d => microOf(d.slot.value)) ++ deps.map(_.slot.value.cast("double"))
    val keys = keyAttrs.zipWithIndex.map { case (a, i) => col(a).as(s"__k$i") }
    val projected = stream.filter(EmfPlanner.whereColumn(q.where, schema)).select(
      keys ++ (slice +: values).zipWithIndex.map { case (c, i) => c.as(s"__v$i") }: _*)
    val nKeys = keys.size
    val at = new InputRow(nKeys + 1, specs.length, deps.length)

    // ---- the stateful combine: the key decoded as a typed `Row`, so it
    // is an `UnsafeRow` of the key attributes in the shuffle, the sort
    // and the state store
    val depSpecs = deps.map(_.slot.spec).toArray
    val depMeta = deps.map(_.meta).toArray
    val out = StructType((keyAttrs ++ sliceAttr).map(cols.field) ++
      (slots ++ deps.map(_.slot)).map(cols.outField) :+
      StructField("__ver", LongType, nullable = false))
    val outTypes = out.fields.map(_.dataType)
    val keySchema = StructType(projected.schema.take(nKeys))
    projected.groupBy(keySchema.map(f => col(f.name)): _*)
      .as[Row, Row](Encoders.row(keySchema), Encoders.row(projected.schema))
      .flatMapGroupsWithState[KeyedState, Row](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Row, rows: Iterator[Row], state: GroupState[KeyedState]) =>
          val st = state.getOption.getOrElse(new KeyedState)
          rows.foreach { r =>
            val v = r.get(nKeys)
            var slice = st.slices.get(v)
            if (slice == null) {
              slice = new Slice(Array.fill(specs.length)(new SlotAcc),
                if (depSpecs.isEmpty) null
                else Array.fill(depSpecs.length)(
                  new java.util.HashMap[java.lang.Long, HistCell]()))
              st.slices.put(v, slice)
              boundDomain(st.slices.size,
                s"$cls streaming EMF: more than $MaxHistBuckets distinct " +
                  (if (complement)
                    "anti-attribute values in one key's state — the anti " +
                      "attribute is not domain-bounded within its equality key; " +
                      "state would grow with the stream. Use a batch EMF pass instead."
                  else
                    "order values in one group's state — the order attribute is " +
                      "not domain-bounded; state would grow with the stream. Use a " +
                      "batch EMF pass or bucket the order column."))
            }
            var i = 0
            while (i < specs.length) {
              fold(slice.accs(i), r.get(at.micro(i)), r.get(at.raw(i)), specs(i).name)
              i += 1
            }
            var j = 0
            while (j < depSpecs.length) {
              foldHist(slice.hists(j), r, at, j, depSpecs(j).name, cls)
              j += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitKeyed(key, st, specs, depSpecs, depMeta, sliceAttr.isDefined, ordered,
            outTypes)
      }(Encoders.kryo[KeyedState], Encoders.row(out))
  }

  /** Column positions of the values in a [[keyedFrame]] input row, whose
    * first `from` columns are the key and the slice value. */
  private final class InputRow(from: Int, nSlots: Int, nDeps: Int) extends Serializable {
    def micro(i: Int): Int = from + i
    def raw(i: Int): Int = from + nSlots + i
    def cmpMicro(j: Int): Int = from + 2 * nSlots + j
    def cmpRaw(j: Int): Int = cmpMicro(nDeps + j)
    def aggMicro(j: Int): Int = cmpMicro(2 * nDeps + j)
    def aggRaw(j: Int): Int = cmpMicro(3 * nDeps + j)
  }

  /** Fold dependent slot `j` of row `r` into that slot's
    * comparison-value histogram. */
  private def foldHist(hist: java.util.HashMap[java.lang.Long, HistCell],
      r: Row, at: InputRow, j: Int, slot: String, cls: String): Unit = {
    val cm = r.get(at.cmpMicro(j))
    val cr = r.get(at.cmpRaw(j))
    val am = r.get(at.aggMicro(j))
    val ar = r.get(at.aggRaw(j))
    if (cm == null) {
      if (cr != null) throw new IllegalStateException(
        s"$cls streaming EMF: comparison value $cr of slot " +
          s"$slot exceeds the exact decimal-6 domain (finite, |v| <= 9.2e12)")
    } else if (am == null) {
      if (ar != null) throw new IllegalStateException(
        s"$cls streaming EMF: value $ar of slot $slot exceeds " +
          "the exact decimal-6 domain (finite, |v| <= 9.2e12)")
    } else { // a null on either side: tuple conds failed / null value
      val raw = cr.asInstanceOf[Double]
      val bucket = cm.asInstanceOf[java.lang.Long]
      var cell = hist.get(bucket)
      if (cell == null) {
        cell = new HistCell(raw)
        hist.put(bucket, cell)
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
      fold(cell.acc, am, ar, slot)
    }
  }

  /** Emit one row per slice of the key: its key fields, its slice value
    * (`emitsSlice`: the order value of a windowed or chained key, the
    * anti value of a complement key), variable-0/SIMPLE slots from the
    * slice's own partials, frame slots combined over the key's slices
    * (sorted by order value when `ordered`) by a prefix/suffix pass — the
    * batch RANGE frames over per-group partials, or all-but-self for a
    * complement — and each dependent slot as the histogram buckets
    * passing the threshold its referenced slot takes AT THAT GROUP. */
  private def emitKeyed(key: Row, st: KeyedState, specs: Array[SlotSpec],
      depSpecs: Array[SlotSpec], depMeta: Array[DepMeta], emitsSlice: Boolean,
      ordered: Boolean, outTypes: Array[DataType]): Iterator[Row] = {
    val entries = {
      val es = st.slices.entrySet().asScala.toArray
      if (ordered) es.sortBy(_.getKey.asInstanceOf[Number].longValue) else es
    }
    val slices = entries.map(_.getValue)
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
          case "!=" => { val c = pre(i).copy; c.add(suf(i)); c }
          case _    => { val c = pre(i).copy; c.add(own); c.add(suf(i)); c }
        }
      }
    }

    entries.indices.map { i =>
      val row = new Array[Any](outTypes.length)
      var c = 0
      def put(v: Any): Unit = { row(c) = v; c += 1 }
      (0 until key.length).foreach(k => put(key.get(k)))
      if (emitsSlice) put(entries(i).getKey)
      specs.indices.foreach(j => put(render(specs(j), combAt(j, i), outTypes(c))))
      depSpecs.indices.foreach { d =>
        val m = depMeta(d)
        val comb = new SlotAcc
        foldQualifying(comb, slices(i).hists(d), combAt(m.refIdx, i), m)
        put(render(depSpecs(d), comb, outTypes(c)))
      }
      put(st.ver)
      new GenericRow(row): Row
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
          if (m.refFloating) decimalDouble(ref.sumMicro)
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

  // ---- the KEYLESS complement (E = ∅) ----------------------------------------

  /** The keyless complement's streaming frame: a PLAIN aggregation keyed
    * by the anti attribute, so its state shards across executors like
    * any streaming groupBy and nothing quadratic or global lives in
    * state. Per anti value it carries the own scan-0 slots plus, per
    * complement variable, exact sum/count partials on the batch
    * planner's DECIMAL path and min/max partials, and one `__nrows`
    * column (the value's running row count, strictly increasing per
    * emission) that marks its latest row for [[snapshot]]. */
  private def keylessFrame(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val schema = stream.schema
    val (simpleVars, _, depVars) = EmfPlanner.classifyVars(q, schema)
    val antiAttr = complementKey(q, depVars)._2
    val cols = new SlotCols(schema, "keyless", "aggregate columns")
    (q.varZero ++ (simpleVars ++ depVars).map(_.agg)).foreach(a => cols.numeric(a.column))
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    val ownAggs = EmfPlanner.varZeroAndSimpleAggs(q.varZero, simpleVars, schema)
    val partialAggs = depVars.zipWithIndex.flatMap { case (v, i) =>
      val guarded = condOf(v, schema).fold(col(v.agg.column))(when(_, col(v.agg.column)))
      val floating = EmfPlanner.isFloating(v.agg.column, schema)
      val sumIn = if (floating) guarded.cast(EmfPlanner.exactDec) else guarded
      // the partial's NAME records the isFloating decision (`__sf_` =
      // floating source riding the exact-DECIMAL surrogate, `__s_` =
      // native type): the render must not infer it from the sink's
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

  /** The keyless MF structure from a sink of [[keylessFrame]] partial
    * rows: the latest partials per anti value (max `__nrows`), then per
    * complement variable the all-but-self combine — `total ⊖ own` for
    * sum/count/avg on the same exact arithmetic as
    * [[EmfPlanner.complementPass]], an anti-ordered strict-prefix ⊕
    * strict-suffix window pair for the non-subtractable min/max. One
    * pass over ≤ |anti domain| rows: the forced global reduction (every
    * group's answer moves when any group changes), paid at render. */
  private def keylessCombine(partials: DataFrame, q: EmfQuery): DataFrame = {
    val antiAttr = q.groupAttrs.head
    val wLatest = Window.partitionBy(col(antiAttr)).orderBy(col("__nrows").desc)
    var latest = partials.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn", "__nrows")
    // same order as classifyVars' partition — q.vars order preserved
    val depVars = q.vars.filterNot(EmfPlanner.isSimplePublic(_, q))
    // both combines are STRICT-PREFIX frames: the suffix side runs as a
    // prefix under DESCENDING order — same row set as
    // `rowsBetween(1, unboundedFollowing)` ascending, but Spark's
    // UnboundedPreceding frame accumulates incrementally (O(n)) where
    // UnboundedFollowing RECOMPUTES the frame per row (O(n²): measured
    // as a 55-minute hang in UnboundedFollowingWindowFunctionFrame at
    // sf10's 1.5M-customer anti domain; a 15k domain hid it)
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
    latest.drop(depVars.indices.flatMap(i =>
      Seq(s"__s_$i", s"__sf_$i", s"__c_$i", s"__mn_$i", s"__mx_$i")): _*)
  }

  /** Current MF structure from an update-mode sink of a [[planAuto]]
    * frame with `usesSnapshot` (or of [[planKeyed]]): the keyless class's
    * latest partials combined all-but-self, every other class's latest
    * `__ver` emission per group; then HAVING, then the SELECT list. The
    * class is read off `q` by the classifier [[planAuto]] routes by. */
  def snapshot(sink: DataFrame, q: EmfQuery): DataFrame = {
    val current =
      if (keyedClass(q, sink.schema) == "keyless") keylessCombine(sink, q)
      else {
        val w = Window.partitionBy(q.groupAttrs.map(col): _*)
          .orderBy(col("__ver").desc)
        sink.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__ver")
      }
    q.having.fold(current)(h => current.filter(EmfPlanner.havingColumn(h)))
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

  /** One aggregate value, typed as its output field `out` — same
    * null/zero semantics and arithmetic as the batch lowering
    * (sum/min/max over an empty set → null; count → 0; avg guards the
    * zero denominator). */
  private def render(s: SlotSpec, c: SlotAcc, out: DataType): Any = s.func match {
    case "count" => c.cnt
    case _ if c.cnt == 0 => null
    case "sum" =>
      if (s.floating) decimalDouble(c.sumMicro)
      else {
        val v = c.sumMicro / 1000000
        if (!v.isValidLong) throw new IllegalStateException(
          s"streaming EMF: sum $v of slot ${s.name} exceeds bigint")
        v.toLong
      }
    case "avg" =>
      (if (s.floating) decimalDouble(c.sumMicro) else (c.sumMicro / 1000000).toDouble) / c.cnt
    // min/max: integral slots exact above 2^53, in their input type
    case "min" => if (s.integral) narrow(c.mnMic / 1000000, out) else real(c.mn, out)
    case "max" => if (s.integral) narrow(c.mxMic / 1000000, out) else real(c.mx, out)
  }

  /** An exact decimal-6 micro-unit sum as a double. */
  private def decimalDouble(micro: BigInt): Double =
    new java.math.BigDecimal(micro.bigInteger, 6).doubleValue()

  /** A long as a value of the integral type `t`. */
  private def narrow(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
  }

  /** A double as a value of the floating type `t`. */
  private def real(v: Double, t: DataType): Any = if (t == FloatType) v.toFloat else v
}
