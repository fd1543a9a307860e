package graft.emf

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
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
  *  - SIMPLE + WINDOWED mixes (the corpus query-2/3 shape: equality on a
  *    key subset plus one order comparison) lower to
  *    `flatMapGroupsWithState` keyed by the window's equality attrs —
  *    [[planWindowed]]. The state IS the MF structure for that key (one
  *    accumulator row per group), updated incrementally; the window
  *    combine is a prefix/suffix pass over the key's order values at
  *    emit time. No re-scan of history, no batch-planner fallback.
  *  - DEPENDENT variables whose membership pins the FULL grouping set
  *    (the corpus query-6 shape: `quant > MF.avg_quant_1` within the
  *    group) lower to `flatMapGroupsWithState` keyed by G —
  *    [[planDependent]]. A moving threshold re-classifies EVERY
  *    historical tuple of the group, so the state must carry more than
  *    per-group partials; the MINIMAL sufficient statistic is two-level:
  *    group → comparison value → aggregate partials (a histogram). Each
  *    micro-batch folds its rows in (O(batch)); emission recomputes the
  *    threshold from the referenced aggregate's exact partials and folds
  *    the qualifying histogram range — no history re-scan, state bounded
  *    by the comparison column's value DOMAIN per group (the exact
  *    analogue of the windowed path's order-domain bound).
  *  - DEPENDENT variables chained onto a WINDOWED aggregate (corpus q8:
  *    `count_quant_2` over `quant > MF.avg_quant_1` where avg_quant_1
  *    itself windows over earlier months) run incrementally via
  *    [[planChained]]: the cross-group reference is PINNED inside the
  *    windowed variable's equality key (cust), so keying the state by
  *    that key makes the whole chain key-local again — the state is the
  *    key's ordered MF structure (per order value: windowed-source
  *    partials PLUS the dependent histograms), emission recombines
  *    window frames over partials and re-classifies each group's
  *    histogram against ITS frame-derived threshold. Three-level
  *    sufficient statistic: key → order value → comparison value.
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
    * complete-mode sink IS the result (HAVING already applied). */
  final case class StreamingPlan(df: DataFrame, usesSnapshot: Boolean)

  /** Entry of every public lowering: the stream's session commits its
    * checkpoints through [[graft.io.LocalFs]] (see the object doc). */
  private def installLocalFs(stream: DataFrame): Unit =
    graft.io.LocalFs.install(stream.sparkSession)

  /** Route a query to its cheapest incremental lowering — the same
    * classification the batch planner uses, so callers never pick a
    * lowering by hand:
    *
    *  - all SIMPLE → [[plan]] (plain stateful aggregation)
    *  - SIMPLE + WINDOWED → [[planWindowed]]
    *  - + DEPENDENT, all complement-decomposable → [[planCrossGroup]]
    *  - + DEPENDENT referencing own-group aggregates → [[planDependent]]
    *  - DEPENDENT chained onto WINDOWED → [[planChained]]
    *
    * Shapes outside every incremental class (genuinely unpinned
    * cross-group membership, non-subtractable complements, fractional
    * order attrs) propagate the specific lowering's rejection, which
    * names `microBatch(...)` — the full-expressiveness fallback. */
  def planAuto(q: EmfQuery, stream: DataFrame): StreamingPlan = {
    val (_, winVars, depVars) = EmfPlanner.classifyVars(q, stream.schema)
    if (winVars.isEmpty && depVars.isEmpty)
      StreamingPlan(plan(q, stream), usesSnapshot = false)
    else if (depVars.isEmpty)
      StreamingPlan(planWindowed(q, stream), usesSnapshot = true)
    else if (winVars.nonEmpty)
      StreamingPlan(planChained(q, stream), usesSnapshot = true)
    else if (depVars.forall(v => EmfPlanner.complementShape(v, q).isDefined))
      StreamingPlan(planCrossGroup(q, stream), usesSnapshot = true)
    else
      StreamingPlan(planDependent(q, stream), usesSnapshot = true)
  }

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

  // ---- incremental WINDOWED lowering --------------------------------------

  /** Per-slot accumulator: exact sum at scale 6 (BigInt micro-units),
    * non-null count, raw double min/max (floating slots) and exact
    * micro-unit min/max (integral slots — a double would round longs
    * above 2⁵³). One per (group, aggregate slot). */
  final class SlotAcc extends Serializable {
    var sumMicro: BigInt = BigInt(0)
    var cnt: Long = 0L
    var mn: Double = Double.PositiveInfinity
    var mx: Double = Double.NegativeInfinity
    var mnMic: Long = Long.MaxValue
    var mxMic: Long = Long.MinValue
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

  /** State for one window key (the equality attrs): the MF structure
    * restricted to that key — one accumulator row per order value —
    * plus an emission version counter. */
  final class WinState extends Serializable {
    var ver: Long = 0L
    val groups = new java.util.HashMap[java.lang.Long, Array[SlotAcc]]()
  }

  /** One aggregate slot's metadata, closed over by the state function.
    * kind: 0 = varZero/SIMPLE (own-group value), 1 = WINDOWED.
    * frameOp: the order comparison for windowed slots ("<", "<=", ">",
    * ">=", or "" for whole-partition frames). */
  final case class SlotSpec(name: String, func: String,
      floating: Boolean, integral: Boolean, kind: Int, frameOp: String)

  final case class WinRow(k: String, o: Long,
      micro: Seq[Option[Long]], raw: Seq[Option[Double]])

  /** Incremental lowering for SIMPLE + WINDOWED queries whose grouping
    * set is exactly {equality attrs} ∪ {order attr} — the corpus
    * query-2/3 shape ("months before/after this one", paper §"complex
    * aggregates over data streams").
    *
    * The stream is keyed by the windowed variables' shared equality
    * attrs; the state store holds the MF structure for the key (one
    * accumulator row per order value, each carrying exact decimal-6 sums
    * + counts + raw min/max for every aggregate slot). Each micro-batch
    * folds its rows into the state — O(batch) work, no history re-scan —
    * and re-emits the key's groups with windowed aggregates recombined by
    * one ascending/descending pass over the key's sorted order values
    * (the RANGE frames of the batch lowering, evaluated over partials).
    *
    * Aggregation arithmetic matches [[EmfPlanner]]'s batch semantics
    * bit-for-bit for inputs with ≤ 6 decimal digits (the planner's
    * decimal-exact contract): sums/averages accumulate exactly and
    * surface as double/long exactly like the batch plan's decimal path.
    *
    * Output: one row per (group, emission) in UPDATE mode with a
    * monotonically increasing `__ver` per key — a sink holding all
    * emissions reconstructs the current MF structure with [[snapshot]]
    * (latest `__ver` per group, then HAVING + SELECT). HAVING cannot be
    * applied pre-sink in update mode: a group leaving the HAVING set
    * emits no retraction, so the filter belongs on the snapshot.
    *
    * State is one accumulator row per group — the same cardinality the
    * batch MF frame has; at scale, bound the order-attr domain (e.g.
    * months, not timestamps) exactly as the paper's MF state does. */
  def planWindowed(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(depVars.isEmpty,
      "incremental windowed streaming supports SIMPLE + WINDOWED variables " +
        "only; use microBatch(...) for dependent queries")
    require(winVars.nonEmpty,
      "no WINDOWED variable; use plan(...) for all-SIMPLE queries")

    // every windowed variable must share one equality-attr set E and one
    // order attr o, with G = E ∪ {o}
    def eqAttrsOf(v: GroupingVar): Seq[String] = v.mfConds.collect {
      case Cond(TupleCol(a), "=" | "==", MfField(b)) if a == b => a
    }
    def orderCondOf(v: GroupingVar): Option[Cond] = v.mfConds.collectFirst {
      case c @ Cond(TupleCol(_), "<" | "<=" | ">" | ">=", MfField(_)) => c
    }
    val eqAttrs = eqAttrsOf(winVars.head).distinct
    val orderAttr = winVars.flatMap(orderCondOf).headOption match {
      case Some(Cond(TupleCol(a), _, _)) => a
      case _ => throw new IllegalArgumentException(
        "windowed streaming needs at least one order comparison")
    }
    winVars.foreach { v =>
      require(eqAttrsOf(v).distinct == eqAttrs &&
        orderCondOf(v).forall { case Cond(TupleCol(a), _, _) => a == orderAttr },
        s"windowed variable ${v.agg.name} must share equality attrs " +
          s"$eqAttrs and order attr $orderAttr")
    }
    require(eqAttrs.nonEmpty, "windowed streaming needs ≥ 1 equality attr")
    // the state keys order groups by cast-to-long: a fractional order
    // attribute would silently TRUNCATE (merging e.g. 1.4 and 1.5) where
    // the batch planner keeps them distinct — require integral, loudly
    schema.find(_.name == orderAttr).map(_.dataType).foreach {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"windowed streaming order attribute '$orderAttr' must be an " +
          s"integral type, got $other — fractional order values would be " +
          "truncated by the state key; use microBatch(...) instead")
    }
    require(q.groupAttrs.toSet == (eqAttrs :+ orderAttr).toSet &&
      !eqAttrs.contains(orderAttr),
      s"grouping set ${q.groupAttrs} must be exactly equality attrs " +
        s"$eqAttrs plus order attr $orderAttr")

    // ---- aggregate slots: varZero + SIMPLE (kind 0), WINDOWED (kind 1)
    def colType(n: String): DataType =
      schema.find(_.name == n).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"unknown column $n"))
    def numeric(n: String): Unit = colType(n) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"windowed streaming needs numeric aggregate columns; $n: $other")
    }
    final case class SlotDef(spec: SlotSpec, srcCol: String, cond: Option[Column])
    val slots: Seq[SlotDef] =
      q.varZero.map { a =>
        numeric(a.column)
        SlotDef(SlotSpec(a.name, a.func, isFloat(colType(a.column)),
          isIntegral(colType(a.column)), 0, ""), a.column, None)
      } ++
      simpleVars.map { v =>
        numeric(v.agg.column)
        SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 0, ""), v.agg.column,
          condOf(v, schema))
      } ++
      winVars.map { v =>
        numeric(v.agg.column)
        val op = orderCondOf(v).map(_.op).getOrElse("")
        SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 1, op), v.agg.column,
          condOf(v, schema))
      }
    require(slots.nonEmpty, "query has no aggregates")
    val specs = slots.map(_.spec).toArray

    // ---- input projection: key JSON, order value, per-slot exact values
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    val microCols = slots.map { s =>
      val v = s.cond.map(c => when(c, col(s.srcCol))).getOrElse(col(s.srcCol))
      (v.cast("decimal(27,6)") * lit(1000000L)).cast("long")
    }
    val rawCols = slots.map { s =>
      val v = s.cond.map(c => when(c, col(s.srcCol))).getOrElse(col(s.srcCol))
      v.cast("double")
    }
    // a null order value cannot key the state (batch treats it as a
    // normal group; the incremental path rejects it explicitly rather
    // than dropping the row or crashing in the encoder)
    val orderOrFail = coalesce(col(orderAttr).cast("long"),
      raise_error(lit(s"windowed streaming EMF: null $orderAttr — null " +
        "order groups need the batch planner (microBatch)")).cast("long"))
    val projected = base.select(
      to_json(struct(eqAttrs.map(col): _*)).as("k"),
      orderOrFail.as("o"),
      array(microCols: _*).as("micro"),
      array(rawCols: _*).as("raw"))
      .as[WinRow]

    // ---- the stateful combine
    implicit val stateEnc: Encoder[WinState] = Encoders.kryo[WinState]
    val emitted = projected
      .groupByKey(_.k)
      .flatMapGroupsWithState[WinState, (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[WinRow], state: GroupState[WinState]) =>
          val st = state.getOption.getOrElse(new WinState)
          rows.foreach { r =>
            var cells = st.groups.get(r.o)
            if (cells == null) {
              cells = Array.fill(specs.length)(new SlotAcc)
              st.groups.put(r.o, cells)
              boundOrderDomain(st.groups.size, "windowed")
            }
            var i = 0
            while (i < specs.length) {
              fold(cells(i), r.micro(i), r.raw(i), specs(i).name)
              i += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitKey(key, st, specs, orderAttr)
      }

    // ---- typed reconstruction: parse the emitted JSON with the output
    // schema (stateless past the stateful op, allowed in update mode)
    val aggFields = slots.map { s =>
      StructField(s.spec.name, outType(s.spec, colType(s.srcCol)), nullable = true)
    }
    val outSchema = StructType(
      eqAttrs.map(n => StructField(n, colType(n), nullable = true)) ++
        Seq(StructField(orderAttr, colType(orderAttr), nullable = true)) ++
        aggFields)
    emitted.toDF("__json", "__ver")
      .select(from_json(col("__json"), outSchema).as("r"), col("__ver"))
      .select(col("r.*"), col("__ver"))
  }

  // ---- incremental DEPENDENT lowering -------------------------------------

  final case class DepRow(k: String,
      micro: Seq[Option[Long]], raw: Seq[Option[Double]],
      cmpM: Seq[Option[Long]], cmpR: Seq[Option[Double]],
      aggM: Seq[Option[Long]], aggR: Seq[Option[Double]])

  /** One histogram bucket of the two-level state: the comparison value's
    * raw double (for double-typed predicates) plus the aggregate
    * partials of the tuples holding that value. */
  final class HistCell(val raw: Double) extends Serializable {
    val acc = new SlotAcc
  }

  /** Hard cap on distinct comparison values PER (group, dependent slot).
    * Dependent/chained streaming EMF keeps one [[HistCell]] per distinct
    * comparison value seen in a group — bounded by the column's value
    * DOMAIN (fine for `quant`-like columns, the corpus shapes), but
    * nothing about the query form itself enforces that. A near-unique
    * comparison column (a timestamp, an id) would grow state without
    * bound and surface as an executor OOM hours in; failing fast at a
    * width no domain-bounded column reaches turns that into an immediate,
    * named error (the broadcast-guard convention,
    * [[graft.ann.VectorKernels]]). Test-tunable so the fail-fast is
    * exercisable without 65k-row fixtures (EmfStreamingSpec). */
  @volatile private[emf] var MaxHistBuckets = 65536

  /** Same contract for the ORDER-attribute domain: windowed/chained
    * state keys one slot array per distinct order value (months in the
    * corpus — calendar-bounded), which the query form itself does not
    * enforce either. */
  private def boundOrderDomain(n: Int, mode: String): Unit =
    if (n > MaxHistBuckets)
      throw new IllegalStateException(
        s"$mode streaming EMF: more than $MaxHistBuckets distinct order " +
          "values in one group's state — the order attribute is not " +
          "domain-bounded; state would grow with the stream. Use a batch " +
          "EMF pass or bucket the order column.")

  private def boundHist(h: java.util.HashMap[java.lang.Long, HistCell],
      slot: String, mode: String): Unit =
    if (h.size > MaxHistBuckets)
      throw new IllegalStateException(
        s"$mode streaming EMF: comparison-value histogram of slot $slot " +
          s"exceeds $MaxHistBuckets distinct values — the comparison " +
          "column is not domain-bounded; state would grow with the " +
          "stream. Use a batch EMF pass or bucket the comparison column.")

  /** State for one group: its own-aggregate accumulators (the threshold
    * sources) plus, per dependent slot, the comparison-value histogram. */
  final class DepState extends Serializable {
    var ver: Long = 0L
    var base: Array[SlotAcc] = _
    var hists: Array[java.util.HashMap[java.lang.Long, HistCell]] = _
  }

  /** Metadata of one dependent slot: the comparison `tuple.cmp OP ref`,
    * which base slot the threshold reads, and whether the comparison
    * runs in IEEE-double space (matching Spark's numeric promotion) or
    * exact-integer micro-unit space. */
  final case class DepMeta(op: String, refIdx: Int, cmpDouble: Boolean,
      refFunc: String, refFloating: Boolean)

  /** Incremental lowering for varZero/SIMPLE + DEPENDENT queries whose
    * dependent variables pin the FULL grouping set and compare one tuple
    * column against one own-group aggregate — the corpus query-6 shape
    * (`count_quant_2` counts the group's tuples with
    * `quant > MF.avg_quant_1`).
    *
    * The stream is keyed by G. The state is the two-level structure
    * described in the object scaladoc: per group (1) the exact SlotAcc
    * partials of every variable-0/SIMPLE aggregate — the threshold
    * sources — and (2) per dependent slot a histogram mapping each seen
    * comparison value (exact micro-units) to the aggregate partials of
    * the tuples carrying that value. A micro-batch folds its rows in
    * (O(batch)); emission recomputes each threshold from the referenced
    * aggregate's CURRENT partials and combines the qualifying histogram
    * buckets — re-classifying all history without re-scanning it. State
    * per group is O(|distinct comparison values|): bound the comparison
    * column's domain at scale (quantities, ratings, bucketed amounts)
    * exactly as the windowed path bounds its order domain.
    *
    * Comparison semantics replay the batch planner's Spark comparison
    * bit-for-bit within the decimal-6 exactness contract: if either side
    * surfaces as double (avg; sum/min/max of floating input; floating
    * comparison column) both sides convert to IEEE double exactly as
    * Spark's numeric promotion does; otherwise the comparison is exact
    * integer micro-units. Output/emission contract (UPDATE mode, `__ver`,
    * [[snapshot]] reconstruction, HAVING on the snapshot) is identical
    * to [[planWindowed]]. */
  def planDependent(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.isEmpty,
      "incremental dependent streaming supports variable-0/SIMPLE + " +
        "DEPENDENT variables only; use planChained(...) for " +
        "dependent-on-windowed mixes or microBatch(...) beyond that")
    require(depVars.nonEmpty,
      "no DEPENDENT variable; use plan(...) for all-SIMPLE queries")

    def colType(n: String): DataType =
      schema.find(_.name == n).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"unknown column $n"))
    def numeric(n: String): Unit = colType(n) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"dependent streaming needs numeric columns; $n: $other")
    }

    // ---- base slots: varZero + SIMPLE (the threshold sources)
    val baseSlots: Seq[(SlotSpec, String, Option[Column])] =
      q.varZero.map { a =>
        numeric(a.column)
        (SlotSpec(a.name, a.func, isFloat(colType(a.column)),
          isIntegral(colType(a.column)), 0, ""), a.column, None)
      } ++
      simpleVars.map { v =>
        numeric(v.agg.column)
        (SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 0, ""), v.agg.column,
          condOf(v, schema))
      }
    require(baseSlots.nonEmpty,
      "dependent streaming needs at least one variable-0/SIMPLE aggregate " +
        "(the threshold source); shapes without one need microBatch(...)")
    val baseIdx = baseSlots.map(_._1.name).zipWithIndex.toMap

    // ---- dependent slots
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case other => other
    }
    val deps: Seq[(SlotSpec, String, String, Option[Column], DepMeta)] =
      depVars.map { v =>
        numeric(v.agg.column)
        val eqAttrs = v.mfConds.collect {
          case Cond(TupleCol(a), "=" | "==", MfField(b)) if a == b => a
        }.distinct
        require(eqAttrs.toSet == q.groupAttrs.toSet,
          s"dependent variable ${v.agg.name} must pin the full grouping " +
            s"set ${q.groupAttrs} (got $eqAttrs); cross-group membership " +
            "needs microBatch(...)")
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
        val refIdx = baseIdx.getOrElse(refName,
          throw new IllegalArgumentException(
            s"dependent variable ${v.agg.name} references '$refName', " +
              "which is not a variable-0/SIMPLE aggregate — chains onto " +
              "windowed aggregates run via planChained(...); deeper " +
              "chains need microBatch(...)"))
        numeric(cmpCol)
        val refSpec = baseSlots(refIdx)._1
        val refOutDouble = refSpec.func == "avg" ||
          (refSpec.floating && Set("sum", "min", "max").contains(refSpec.func))
        val cmpDouble = refOutDouble || isFloat(colType(cmpCol))
        (SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 2, ""),
          v.agg.column, cmpCol, condOf(v, schema),
          DepMeta(op, refIdx, cmpDouble, refSpec.func, refSpec.floating))
      }

    // ---- input projection
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    def guarded(src: String, cond: Option[Column]): Column =
      cond.map(c => when(c, col(src))).getOrElse(col(src))
    def microOf(c: Column): Column =
      (c.cast("decimal(27,6)") * lit(1000000L)).cast("long")
    val projected = base.select(
      to_json(struct(q.groupAttrs.map(col): _*)).as("k"),
      array(baseSlots.map { case (_, src, c) => microOf(guarded(src, c)) }: _*).as("micro"),
      array(baseSlots.map { case (_, src, c) => guarded(src, c).cast("double") }: _*).as("raw"),
      array(deps.map { case (_, _, cmp, c, _) => microOf(guarded(cmp, c)) }: _*).as("cmpM"),
      array(deps.map { case (_, _, cmp, c, _) => guarded(cmp, c).cast("double") }: _*).as("cmpR"),
      array(deps.map { case (_, src, _, c, _) => microOf(guarded(src, c)) }: _*).as("aggM"),
      array(deps.map { case (_, src, _, c, _) => guarded(src, c).cast("double") }: _*).as("aggR"))
      .as[DepRow]

    // ---- the stateful combine
    val baseSpecs = baseSlots.map(_._1).toArray
    val depSpecs = deps.map(_._1).toArray
    val depMeta = deps.map(_._5).toArray
    implicit val stateEnc: Encoder[DepState] = Encoders.kryo[DepState]
    val emitted = projected
      .groupByKey(_.k)
      .flatMapGroupsWithState[DepState, (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[DepRow], state: GroupState[DepState]) =>
          val st = state.getOption.getOrElse {
            val s = new DepState
            s.base = Array.fill(baseSpecs.length)(new SlotAcc)
            s.hists = Array.fill(depSpecs.length)(
              new java.util.HashMap[java.lang.Long, HistCell]())
            s
          }
          rows.foreach { r =>
            var i = 0
            while (i < baseSpecs.length) {
              fold(st.base(i), r.micro(i), r.raw(i), baseSpecs(i).name)
              i += 1
            }
            var j = 0
            while (j < depSpecs.length) {
              (r.cmpM(j), r.aggM(j)) match {
                case (Some(cm), Some(am)) =>
                  var cell = st.hists(j).get(cm)
                  if (cell == null) {
                    cell = new HistCell(r.cmpR(j).get)
                    st.hists(j).put(cm, cell)
                    boundHist(st.hists(j), depSpecs(j).name, "dependent")
                  } else if (cell.raw != r.cmpR(j).get &&
                      !(java.lang.Double.isNaN(cell.raw) &&
                        java.lang.Double.isNaN(r.cmpR(j).get)))
                    // a second double below decimal-6 resolution would
                    // silently classify by the first-seen representative;
                    // fail loud instead (the domain-guard convention).
                    // The both-NaN escape matters: x != x is true for
                    // every NaN, so bare != would report two identical
                    // NaNs as "distinct" values; IEEE == (not
                    // Double.compare) keeps -0.0 == 0.0 passing as the
                    // pre-guard code did
                    throw new IllegalStateException(
                      s"dependent streaming EMF: comparison values " +
                        s"${cell.raw} and ${r.cmpR(j).get} of slot " +
                        s"${depSpecs(j).name} are distinct below the " +
                        "decimal-6 bucket resolution")
                  fold(cell.acc, Some(am), r.aggR(j), depSpecs(j).name)
                case (None, _) if r.cmpR(j).isDefined =>
                  throw new IllegalStateException(
                    s"dependent streaming EMF: comparison value " +
                      s"${r.cmpR(j).get} of slot ${depSpecs(j).name} exceeds " +
                      "the exact decimal-6 domain (finite, |v| <= 9.2e12)")
                case (Some(_), None) if r.aggR(j).isDefined =>
                  throw new IllegalStateException(
                    s"dependent streaming EMF: value ${r.aggR(j).get} of " +
                      s"slot ${depSpecs(j).name} exceeds the exact decimal-6 " +
                      "domain (finite, |v| <= 9.2e12)")
                case _ => () // tuple conds failed / null value: no contribution
              }
              j += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitDepKey(key, st, baseSpecs, depSpecs, depMeta)
      }

    // ---- typed reconstruction (same shape as planWindowed)
    val outSchema = StructType(
      q.groupAttrs.map(n => StructField(n, colType(n), nullable = true)) ++
        baseSlots.map { case (s, src, _) =>
          StructField(s.name, outType(s, colType(src)), nullable = true) } ++
        deps.map { case (s, src, _, _, _) =>
          StructField(s.name, outType(s, colType(src)), nullable = true) })
    emitted.toDF("__json", "__ver")
      .select(from_json(col("__json"), outSchema).as("r"), col("__ver"))
      .select(col("r.*"), col("__ver"))
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
    * shape [[planDependent]] rejects — but the span is confined to
    * groups sharing e, so keying the state by E restores a key-local
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
    * [[planWindowed]]. State per key is O(|anti domain within the
    * key|) — the MF frame's own cardinality for that key — guarded by
    * the same fail-fast the windowed/dependent paths use. */
  def planCrossGroup(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.isEmpty,
      "incremental cross-group streaming supports variable-0/SIMPLE + " +
        "complement-decomposable DEPENDENT variables only; use " +
        "planChained(...) for windowed mixes or microBatch(...) beyond that")
    require(depVars.nonEmpty,
      "no DEPENDENT variable; use plan(...) for all-SIMPLE queries")

    val infos = depVars.map(v => v -> EmfPlanner.complementShape(v, q))
    infos.foreach { case (v, i) =>
      require(i.isDefined,
        s"dependent variable ${v.agg.name} is not complement-shaped " +
          "(equality on a grouping subset + exactly one same-attr !=); " +
          "use planDependent(...) for own-group aggregate comparisons or " +
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
    // anti value, boundAntiDomain fail-fast) is EXACTLY the keyed
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

    def colType(n: String): DataType =
      schema.find(_.name == n).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"unknown column $n"))
    def numeric(n: String): Unit = colType(n) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"cross-group streaming needs numeric aggregate columns; $n: $other")
    }

    // ---- slots: varZero + SIMPLE (kind 0), then complement (kind 2)
    final case class SlotDef(spec: SlotSpec, srcCol: String, cond: Option[Column])
    val baseSlots: Seq[SlotDef] =
      q.varZero.map { a =>
        numeric(a.column)
        SlotDef(SlotSpec(a.name, a.func, isFloat(colType(a.column)),
          isIntegral(colType(a.column)), 0, ""), a.column, None)
      } ++
      simpleVars.map { v =>
        numeric(v.agg.column)
        SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 0, ""), v.agg.column,
          condOf(v, schema))
      }
    val compSlots: Seq[SlotDef] = depVars.map { v =>
      numeric(v.agg.column)
      SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
        isIntegral(colType(v.agg.column)), 2, ""), v.agg.column,
        condOf(v, schema))
    }
    val slots = baseSlots ++ compSlots
    val specs = slots.map(_.spec).toArray
    val nBase = baseSlots.length

    // ---- input projection: E-key JSON, anti-value JSON, slot values
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    def guarded(s: SlotDef): Column =
      s.cond.map(c => when(c, col(s.srcCol))).getOrElse(col(s.srcCol))
    // ignoreNullFields=false: a null key/anti field must keep its slot in
    // the JSON (default to_json DROPS null fields, which would splice a
    // malformed `{...,,...}` row and alias distinct null patterns)
    val keepNulls = Map("ignoreNullFields" -> "false")
    val keyCol =
      if (eqAttrs.isEmpty) lit("{}")
      else to_json(struct(eqAttrs.map(col): _*), keepNulls)
    val projected = base.select(
      keyCol.as("k"),
      to_json(struct(col(antiAttr)), keepNulls).as("a"),
      array(slots.map(s =>
        (guarded(s).cast("decimal(27,6)") * lit(1000000L)).cast("long")): _*)
        .as("micro"),
      array(slots.map(s => guarded(s).cast("double")): _*).as("raw"))
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
              boundAntiDomain(st.groups.size)
            }
            var i = 0
            while (i < specs.length) {
              fold(cells(i), r.micro(i), r.raw(i), specs(i).name)
              i += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitCrossKey(key, st, specs, nBase, antiAttr)
      }

    // ---- typed reconstruction (same shape as planWindowed)
    val outSchema = StructType(
      eqAttrs.map(n => StructField(n, colType(n), nullable = true)) ++
        Seq(StructField(antiAttr, colType(antiAttr), nullable = true)) ++
        slots.map(s => StructField(s.spec.name,
          outType(s.spec, colType(s.srcCol)), nullable = true)))
    emitted.toDF("__json", "__ver")
      .select(from_json(col("__json"), outSchema).as("r"), col("__ver"))
      .select(col("r.*"), col("__ver"))
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

  /** Anti-domain analogue of [[boundOrderDomain]]: one accumulator row
    * per anti value per key — the key's own group count. */
  private def boundAntiDomain(n: Int): Unit =
    if (n > MaxHistBuckets)
      throw new IllegalStateException(
        s"cross-group streaming EMF: more than $MaxHistBuckets distinct " +
          "anti-attribute values in one key's state — the anti attribute " +
          "is not domain-bounded within its equality key; state would " +
          "grow with the stream. Use a batch EMF pass instead.")

  /** Emit one JSON row per (key, anti value): base slots straight from
    * the group's accumulators; complement slots combine ALL-BUT-SELF over
    * the key's per-group partials — `complement(gᵢ) = ⊕_{j≠i} own(gⱼ)`,
    * rendered from a strict-prefix ⊕ strict-suffix pair per slot (the
    * windowed pass's own recombination trick, O(groups) total). For
    * sum/count/avg this equals [[EmfPlanner.complementPass]]'s
    * `total ⊖ own` subtraction over exact partials bit-for-bit; for
    * min/max it is the identity that subtraction CANNOT express (min has
    * no inverse), which is what lets non-subtractable complements stream
    * incrementally — the round-12 residue this closed. */
  private def emitCrossKey(key: String, st: CrossState,
      specs: Array[SlotSpec], nBase: Int, antiAttr: String)
      : Iterator[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val nComp = specs.length - nBase
    val entries = st.groups.entrySet().asScala.toArray
    val n = entries.length
    // per complement slot: prefix(i) = ⊕ cells(0..i-1), suffix(i) =
    // ⊕ cells(i+1..n-1); complement(i) = prefix(i) ⊕ suffix(i)
    val prefix = Array.tabulate(nComp) { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = 0
      while (i < n) {
        arr(i) = run.copyOf; run.add(entries(i).getValue()(nBase + j)); i += 1
      }
      arr
    }
    val suffix = Array.tabulate(nComp) { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = n - 1
      while (i >= 0) {
        arr(i) = run.copyOf; run.add(entries(i).getValue()(nBase + j)); i -= 1
      }
      arr
    }
    val keyInner = key.substring(1, key.length - 1)
    val out = (0 until n).iterator.map { i =>
      val e = entries(i)
      val antiInner = e.getKey.substring(1, e.getKey.length - 1)
      val cells = e.getValue
      val sb = new StringBuilder(96)
      sb.append('{')
      if (keyInner.nonEmpty) { sb.append(keyInner); sb.append(',') }
      sb.append(antiInner)
      var b = 0
      while (b < nBase) {
        val c = new Comb; c.add(cells(b))
        sb.append(",\"").append(specs(b).name).append("\":")
          .append(render(specs(b), c))
        b += 1
      }
      var j = 0
      while (j < nComp) {
        val comp = prefix(j)(i).copyOf
        comp.addComb(suffix(j)(i))
        sb.append(",\"").append(specs(nBase + j).name).append("\":")
          .append(render(specs(nBase + j), comp))
        j += 1
      }
      sb.append('}')
      (sb.toString, st.ver)
    }
    out.toIndexedSeq.iterator
  }

  // ---- incremental CHAINED lowering (dependent-on-windowed, corpus q8) ----

  final case class ChainRow(k: String, o: Long,
      micro: Seq[Option[Long]], raw: Seq[Option[Double]],
      cmpM: Seq[Option[Long]], cmpR: Seq[Option[Double]],
      aggM: Seq[Option[Long]], aggR: Seq[Option[Double]])

  /** State for one equality key (e.g. cust): the key's ordered MF
    * structure — per order value, the base/windowed slot partials AND
    * each dependent slot's comparison-value histogram. */
  final class ChainState extends Serializable {
    var ver: Long = 0L
    val groups = new java.util.HashMap[java.lang.Long, Array[SlotAcc]]()
    val hists = new java.util.HashMap[java.lang.Long,
      Array[java.util.HashMap[java.lang.Long, HistCell]]]()
  }

  /** Incremental lowering for the dependent-on-windowed CHAIN (corpus
    * q8): grouping set = {equality attrs E} ∪ {order attr o}, WINDOWED
    * variables exactly as [[planWindowed]], plus DEPENDENT variables
    * that pin the full grouping set and compare one tuple column against
    * ANY earlier aggregate — base/SIMPLE (own group) or WINDOWED (the
    * chain). The cross-group dependence travels only through the window
    * frames, which are E-key-local — so keying the state by E restores a
    * key-local sufficient statistic: per order value, (1) the slot
    * partials [[planWindowed]] keeps, and (2) per dependent slot the
    * comparison-value histogram [[planDependent]] keeps. A micro-batch
    * folds its rows in (O(batch)); emission recombines window frames
    * over the partials (prefix/suffix pass) and re-classifies each
    * group's histogram against the threshold derived from THAT group's
    * frame — a moving window aggregate retroactively flips historical
    * tuples' membership with no history re-scan. State per key is
    * O(|order domain| × |comparison-value domain|) — the product of the
    * two bounds the windowed and dependent paths each already assume.
    *
    * Emission/output contract (UPDATE mode, `__ver`, [[snapshot]],
    * HAVING on the snapshot) is identical to [[planWindowed]]. */
  def planChained(q: EmfQuery, stream: DataFrame): DataFrame = {
    installLocalFs(stream)
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema

    val (simpleVars, winVars, depVars) = EmfPlanner.classifyVars(q, schema)
    require(winVars.nonEmpty,
      "no WINDOWED variable; use planDependent(...) for base-referencing " +
        "dependent queries or plan(...) for all-SIMPLE queries")
    require(depVars.nonEmpty,
      "no DEPENDENT variable; use planWindowed(...) for SIMPLE+WINDOWED " +
        "queries")

    // ---- windowed-key validation (same contract as planWindowed)
    def eqAttrsOf(v: GroupingVar): Seq[String] = v.mfConds.collect {
      case Cond(TupleCol(a), "=" | "==", MfField(b)) if a == b => a
    }
    def orderCondOf(v: GroupingVar): Option[Cond] = v.mfConds.collectFirst {
      case c @ Cond(TupleCol(_), "<" | "<=" | ">" | ">=", MfField(_)) => c
    }
    val eqAttrs = eqAttrsOf(winVars.head).distinct
    val orderAttr = winVars.flatMap(orderCondOf).headOption match {
      case Some(Cond(TupleCol(a), _, _)) => a
      case _ => throw new IllegalArgumentException(
        "chained streaming needs at least one order comparison")
    }
    winVars.foreach { v =>
      require(eqAttrsOf(v).distinct == eqAttrs &&
        orderCondOf(v).forall { case Cond(TupleCol(a), _, _) => a == orderAttr },
        s"windowed variable ${v.agg.name} must share equality attrs " +
          s"$eqAttrs and order attr $orderAttr")
    }
    require(eqAttrs.nonEmpty, "chained streaming needs ≥ 1 equality attr")
    schema.find(_.name == orderAttr).map(_.dataType).foreach {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"chained streaming order attribute '$orderAttr' must be an " +
          s"integral type, got $other — use microBatch(...) instead")
    }
    require(q.groupAttrs.toSet == (eqAttrs :+ orderAttr).toSet &&
      !eqAttrs.contains(orderAttr),
      s"grouping set ${q.groupAttrs} must be exactly equality attrs " +
        s"$eqAttrs plus order attr $orderAttr")

    def colType(n: String): DataType =
      schema.find(_.name == n).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"unknown column $n"))
    def numeric(n: String): Unit = colType(n) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"chained streaming needs numeric columns; $n: $other")
    }

    // ---- slots: varZero + SIMPLE (kind 0) then WINDOWED (kind 1)
    final case class SlotDef(spec: SlotSpec, srcCol: String, cond: Option[Column])
    val slots: Seq[SlotDef] =
      q.varZero.map { a =>
        numeric(a.column)
        SlotDef(SlotSpec(a.name, a.func, isFloat(colType(a.column)),
          isIntegral(colType(a.column)), 0, ""), a.column, None)
      } ++
      simpleVars.map { v =>
        numeric(v.agg.column)
        SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 0, ""), v.agg.column,
          condOf(v, schema))
      } ++
      winVars.map { v =>
        numeric(v.agg.column)
        val op = orderCondOf(v).map(_.op).getOrElse("")
        SlotDef(SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 1, op), v.agg.column,
          condOf(v, schema))
      }
    val slotIdx = slots.map(_.spec.name).zipWithIndex.toMap
    val specs = slots.map(_.spec).toArray

    // ---- dependent slots (threshold ref may be kind 0 OR kind 1)
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case other => other
    }
    val deps: Seq[(SlotSpec, String, String, Option[Column], DepMeta)] =
      depVars.map { v =>
        numeric(v.agg.column)
        val pins = eqAttrsOf(v).distinct
        require(pins.toSet == q.groupAttrs.toSet,
          s"dependent variable ${v.agg.name} must pin the full grouping " +
            s"set ${q.groupAttrs} (got $pins); unpinned cross-group " +
            "membership needs microBatch(...)")
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
              "which is not a variable-0/SIMPLE/WINDOWED aggregate — " +
              "chains onto other dependent aggregates need microBatch(...)"))
        numeric(cmpCol)
        val refSpec = specs(refIdx)
        val refOutDouble = refSpec.func == "avg" ||
          (refSpec.floating && Set("sum", "min", "max").contains(refSpec.func))
        val cmpDouble = refOutDouble || isFloat(colType(cmpCol))
        (SlotSpec(v.agg.name, v.agg.func, isFloat(colType(v.agg.column)),
          isIntegral(colType(v.agg.column)), 2, ""),
          v.agg.column, cmpCol, condOf(v, schema),
          DepMeta(op, refIdx, cmpDouble, refSpec.func, refSpec.floating))
      }

    // ---- input projection: E-key JSON, order value, slot values,
    //      per-dep comparison + aggregate values
    val base = stream.filter(EmfPlanner.whereColumn(q.where, schema))
    def guarded(src: String, cond: Option[Column]): Column =
      cond.map(c => when(c, col(src))).getOrElse(col(src))
    def microOf(c: Column): Column =
      (c.cast("decimal(27,6)") * lit(1000000L)).cast("long")
    val orderOrFail = coalesce(col(orderAttr).cast("long"),
      raise_error(lit(s"chained streaming EMF: null $orderAttr — null " +
        "order groups need the batch planner (microBatch)")).cast("long"))
    val projected = base.select(
      to_json(struct(eqAttrs.map(col): _*)).as("k"),
      orderOrFail.as("o"),
      array(slots.map(s => microOf(guarded(s.srcCol, s.cond))): _*).as("micro"),
      array(slots.map(s => guarded(s.srcCol, s.cond).cast("double")): _*).as("raw"),
      array(deps.map { case (_, _, cmp, c, _) => microOf(guarded(cmp, c)) }: _*).as("cmpM"),
      array(deps.map { case (_, _, cmp, c, _) => guarded(cmp, c).cast("double") }: _*).as("cmpR"),
      array(deps.map { case (_, src, _, c, _) => microOf(guarded(src, c)) }: _*).as("aggM"),
      array(deps.map { case (_, src, _, c, _) => guarded(src, c).cast("double") }: _*).as("aggR"))
      .as[ChainRow]

    // ---- the stateful combine
    val depSpecs = deps.map(_._1).toArray
    val depMeta = deps.map(_._5).toArray
    implicit val stateEnc: Encoder[ChainState] = Encoders.kryo[ChainState]
    val emitted = projected
      .groupByKey(_.k)
      .flatMapGroupsWithState[ChainState, (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[ChainRow], state: GroupState[ChainState]) =>
          val st = state.getOption.getOrElse(new ChainState)
          rows.foreach { r =>
            var cells = st.groups.get(r.o)
            if (cells == null) {
              cells = Array.fill(specs.length)(new SlotAcc)
              st.groups.put(r.o, cells)
              st.hists.put(r.o, Array.fill(depSpecs.length)(
                new java.util.HashMap[java.lang.Long, HistCell]()))
              boundOrderDomain(st.groups.size, "chained")
            }
            var i = 0
            while (i < specs.length) {
              fold(cells(i), r.micro(i), r.raw(i), specs(i).name)
              i += 1
            }
            val hs = st.hists.get(r.o)
            var j = 0
            while (j < depSpecs.length) {
              (r.cmpM(j), r.aggM(j)) match {
                case (Some(cm), Some(am)) =>
                  var cell = hs(j).get(cm)
                  if (cell == null) {
                    cell = new HistCell(r.cmpR(j).get)
                    hs(j).put(cm, cell)
                    boundHist(hs(j), depSpecs(j).name, "chained")
                  } else if (cell.raw != r.cmpR(j).get)
                    throw new IllegalStateException(
                      s"chained streaming EMF: comparison values " +
                        s"${cell.raw} and ${r.cmpR(j).get} of slot " +
                        s"${depSpecs(j).name} are distinct below the " +
                        "decimal-6 bucket resolution")
                  fold(cell.acc, Some(am), r.aggR(j), depSpecs(j).name)
                case (None, _) if r.cmpR(j).isDefined =>
                  throw new IllegalStateException(
                    s"chained streaming EMF: comparison value " +
                      s"${r.cmpR(j).get} of slot ${depSpecs(j).name} exceeds " +
                      "the exact decimal-6 domain (finite, |v| <= 9.2e12)")
                case (Some(_), None) if r.aggR(j).isDefined =>
                  throw new IllegalStateException(
                    s"chained streaming EMF: value ${r.aggR(j).get} of " +
                      s"slot ${depSpecs(j).name} exceeds the exact decimal-6 " +
                      "domain (finite, |v| <= 9.2e12)")
                case _ => ()
              }
              j += 1
            }
          }
          st.ver += 1
          state.update(st)
          emitChainKey(key, st, specs, depSpecs, depMeta, orderAttr)
      }

    // ---- typed reconstruction (same shape as planWindowed)
    val outSchema = StructType(
      eqAttrs.map(n => StructField(n, colType(n), nullable = true)) ++
        Seq(StructField(orderAttr, colType(orderAttr), nullable = true)) ++
        slots.map(s => StructField(s.spec.name,
          outType(s.spec, colType(s.srcCol)), nullable = true)) ++
        deps.map { case (s, src, _, _, _) =>
          StructField(s.name, outType(s, colType(src)), nullable = true) })
    emitted.toDF("__json", "__ver")
      .select(from_json(col("__json"), outSchema).as("r"), col("__ver"))
      .select(col("r.*"), col("__ver"))
  }

  /** Emit one JSON row per order value of the key: base/windowed slots
    * exactly as [[emitKey]]; each dependent slot re-classifies ITS
    * group's histogram against the threshold derived from the referenced
    * slot's value AT THAT GROUP — a frame combine for windowed refs, the
    * own-group partials for base refs. */
  private def emitChainKey(key: String, st: ChainState, specs: Array[SlotSpec],
      depSpecs: Array[SlotSpec], depMeta: Array[DepMeta],
      orderAttr: String): Iterator[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val ordered = st.groups.keySet().asScala.map(_.longValue()).toArray.sorted
    val n = ordered.length
    val cells = ordered.map(o => st.groups.get(o))

    val winIdx = specs.indices.filter(specs(_).kind == 1)
    val leftStrict = winIdx.map { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = 0
      while (i < n) { arr(i) = run.copyOf; run.add(cells(i)(j)); i += 1 }
      j -> arr
    }.toMap
    val rightStrict = winIdx.map { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = n - 1
      while (i >= 0) { arr(i) = run.copyOf; run.add(cells(i)(j)); i -= 1 }
      j -> arr
    }.toMap
    val total = winIdx.map { j =>
      val run = new Comb; cells.foreach(c => run.add(c(j))); j -> run
    }.toMap
    def combAt(j: Int, i: Int): Comb =
      if (specs(j).kind == 0) { val c = new Comb; c.add(cells(i)(j)); c }
      else specs(j).frameOp match {
        case "<"  => leftStrict(j)(i)
        case "<=" => { val c = leftStrict(j)(i).copyOf; c.add(cells(i)(j)); c }
        case ">"  => rightStrict(j)(i)
        case ">=" => { val c = rightStrict(j)(i).copyOf; c.add(cells(i)(j)); c }
        case _    => total(j)
      }

    val keyInner = key.substring(1, key.length - 1)
    val out = (0 until n).iterator.map { i =>
      val sb = new StringBuilder(96)
      sb.append('{')
      if (keyInner.nonEmpty) { sb.append(keyInner); sb.append(',') }
      sb.append('"').append(orderAttr).append("\":").append(ordered(i))
      var j = 0
      while (j < specs.length) {
        sb.append(",\"").append(specs(j).name).append("\":")
          .append(render(specs(j), combAt(j, i)))
        j += 1
      }
      val hs = st.hists.get(ordered(i))
      var d = 0
      while (d < depSpecs.length) {
        val m = depMeta(d)
        val comb = new Comb
        foldQualifying(comb, if (hs == null) null else hs(d), combAt(m.refIdx, i), m)
        sb.append(",\"").append(depSpecs(d).name).append("\":")
          .append(render(depSpecs(d), comb))
        d += 1
      }
      sb.append('}')
      (sb.toString, st.ver)
    }
    out.toIndexedSeq.iterator
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

  /** Emit the group's single row: base slots straight from their
    * accumulators; each dependent slot combines the histogram buckets
    * whose comparison value passes the threshold recomputed from the
    * referenced aggregate's current partials. */
  private def emitDepKey(key: String, st: DepState, baseSpecs: Array[SlotSpec],
      depSpecs: Array[SlotSpec], depMeta: Array[DepMeta]): Iterator[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val keyInner = key.substring(1, key.length - 1)
    val sb = new StringBuilder(96)
    sb.append('{')
    var first = true
    if (keyInner.nonEmpty) { sb.append(keyInner); first = false }
    def app(name: String, v: String): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(name).append("\":").append(v)
    }
    val baseCombs = baseSpecs.indices.map { i =>
      val c = new Comb; c.add(st.base(i)); c
    }
    baseSpecs.indices.foreach(i =>
      app(baseSpecs(i).name, render(baseSpecs(i), baseCombs(i))))
    depSpecs.indices.foreach { j =>
      val m = depMeta(j)
      val ref = baseCombs(m.refIdx)
      val comb = new Comb
      // a NULL reference aggregate (empty qualifying set, func != count)
      // compares to nothing — the dependent set is empty, as in batch
      foldQualifying(comb, st.hists(j), ref, m)
      app(depSpecs(j).name, render(depSpecs(j), comb))
    }
    sb.append('}')
    Iterator.single((sb.toString, st.ver))
  }

  /** Fold the histogram buckets whose comparison value passes the
    * threshold derived from `ref` (the referenced aggregate's current
    * combined partials) into `comb`. A NULL reference aggregate (empty
    * qualifying set, func != count) compares to nothing — the dependent
    * set stays empty, as in batch. */
  private def foldQualifying(comb: Comb,
      hist: java.util.HashMap[java.lang.Long, HistCell],
      ref: Comb, m: DepMeta): Unit = {
    import scala.jdk.CollectionConverters._
    if (hist == null) return
    if (m.refFunc == "count" || ref.cnt > 0) {
      if (m.cmpDouble) {
        val thr: Double = m.refFunc match {
          case "count" => ref.cnt.toDouble
          case "avg" =>
            val s =
              if (m.refFloating)
                new java.math.BigDecimal(ref.sumMicro.bigInteger, 6).doubleValue()
              else (ref.sumMicro / 1000000).toDouble
            s / ref.cnt
          case "sum" =>
            if (m.refFloating)
              new java.math.BigDecimal(ref.sumMicro.bigInteger, 6).doubleValue()
            else (ref.sumMicro / 1000000).toDouble
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
  }

  /** Current MF structure from a sink table of [[planWindowed]] emissions:
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

  /** Combined accumulator view used for frame evaluation. */
  private final class Comb {
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
    def addComb(c: Comb): Unit = {
      sumMicro += c.sumMicro; cnt += c.cnt
      if (c.mn < mn) mn = c.mn
      if (c.mx > mx) mx = c.mx
      if (c.mnMic < mnMic) mnMic = c.mnMic
      if (c.mxMic > mxMic) mxMic = c.mxMic
    }
    def copyOf: Comb = {
      val c = new Comb
      c.sumMicro = sumMicro; c.cnt = cnt; c.mn = mn; c.mx = mx
      c.mnMic = mnMic; c.mxMic = mxMic; c
    }
  }

  /** Emit one JSON row per group of the key, windowed slots recombined
    * over the order-sorted groups (prefix/suffix pass ≡ the batch RANGE
    * frames over per-group partials). */
  private def emitKey(key: String, st: WinState, specs: Array[SlotSpec],
      orderAttr: String): Iterator[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val ordered = st.groups.keySet().asScala.map(_.longValue()).toArray.sorted
    val n = ordered.length
    val cells = ordered.map(o => st.groups.get(o))

    // per windowed slot: strict-prefix and strict-suffix combines
    val winIdx = specs.indices.filter(specs(_).kind == 1)
    val leftStrict = winIdx.map { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = 0
      while (i < n) { arr(i) = run.copyOf; run.add(cells(i)(j)); i += 1 }
      j -> arr
    }.toMap
    val rightStrict = winIdx.map { j =>
      val arr = new Array[Comb](n); val run = new Comb
      var i = n - 1
      while (i >= 0) { arr(i) = run.copyOf; run.add(cells(i)(j)); i -= 1 }
      j -> arr
    }.toMap
    val total = winIdx.map { j =>
      val run = new Comb; cells.foreach(c => run.add(c(j))); j -> run
    }.toMap

    // key JSON == to_json(struct(E)) — splice its fields into each row
    val keyInner = key.substring(1, key.length - 1)

    val out = (0 until n).iterator.map { i =>
      val sb = new StringBuilder(64)
      sb.append('{')
      if (keyInner.nonEmpty) { sb.append(keyInner); sb.append(',') }
      sb.append('"').append(orderAttr).append("\":").append(ordered(i))
      var j = 0
      while (j < specs.length) {
        val s = specs(j)
        val comb =
          if (s.kind == 0) { val c = new Comb; c.add(cells(i)(j)); c }
          else s.frameOp match {
            case "<"  => leftStrict(j)(i)
            case "<=" => { val c = leftStrict(j)(i).copyOf; c.add(cells(i)(j)); c }
            case ">"  => rightStrict(j)(i)
            case ">=" => { val c = rightStrict(j)(i).copyOf; c.add(cells(i)(j)); c }
            case _    => total(j)
          }
        sb.append(",\"").append(s.name).append("\":").append(render(s, comb))
        j += 1
      }
      sb.append('}')
      (sb.toString, st.ver)
    }
    out.toIndexedSeq.iterator
  }

  /** Render one aggregate value — same null/zero semantics and arithmetic
    * as the batch lowering (sum/min/max over an empty set → null; count →
    * 0; avg guards the zero denominator). */
  private def render(s: SlotSpec, c: Comb): String = s.func match {
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
