package graft.emf

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The reference's six-query corpus (`src/Ad_hoc_Input.txt:1-37`),
  * retargeted at the testdata `sales_view` fixture (FIXTURES.md §2):
  * NY/CT/NJ → NATION_1/2/3, year 1997 kept (present in the data).
  *
  * Divergences from the reference, by design (SURVEY.md §2.3): query 1's
  * malformed select line is corrected; averages are true doubles with
  * correct denominators; `min` has no 0-sentinel; HAVING chains are real
  * conjunctions. The DuckDB oracle SQL below defines the expected
  * semantics.
  */
object GoldenQueries {

  val factCols: Set[String] =
    Set("cust", "prod", "day", "month", "year", "state", "quant")

  /** Reference corpus in the reference's own spec format (§1.4). */
  val corpus: String =
    """cust,avg_quant_NY,avg_quant_CT,avg_quant_NJ
      |3
      |cust
      |avg_quant_NY,avg_quant_CT,avg_quant_NJ
      |{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NATION_1},{MF.cust.avg_quant_CT}[=]{cust}:{state}[=]{NATION_2},{MF.cust.avg_quant_NJ}[=]{cust}:{state}[=]{NATION_3}
      |~
      |prod,month,sum_quant_1,sum_quant_tot
      |2
      |prod,month
      |sum_quant_1,sum_quant_tot
      |{MF.prod.sum_quant_1}[=]{prod}:{MF.month.sum_quant_1}[=]{month},{MF.prod.sum_quant_tot}[=]{prod},{year}[==]{1997}
      |~
      |cust,month,avg_quant,avg_quant_before,avg_quant_after
      |2
      |cust,month
      |avg_quant_before,avg_quant_after
      |{MF.cust.avg_quant_before}[=]{cust}:{MF.month.avg_quant_before}[<]{month},{MF.cust.avg_quant_after}[=]{cust}:{MF.month.avg_quant_after}[>]{month},{year}[==]{1997}
      |~
      |cust,prod,avg_quant_sale,avg_quant_othrcustsale
      |2
      |cust,prod
      |avg_quant_sale,avg_quant_othrcustsale
      |{MF.cust.avg_quant_sale}[=]{cust}:{MF.prod.avg_quant_sale}[=]{prod},{MF.prod.avg_quant_othrcustsale}[=]{prod}:{MF.cust.avg_quant_othrcustsale}[!=]{cust}
      |~
      |cust,avg_quant_NY,avg_quant_CT,avg_quant_NJ
      |3
      |cust
      |avg_quant_NY,avg_quant_CT,avg_quant_NJ
      |{state}[=]{NATION_1},{state}[=]{NATION_2},{state}[=]{NATION_3},{year}[==]{1997}
      |{avg_quant_NY,>,avg_quant_CT} [&&] {avg_quant_NY,>,avg_quant_NJ}
      |~
      |prod,month,avg_quant_1,count_quant_2
      |2
      |prod,month
      |avg_quant_1,count_quant_2
      |{MF.prod.avg_quant_1}[=]{prod}:{MF.month.avg_quant_1}[=]{month},{MF.prod.count_quant_2}[=]{prod}:{MF.month.count_quant_2}[=]{month}:{MF.avg_quant_1.count_quant_2}[>]{quant},{year}[==]{1997}
      |{MF.count_quant_2,>,0}""".stripMargin

  /** Query 7 (beyond the reference corpus): exercises the two defining-
    * predicate forms the reference SUPPORTS but its corpus never runs —
    *  - a tuple column compared against `MF.<groupattr>` of a DIFFERENT
    *    attribute (`{MF.month.sum_quant_dm}[<]{day}` → tuple.day <
    *    group.month; reference `src/QueryProcessor1.java:246-263`), and
    *  - an MF-vs-MF right operand (`{MF.month.X}[<]{MF.day.X}` → group.day
    *    < group.month; reference `src/QueryProcessor1.java:257-262`,
    *    emitter `src/AdhocQueryProcessor.java:596-601`) — a per-GROUP
    *    restriction: groups failing it get a NULL aggregate.
    *
    * Per (cust, day, month) group of 1997 sales: total quantity this cust
    * sold on days strictly before the group's month number — only for
    * groups whose own day precedes their month number. */
  val corpus7: String =
    """cust,day,month,sum_quant_dm
      |1
      |cust,day,month
      |sum_quant_dm
      |{MF.cust.sum_quant_dm}[=]{cust}:{MF.month.sum_quant_dm}[<]{day}:{MF.month.sum_quant_dm}[<]{MF.day.sum_quant_dm},{year}[==]{1997}""".stripMargin

  /** Query 8 (beyond the corpus): a DEPENDENT variable chained onto a
    * WINDOWED one — the two planner classes the corpus only ever uses
    * separately (q2/q3 windowed, q4/q6 dependent-on-simple). Var 1 is
    * the q3 "before" window (avg quant over the cust's earlier months);
    * var 2 counts the group's own tuples above THAT windowed aggregate
    * (`{MF.avg_quant_1.count_quant_2}[>]{quant}` → tuple.quant >
    * avg_quant_1, the §1.4 operand inversion). The reference's nested
    * loop supports the chain trivially (every aggregate is just a
    * column of the MF structure by the time scan 2 runs, reference
    * `src/QueryProcessor6.java` shape); the planner must order the
    * dependent pass after the window pass and join the windowed frame
    * in. Groups with no earlier months keep NULL avg and count 0. */
  val corpus8: String =
    """cust,month,avg_quant_1,count_quant_2
      |2
      |cust,month
      |avg_quant_1,count_quant_2
      |{MF.cust.avg_quant_1}[=]{cust}:{MF.month.avg_quant_1}[<]{month},{MF.avg_quant_1.count_quant_2}[>]{quant}:{MF.cust.count_quant_2}[=]{cust}:{MF.month.count_quant_2}[=]{month},{year}[=]{1997}""".stripMargin

  lazy val parsed: Seq[EmfQuery] =
    EmfParser.parseAll(corpus, factCols) :+
      EmfParser.parseOne(corpus7, factCols) :+
      EmfParser.parseOne(corpus8, factCols)

  /** The `sales_view` fixture memoized per (session, dir): every
    * standalone `emf_q*` entry reads the CACHED 5-way join instead of
    * rebuilding it per query — the same `_shared_*` materialization the
    * dedup pair frame uses (at deployment this fixture is a persisted
    * table; each EMF query would scan it, not re-join it). Bench charges
    * the build to `_shared_sales_view`; [[clearCache]] evicts. */
  def salesViewCached(s: SparkSession, dir: String): DataFrame =
    graft.Memo.salesView(s, dir)(Tables.salesView(s, dir).cache())

  /** Evict the memoized fact frames; the next call rebuilds. */
  def clearCache(): Unit = graft.Memo.evict("GoldenQueries")

  /** Run golden query i (1-based) end-to-end: parse → plan → order. */
  def run(i: Int)(s: SparkSession, dir: String): DataFrame = {
    val q = parsed(i - 1)
    EmfPlanner.plan(q, salesViewCached(s, dir))
      .orderBy(q.groupAttrs.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Multi-query execution of the whole corpus — the reference's OWN
    * workload is exactly this batch (`src/Ad_hoc_Input.txt` carries all
    * six queries in one file; the generated program runs them
    * sequentially, re-reading the table each time, reference
    * `src/QueryProcessor1.java:79-96`). Here ONE cached fact frame feeds
    * all seven planners, so the 5-way `sales_view` join and its scans
    * run once instead of 7× — the shared-scan multi-query optimization
    * a batch OLAP session wants. Output is the per-query result
    * cardinality (each query's full result is already bit-checked by
    * its own `emf_q*` oracle entry; [[graft.emf.EmfPlannerSpec]]
    * asserts the batch path returns row-identical frames). */
  def runBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // same session-memoized fixture as the standalone entries — the
    // batch and the emf_q* singles share ONE materialized join.
    //
    // r18 MEASURED AND REJECTED (guide §1.1/§2.6): a 4-thread driver
    // pool running the 8 planner count jobs concurrently (eager, with a
    // pre-materializing fact.count()) was built and A/B'd at sf10 in
    // alternating JVM pairs — union form mins 7.9/10.0 s vs pool form
    // 18.8/11.2 s (cold first iterations 14.6/18.1 vs 66.8/65.3 s).
    // Event-log receipts show WHY the pool loses: this lazy union
    // executes as ONE job whose independent branch stages AQE already
    // materializes concurrently (the §2.6 back-fill with no code), while
    // the pool serializes each query's multi-job dependent passes on its
    // own thread, adds a full cache-scan warm-up pass, and contends the
    // scheduler. The overlap the r17 verdict asked for was already
    // there; the measurement is in OPTIMIZATION_r18.md.
    val fact = salesViewCached(s, dir)
    parsed.zipWithIndex.map { case (q, i) =>
      EmfPlanner.plan(q, fact)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(i + 1).as("query_id"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy(col("query_id"))
  }

  /** EMF through the MF-SQL frontend over a DIFFERENT fact table
    * (`events`): per user, average purchase value vs average error value,
    * plus the count of events above the user's purchase average (an EMF
    * dependency), keeping users where purchases average above errors. */
  val eventsMfSql: String =
    """SELECT user_id, avg(P.value) AS avg_value_purchase,
      |       avg(E.value) AS avg_value_error,
      |       count(H.value) AS count_value_high
      |FROM events
      |GROUP BY user_id ; P, E, H
      |SUCH THAT P.user_id = user_id AND P.event_type = 'purchase',
      |          E.user_id = user_id AND E.event_type = 'error',
      |          H.user_id = user_id AND H.value > avg_value_purchase
      |HAVING avg_value_purchase > avg_value_error""".stripMargin

  def runEventsMf(s: SparkSession, dir: String): DataFrame = {
    // NOT NULL constraints declared at the view boundary (the standard
    // warehouse move): the generator never emits null user_id/
    // event_type/value (checked at every SF), and nullable grouping
    // keys would push EmfPlanner onto its null-safe membership joins —
    // an extra exchange per dependent pass for nulls that cannot occur.
    // AssertNotNull makes the constraint load-bearing: a violating
    // regeneration fails loudly instead of silently slowing plans.
    def nn(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.CatalystBridge.column(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.graftbridge.CatalystBridge.expression(c)))
    val fact = Tables.events(s, dir)
      .select(nn(org.apache.spark.sql.functions.col("user_id")).as("user_id"),
        nn(org.apache.spark.sql.functions.col("event_type")).as("event_type"),
        nn(org.apache.spark.sql.functions.col("value")).as("value"))
    val q = MfSqlParser.parse(eventsMfSql, fact.columns.toSet)
    EmfPlanner.plan(q, fact)
      .orderBy(org.apache.spark.sql.functions.col("user_id"))
  }

  private val sales = s"sales AS (${Tables.salesViewSql})"

  /** DuckDB oracle SQL, one per golden query, with column names exactly
    * matching the Spark output (driver hash-compares after sorting columns
    * by name). Counts/sums cast to BIGINT (DuckDB sums to HUGEINT).
    *
    * Averages are written as `CAST(sum(x) AS DOUBLE)/count(x)`, never
    * DuckDB's `avg()`: DuckDB's avg over integers is a streaming mean that
    * drifts from the correctly-rounded sum÷count by ~1 ulp (observed:
    * 25.590732224973472 vs the exact 25.59073222497347), while Spark and
    * this exact form divide identical operands → bit-identical doubles. */
  private val perQueryOracle: Map[String, String] = Map(
    "emf_events" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(value AS DECIMAL(27,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
        |      / count(value) FILTER (WHERE event_type = 'purchase') AS avg_p,
        |    CAST(sum(CAST(value AS DECIMAL(27,6))) FILTER (WHERE event_type = 'error') AS DOUBLE)
        |      / count(value) FILTER (WHERE event_type = 'error') AS avg_e
        |  FROM events GROUP BY user_id),
        |h AS (
        |  SELECT e.user_id, count(e.value) AS c
        |  FROM events e JOIN g ON e.user_id = g.user_id
        |  WHERE e.value > g.avg_p GROUP BY e.user_id)
        |SELECT g.user_id, avg_p AS avg_value_purchase,
        |  avg_e AS avg_value_error,
        |  COALESCE(h.c, 0) AS count_value_high
        |FROM g LEFT JOIN h USING (user_id)
        |WHERE avg_p > avg_e
        |ORDER BY g.user_id""".stripMargin,
    "emf_q1" ->
      s"""WITH $sales
         |SELECT cust,
         | CAST(sum(CASE WHEN state='NATION_1' THEN quant END) AS DOUBLE)
         |   / count(CASE WHEN state='NATION_1' THEN quant END) AS avg_quant_NY,
         | CAST(sum(CASE WHEN state='NATION_2' THEN quant END) AS DOUBLE)
         |   / count(CASE WHEN state='NATION_2' THEN quant END) AS avg_quant_CT,
         | CAST(sum(CASE WHEN state='NATION_3' THEN quant END) AS DOUBLE)
         |   / count(CASE WHEN state='NATION_3' THEN quant END) AS avg_quant_NJ
         |FROM sales GROUP BY cust ORDER BY cust""".stripMargin,
    "emf_q2" ->
      s"""WITH $sales,
         | s AS (SELECT * FROM sales WHERE year=1997),
         | g AS (SELECT prod, month, CAST(sum(quant) AS BIGINT) AS sum_quant_1
         |       FROM s GROUP BY 1,2),
         | t AS (SELECT g.prod, g.month,
         |         CAST(sum(x.quant) AS BIGINT) AS sum_quant_tot
         |       FROM g JOIN s x ON x.prod = g.prod GROUP BY 1,2)
         |SELECT g.prod, g.month, g.sum_quant_1, t.sum_quant_tot
         |FROM g LEFT JOIN t ON g.prod=t.prod AND g.month=t.month
         |ORDER BY g.prod, g.month""".stripMargin,
    "emf_q3" ->
      s"""WITH $sales,
         | s AS (SELECT * FROM sales WHERE year=1997),
         | g AS (SELECT cust, month,
         |         CAST(sum(quant) AS DOUBLE)/count(quant) AS avg_quant
         |       FROM s GROUP BY 1,2),
         | b AS (SELECT g.cust, g.month,
         |         CAST(sum(x.quant) AS DOUBLE)/count(x.quant) AS avg_quant_before
         |       FROM g JOIN s x ON x.cust=g.cust AND x.month < g.month GROUP BY 1,2),
         | a AS (SELECT g.cust, g.month,
         |         CAST(sum(x.quant) AS DOUBLE)/count(x.quant) AS avg_quant_after
         |       FROM g JOIN s x ON x.cust=g.cust AND x.month > g.month GROUP BY 1,2)
         |SELECT g.cust, g.month, g.avg_quant, b.avg_quant_before, a.avg_quant_after
         |FROM g LEFT JOIN b ON g.cust=b.cust AND g.month=b.month
         |       LEFT JOIN a ON g.cust=a.cust AND g.month=a.month
         |ORDER BY g.cust, g.month""".stripMargin,
    "emf_q4" ->
      s"""WITH $sales,
         | g AS (SELECT cust, prod,
         |         CAST(sum(quant) AS DOUBLE)/count(quant) AS avg_quant_sale
         |       FROM sales GROUP BY 1,2),
         | o AS (SELECT g.cust, g.prod,
         |         CAST(sum(x.quant) AS DOUBLE)/count(x.quant) AS avg_quant_othrcustsale
         |       FROM g JOIN sales x ON x.prod=g.prod AND x.cust<>g.cust GROUP BY 1,2)
         |SELECT g.cust, g.prod, g.avg_quant_sale, o.avg_quant_othrcustsale
         |FROM g LEFT JOIN o ON g.cust=o.cust AND g.prod=o.prod
         |ORDER BY g.cust, g.prod""".stripMargin,
    "emf_q5" ->
      s"""WITH $sales
         |SELECT * FROM (
         |  SELECT cust,
         |   CAST(sum(CASE WHEN state='NATION_1' THEN quant END) AS DOUBLE)
         |     / count(CASE WHEN state='NATION_1' THEN quant END) AS avg_quant_NY,
         |   CAST(sum(CASE WHEN state='NATION_2' THEN quant END) AS DOUBLE)
         |     / count(CASE WHEN state='NATION_2' THEN quant END) AS avg_quant_CT,
         |   CAST(sum(CASE WHEN state='NATION_3' THEN quant END) AS DOUBLE)
         |     / count(CASE WHEN state='NATION_3' THEN quant END) AS avg_quant_NJ
         |  FROM sales WHERE year=1997 GROUP BY cust)
         |WHERE avg_quant_NY > avg_quant_CT AND avg_quant_NY > avg_quant_NJ
         |ORDER BY cust""".stripMargin,
    "emf_q6" ->
      s"""WITH $sales,
         | s AS (SELECT * FROM sales WHERE year=1997),
         | g1 AS (SELECT prod, month,
         |          CAST(sum(quant) AS DOUBLE)/count(quant) AS avg_quant_1
         |        FROM s GROUP BY 1,2),
         | g2 AS (SELECT x.prod, x.month, count(x.quant) AS count_quant_2
         |        FROM s x JOIN g1 ON x.prod=g1.prod AND x.month=g1.month
         |        WHERE x.quant > g1.avg_quant_1 GROUP BY 1,2)
         |SELECT g1.prod, g1.month, g1.avg_quant_1,
         |       COALESCE(g2.count_quant_2, 0) AS count_quant_2
         |FROM g1 LEFT JOIN g2 ON g1.prod=g2.prod AND g1.month=g2.month
         |WHERE COALESCE(g2.count_quant_2, 0) > 0
         |ORDER BY g1.prod, g1.month""".stripMargin,
    // emf_q7: tuple.day < MF.month (cross-attribute) + MF.day < MF.month
    // (group restriction — groups failing it keep a NULL aggregate)
    "emf_q7" ->
      s"""WITH $sales,
         | s AS (SELECT * FROM sales WHERE year=1997),
         | g AS (SELECT DISTINCT cust, day, month FROM s),
         | v AS (SELECT g.cust, g.day, g.month,
         |         CAST(sum(x.quant) AS BIGINT) AS sum_quant_dm
         |       FROM g JOIN s x ON x.cust = g.cust AND x.day < g.month
         |                      AND g.day < g.month
         |       GROUP BY 1,2,3)
         |SELECT g.cust, g.day, g.month, v.sum_quant_dm
         |FROM g LEFT JOIN v
         |  ON g.cust=v.cust AND g.day=v.day AND g.month=v.month
         |ORDER BY g.cust, g.day, g.month""".stripMargin,
    // emf_q8: dependent-on-windowed chain; NULL window avg => count 0
    "emf_q8" ->
      s"""WITH $sales,
         | s AS (SELECT * FROM sales WHERE year=1997),
         | g AS (SELECT DISTINCT cust, month FROM s),
         | a AS (SELECT g.cust, g.month,
         |         CAST(sum(x.quant) AS DOUBLE)/count(x.quant) AS avg_quant_1
         |       FROM g JOIN s x ON x.cust=g.cust AND x.month < g.month
         |       GROUP BY 1,2),
         | ga AS (SELECT g.cust, g.month, a.avg_quant_1
         |        FROM g LEFT JOIN a ON g.cust=a.cust AND g.month=a.month),
         | c AS (SELECT ga.cust, ga.month,
         |         CAST(count(x.quant) AS BIGINT) AS count_quant_2
         |       FROM ga JOIN s x ON x.cust=ga.cust AND x.month=ga.month
         |                       AND x.quant > ga.avg_quant_1
         |       GROUP BY 1,2)
         |SELECT ga.cust, ga.month, ga.avg_quant_1,
         |  CAST(coalesce(c.count_quant_2, 0) AS BIGINT) AS count_quant_2
         |FROM ga LEFT JOIN c ON ga.cust=c.cust AND ga.month=c.month
         |ORDER BY ga.cust, ga.month""".stripMargin,
  )

  private def batchSql(qs: Map[String, String]): String =
    (1 to 8).map(i =>
      s"SELECT $i AS query_id, count(1) AS n_rows FROM (\n" +
        qs(s"emf_q$i") + "\n)")
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Per-query oracles plus the batch oracle — per-query counts over the
    * very same per-query SQL (DuckDB allows a WITH inside a FROM
    * subquery). */
  val oracle: Map[String, String] = perQueryOracle +
    ("emf_batch" -> batchSql(perQueryOracle))

  /** SCALE-FORM oracles for the sf10+ comparator
    * (`tools/check_oracle_sf10.py`), substituted for the primary form
    * only at that scale and recorded per-entry as `scale_form` in the
    * committed results JSON. Scale forms carry no final ORDER BY: the
    * comparator's digest is order-independent, and at ×1000 the sort of
    * a 287M-row result is pure spill. Output-alias parity with the
    * primary is enforced by `tools/check_scale_form.py`'s column-sorted
    * digest (a renamed column digests differently).
    *
    * emf_q4 — the primary oracle joins `g` (cust×prod groups) back to
    * `sales` ON prod alone — and prod is p_brand, 25 distinct values,
    * so the join is quadratic per brand: ~3×10¹² intermediate rows at
    * sf10 (observed: 74 GB of DuckDB temp spill, death-by-disk). The
    * scale form applies the complement identity the EMF literature
    * uses for `<>`-membership —
    *   avg over OTHER customers = (S_prod − s_own) / (C_prod − c_own)
    * — on exact HUGEINT sums/counts, so the DOUBLE division sees
    * bit-identical operands and the result is bit-identical to the
    * join form. NULL when the complement is empty, exactly as the join
    * form's LEFT-JOIN miss. The r15 version of this form rebuilt the
    * result as `g LEFT JOIN o` on (cust, prod) — two 287M-row frames
    * from the SAME pg row re-joined on VARCHAR pair keys; at sf100 that
    * hash build alone crossed the disk budget. Both columns now project
    * straight off one `pg JOIN tot` (tot is ≤|prod| rows), and `pg` is
    * the only multi-referenced frame (287M × 4 narrow cols).
    *
    * emf_q8 — the primary's windowed step `a` joins g×s on
    * `x.month < g.month` (a per-cust quadratic frame: ~600M-row s
    * replayed per month) and references the 600M-row `s` three times,
    * which DuckDB materializes in full — >40 GB of spill at sf100. The
    * scale form pre-aggregates s once to `cmq` (cust, month, quant,
    * count) — ≤|rows| but 4 narrow cols, the only multi-referenced
    * frame — folds exact per-(cust,month) HUGEINT partials `pm`, and
    * renders the windowed avg as a strict-prefix window (ROWS UNBOUNDED
    * PRECEDING .. 1 PRECEDING ≡ RANGE here: pm is key-unique per
    * month). sum-of-int partials are exact, so prefix-summing them in
    * any order yields the primary's operands bit-for-bit; an empty
    * frame gives NULL exactly as the primary's LEFT-JOIN miss. The
    * dependent count re-reads cmq (sum of cnt ≡ count of raw rows) —
    * the same partial-fold algebra as the engine's windowedPass /
    * dependentPass, in a different engine; the sf0.01 gate keeps
    * running the independent join form.
    *
    * emf_batch — the primary (and the r15 scale form, which hoisted
    * one `sales AS MATERIALIZED` over the union) materializes the
    * 600M-row wide frame; at sf100 that alone is >35 GB of spill. But
    * the batch output is only the 8 per-query ROW COUNTS, and for
    * every branch except q5/q6 the count is a distinct-count: each
    * branch's final LEFT JOINs are row-preserving (the right side is
    * GROUP BY'd on the join key, hence key-unique), so |output| =
    * |g| = |DISTINCT group-attrs of its base|. q5's count needs the
    * actual conditional avgs (one single-pass GROUP BY, already lean);
    * q6's needs the groups whose over-avg count is positive, computed
    * from a (prod, month, quant, count) pre-aggregate that is tiny
    * (≤ |prod|·12·|quant| rows). Every branch re-derives `sales`
    * privately with a single reference, so DuckDB streams the six-way
    * join into each branch's aggregate and nothing wide is ever
    * stored. */
  private val scaleFormsAndProbes
      : (Map[String, String], Map[String, String]) = {
    // pg MUST be MATERIALIZED: DuckDB 1.0 inlines CTEs regardless of
    // reference count, so without the hint the twice-referenced pg
    // expands into TWO full six-way joins + TWO 287M-group aggregates
    // running concurrently (observed in EXPLAIN at sf100 — that, not
    // the algebra, was the r16 first-attempt spill). Materialized, the
    // plan is one streamed join → one aggregate → a ≤|prod|-row tot.
    val q4Ctes =
      s"""WITH $sales,
         | pg AS (SELECT cust, prod, sum(quant) AS s, count(quant) AS c
         |        FROM sales GROUP BY 1,2),
         | tot AS (SELECT prod, sum(s) AS ts, sum(c) AS tc
         |         FROM pg GROUP BY 1)
         |""".stripMargin
    val q4 = graft.OracleSql.materialized(
      q4Ctes +
        """SELECT pg.cust, pg.prod,
          |  CAST(pg.s AS DOUBLE)/pg.c AS avg_quant_sale,
          |  CASE WHEN tot.tc - pg.c > 0
          |       THEN CAST(tot.ts - pg.s AS DOUBLE)/(tot.tc - pg.c)
          |  END AS avg_quant_othrcustsale
          |FROM pg JOIN tot USING (prod)""".stripMargin,
      "pg")
    // q4 has no float comparison or round — its divisions feed output
    // directly, and the scale argument is operand identity: both forms
    // divide the SAME exact integer sums/counts. That identity yields
    // bit-identical doubles only while the integers are themselves
    // exactly double-representable (< 2⁵³); the probe records the
    // corpus's actual headroom to that bound so a corpus whose sums
    // outgrow it is detected rather than assumed away.
    val q4Probe = graft.OracleSql.materialized(
      q4Ctes +
        """SELECT 9007199254740992.0 - CAST(max(ts) AS DOUBLE)
          |    AS double_exact_sum_headroom,
          |  CAST(max(ts) AS DOUBLE) AS max_prod_sum
          |FROM tot""".stripMargin,
      "pg")
    // cmq and ga MUST be MATERIALIZED like q4's pg: cmq is referenced
    // by pm and c, ga by c and the final SELECT, and DuckDB 1.0 inlines
    // a CTE at every reference — un-hinted, the full six-way sales join
    // is duplicated recursively down the chain (the exact shape the r15
    // primary died on with >38 GB of spill). Materialized, sales runs
    // once into cmq (≤|rows| but 4 narrow cols) and everything after is
    // narrow-frame algebra.
    val q8Ctes =
      s"""WITH $sales,
         | cmq AS (SELECT cust, month, quant, count(quant) AS cnt
         |         FROM sales WHERE year=1997 GROUP BY 1,2,3),
         | pm AS (SELECT cust, month, sum(quant * cnt) AS s, sum(cnt) AS n
         |        FROM cmq GROUP BY 1,2),
         | ga AS (SELECT cust, month,
         |          CAST(sum(s) OVER w AS DOUBLE)
         |            / CAST(sum(n) OVER w AS BIGINT) AS avg_quant_1
         |        FROM pm
         |        WINDOW w AS (PARTITION BY cust ORDER BY month
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin
    val q8 = graft.OracleSql.materialized(
      q8Ctes +
        """,
          | c AS (SELECT ga.cust, ga.month,
          |         CAST(sum(x.cnt) AS BIGINT) AS count_quant_2
          |       FROM ga JOIN cmq x ON x.cust=ga.cust AND x.month=ga.month
          |                         AND x.quant > ga.avg_quant_1
          |       GROUP BY 1,2)
          |SELECT ga.cust, ga.month, ga.avg_quant_1,
          |  CAST(coalesce(c.count_quant_2, 0) AS BIGINT) AS count_quant_2
          |FROM ga LEFT JOIN c ON ga.cust=c.cust AND ga.month=c.month""".stripMargin,
      "cmq", "ga")
    // q8's float comparison: INTEGER quant > avg_quant_1 (a double
    // division of exact integer partials). The division is
    // operand-identical across forms; the probe records how close any
    // compared (quant, avg) pair sits to equality — a margin of ~1e-16
    // at a bigger SF would mean the dependent count's greenness rides
    // the last ulp of that shared division instead of slack.
    val q8Probe = graft.OracleSql.materialized(
      q8Ctes +
        """
          |SELECT min(abs(CAST(x.quant AS DOUBLE) - ga.avg_quant_1))
          |    AS min_threshold_margin
          |FROM ga JOIN cmq x ON x.cust=ga.cust AND x.month=ga.month""".stripMargin,
      "cmq", "ga")
    // private count bodies for the two batch branches that need
    // second-level aggregation (the other six reduce to struct-DISTINCT
    // aggregates of one shared pass — see `mega` below)
    val q5Inner =
      """SELECT cust,
        |   CAST(sum(CASE WHEN state='NATION_1' THEN quant END) AS DOUBLE)
        |     / count(CASE WHEN state='NATION_1' THEN quant END) AS avg_quant_NY,
        |   CAST(sum(CASE WHEN state='NATION_2' THEN quant END) AS DOUBLE)
        |     / count(CASE WHEN state='NATION_2' THEN quant END) AS avg_quant_CT,
        |   CAST(sum(CASE WHEN state='NATION_3' THEN quant END) AS DOUBLE)
        |     / count(CASE WHEN state='NATION_3' THEN quant END) AS avg_quant_NJ
        |  FROM sales WHERE year=1997 GROUP BY cust""".stripMargin
    val q6Ctes =
      s"""WITH $sales,
         | pq AS (SELECT prod, month, quant, count(quant) AS cnt
         |        FROM sales WHERE year=1997 GROUP BY 1,2,3),
         | g1 AS (SELECT prod, month,
         |          CAST(sum(quant * cnt) AS DOUBLE)
         |            / CAST(sum(cnt) AS BIGINT) AS avg_quant_1
         |        FROM pq GROUP BY 1,2)""".stripMargin
    // emf_batch's float comparisons live in its q5/q6 branches: q5
    // compares avg-vs-avg (both double divisions of exact integer
    // partials), q6 compares integer quant vs such an avg. Both
    // divisions are operand-identical across the primary and scale
    // forms; the probes record the corpus's minimum distance to each
    // decision boundary over the same frames the branches compare.
    val batchProbe =
      s"""SELECT
         |  (SELECT min(least(abs(avg_quant_NY - avg_quant_CT),
         |                    abs(avg_quant_NY - avg_quant_NJ)))
         |   FROM (WITH $sales
         |     $q5Inner)) AS q5_min_avg_vs_avg_margin,
         |  (${graft.OracleSql.materialized(
               q6Ctes +
                 """
                   | SELECT min(abs(CAST(x.quant AS DOUBLE) - g1.avg_quant_1))
                   | FROM pq x JOIN g1 ON x.prod=g1.prod AND x.month=g1.month""".stripMargin,
               "pq")}) AS q6_min_threshold_margin""".stripMargin
    // Fold the six distinct-count branches into ONE aggregate pass:
    // a flat eight-branch UNION ALL is concurrency-broken in DuckDB —
    // it schedules independent branch pipelines concurrently and splits
    // its memory limit across every concurrent blocking operator, so
    // eight concurrent six-way joins + distinct tables spilled >45 GB
    // at sf10 where each branch ALONE runs in 1–11 s with zero spill
    // (measured r16; serializing the branches with tautological
    // subquery gates was tried and rejected — the gate filter's EC-0
    // estimate flips hash-join build sides onto the fact table, and a
    // minimal nation-only gate live-locks DuckDB 1.0's scheduler).
    // Here counts 1/2/3/4/7/8 ride one scan as struct-DISTINCT
    // aggregates — count(DISTINCT (a, b)) over a CASE that nulls out
    // non-qualifying rows is exactly |DISTINCT a, b WHERE pred|, the
    // row count of each branch's key-preserving LEFT-JOIN output —
    // measured 12 s / ZERO spill at sf10 against the per-branch truth.
    // q5/q6 need second-level aggregation and keep private single-pass
    // branches; each of the three parts derives `sales` privately with
    // a single reference, so nothing 600M-row-wide is materialized.
    // r17 rebuild after TWO measured sf100 failures of earlier shapes:
    // (a) the r16 struct-keyed single-pass mega ((int, varchar) / 3-int
    // distinct entries across ~1 B total set rows) spilled past a 30 GB
    // temp budget, and (b) its c1 = c1i injectivity witness is actually
    // VIOLATED at sf100 — c_name collides there (14,864,009 distinct
    // names over 14,999,000 custs-with-sales), so the o_custkey
    // substitution would NULL the guarded counts (a visible fail, but
    // still a fail). The rebuild:
    //  - dict / pdict map names to keys with BIJECTIONS BY
    //    CONSTRUCTION, no witness needed: nk = min(c_custkey) per
    //    c_name (one key per NAME — colliding names share a key, which
    //    is exactly name-level group identity), pk = row_number over
    //    DISTINCT p_brand. Cust-keyed distinct sets then ride one
    //    packed 8-byte BIGINT each: (nk, month) → nk·16 + month,
    //    (nk, day, month) → nk·512 + day·16 + month (calendar ranges),
    //    (nk, pk) → nk·1024 + pk (pbad witnesses pk < 1024).
    //  - the year-1997 work (c2/c3/c7 + the q5/q6 branches) reads ONE
    //    materialized pre-aggregate m1997 (nk/pk-keyed, ~1/7 of the
    //    corpus, no strings beyond state) instead of three private
    //    six-way joins; only c1/c4/pbad still scan the raw join. Two
    //    concurrent wide joins instead of four halves the concurrent
    //    blocking-operator memory that caused (a) — measured parts:
    //    mega-alone 11.4 GB spill, q5/q6-alone ZERO, combined r16 form
    //    >30 GB. q5's avgs divide sum(quant·cnt)/sum(cnt) — the same
    //    exact integers the primary divides, so the doubles are
    //    bit-identical; q6's positive-count filter becomes EXISTS
    //    (count_quant_2 = sum of cnt ≥ 1 per joined row, so > 0 ⟺ a
    //    row exists).
    val batch = graft.OracleSql.materialized(
      s"""WITH $sales,
         | dict AS (SELECT c_name, CAST(min(c_custkey) AS BIGINT) AS nk
         |          FROM customer GROUP BY 1),
         | pdict AS (SELECT p_brand,
         |             CAST(row_number() OVER (ORDER BY p_brand) AS BIGINT)
         |               AS pk
         |           FROM (SELECT DISTINCT p_brand FROM part)),
         | m1997 AS (
         |   SELECT d.nk, pd.pk, s.month, s.day, s.state, s.quant,
         |          count(1) AS cnt
         |   FROM sales s JOIN dict d ON d.c_name = s.cust
         |                JOIN pdict pd ON pd.p_brand = s.prod
         |   WHERE s.year = 1997 GROUP BY 1,2,3,4,5,6),
         | agg AS (
         |   SELECT count(DISTINCT d.nk) AS c1,
         |     count(DISTINCT d.nk * 1024 + pd.pk) AS c4,
         |     count(CASE WHEN pd.pk >= 1024 OR pd.pk < 1 THEN 1 END) AS pbad
         |   FROM sales s JOIN dict d ON d.c_name = s.cust
         |                JOIN pdict pd ON pd.p_brand = s.prod),
         | agg97 AS (
         |   SELECT count(DISTINCT (pk, month)) AS c2,
         |     count(DISTINCT nk * 16 + month) AS c3,
         |     count(DISTINCT nk * 512 + day * 16 + month) AS c7
         |   FROM m1997),
         | q5c AS (
         |   SELECT count(1) AS n FROM (
         |     SELECT nk,
         |      CAST(sum(CASE WHEN state='NATION_1' THEN quant * cnt END) AS DOUBLE)
         |        / CAST(sum(CASE WHEN state='NATION_1' THEN cnt END) AS BIGINT)
         |        AS a1,
         |      CAST(sum(CASE WHEN state='NATION_2' THEN quant * cnt END) AS DOUBLE)
         |        / CAST(sum(CASE WHEN state='NATION_2' THEN cnt END) AS BIGINT)
         |        AS a2,
         |      CAST(sum(CASE WHEN state='NATION_3' THEN quant * cnt END) AS DOUBLE)
         |        / CAST(sum(CASE WHEN state='NATION_3' THEN cnt END) AS BIGINT)
         |        AS a3
         |     FROM m1997 GROUP BY nk)
         |   WHERE a1 > a2 AND a1 > a3),
         | q6c AS (
         |   SELECT count(1) AS n FROM (
         |     SELECT DISTINCT x.pk, x.month
         |     FROM (SELECT pk, month, quant, sum(cnt) AS cnt2
         |           FROM m1997 GROUP BY 1,2,3) x
         |     JOIN (SELECT pk, month,
         |             CAST(sum(quant * cnt) AS DOUBLE)
         |               / CAST(sum(cnt) AS BIGINT) AS avg_quant_1
         |           FROM m1997 GROUP BY 1,2) g1
         |       ON x.pk = g1.pk AND x.month = g1.month
         |     WHERE x.quant > g1.avg_quant_1))
         |SELECT 1 AS query_id, c1 AS n_rows FROM agg
         |UNION ALL SELECT 2, c2 FROM agg97
         |UNION ALL SELECT 3, c3 FROM agg97
         |UNION ALL SELECT 4, CASE WHEN pbad = 0 THEN c4 END FROM agg
         |UNION ALL SELECT 5, n FROM q5c
         |UNION ALL SELECT 6, n FROM q6c
         |UNION ALL SELECT 7, c7 FROM agg97
         |UNION ALL SELECT 8, c3 FROM agg97""".stripMargin,
      "dict", "pdict", "m1997", "agg", "agg97")
    (Map("emf_q4" -> q4, "emf_q8" -> q8, "emf_batch" -> batch),
      Map("emf_q4" -> q4Probe, "emf_q8" -> q8Probe,
        "emf_batch" -> batchProbe))
  }

  val scaleOracle: Map[String, String] = scaleFormsAndProbes._1

  /** Margin diagnostics recorded next to each EMF scale-form stamp by
    * `tools/check_scale_form.py` (see `SparkEntry.oracleMarginProbes`
    * and the per-form comments above each probe). */
  val marginProbes: Map[String, String] = scaleFormsAndProbes._2
}
