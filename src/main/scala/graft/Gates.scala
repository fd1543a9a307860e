package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stats gates: every plan choice graft makes between two
  * result-identical plans from a measured size or skew statistic. The
  * choice lives here; the two plans live with their operators.
  *
  * One probe ([[leafBytes]]), one hot-key estimator ([[maxRowsPerKey]])
  * behind one memo ([[Memo.hotKeys]]), one skew decision ([[skewed]]) and
  * one conf reader ([[long]]) serve the five gates:
  *
  * | gate | picks | probe | default | conf key | default measured in (BASELINE.md) |
  * |---|---|---|---|---|---|
  * | share | `PlanShare` materializes a shared frame | [[leafBytes]] ≥ T | 2 GiB | `spark.graft.share.minBytes` | "Round 18 — the share gate measured where it opens naturally (sf10)" |
  * | interpret | `EmfPlanner.plan` and every `EmfStreaming` lowering run interpreted | [[sourceBytes]] < T: a batch fact's leaf bytes; a stream's file-source bytes at plan time, any other stream source unbounded; 0 forces compiled, `Long.MaxValue` interpreted | 4 MiB | `spark.graft.emf.interpret.maxBytes` | "Interpreted EMF crossover" |
  * | salt | the EMF dependent pass salts its join | [[skewed]] on (fact, equality attrs) | 100,000 rows/key above 1 GiB of leaves | `spark.graft.emf.salt.maxPerKey`, `spark.graft.emf.salt.statMinBytes` | "Round 18 — the share gate measured …", its EmfSkewDemo receipt |
  * | profile | `profileColumns` counts exact distincts | [[leafBytes]] ≤ T | 1 GiB | none: parameter `exactMaxBytes` | "Round 12 — the ×1000 probe (sf100, 22 GB, 600M-row fact)" |
  * | q21 | `q21Core` takes the distinct-count form | [[skewed]] on (lineitem, l_orderkey) | 10,000 rows/key above 1 GiB of leaves | none: parameters `skewMaxPerKey`, `statMinBytes` | "Round 14 — the +18% bench … adjudicated", q21 after the stat fix |
  *
  * Each default's constant below carries its measured reason.
  *
  * A conf key is read from the session the gated frame belongs to, so a
  * `-Dspark.graft.…` system property (which `SparkConf` loads) sets it for
  * a whole run. Materialization, execution form, salting and the q21 form
  * never change results; the profile gate switches exact distinct counts
  * to HLL++ estimates, which is why its threshold is a parameter the
  * oracle entry pins.
  */
object Gates {

  /** Share gate threshold: a multi-consumer subtree is materialized once
    * its leaf input reaches 2 GiB. MEASURED (r18): at sf10, heavy_hitters'
    * sketch/candidate pins on a 1.1 GB lineitem were 25% SLOWER gate-open
    * than gate-off (min-of-4, two alternating JVM pairs: 4.95/5.14 s vs
    * 3.92/4.03 s), and force-opening the 58 MB documents-rooted shares
    * slowed 2 of 3 text queries — on an under-utilized local[32],
    * duplicate subtrees run as CONCURRENT stages of one job, so
    * redundant-but-parallel beats dedup-but-barrier-serialized until the
    * subtree is multi-GiB. On a saturated cluster duplicated passes cost
    * real wall again, which is why the threshold is a conf, not a
    * constant; at the 100 TB design point every shared input is TB-scale
    * and crosses any sane setting. */
  val ShareMinBytes: Long = 2048L << 20

  /** Interpret gate threshold T = 4 MiB of fact leaf bytes, a measured
    * crossover (BASELINE.md, "Interpreted EMF crossover", golden q1–q8 on
    * a 4-core box): at 1.39 MB and 2.55 MB of leaves the interpreted form
    * ran in 0.32–0.79× of a cold compiled run (the ad-hoc case: every
    * query new); at 5.41 MB one query rose to 0.88× cold and 1.84× warm;
    * at 14.1 MB (sf0.1) three queries ran slower than cold. The perfbench
    * adhoc fixture has 1.84 MB. 0 forces the compiled form and
    * Long.MaxValue the interpreted one (EmfPropertySpec and
    * EmfStreamingPropertySpec run their fuzzes in both forms; Bench warms
    * both). */
  val InterpretMaxBytes: Long = 4L << 20

  /** Rows-per-equality-key ceiling above which the EMF dependent pass
    * salts the groups × tuples join; ≤ 0 forces the salted form,
    * Long.MaxValue forces the plain form — both short-circuit the
    * sampling scan, the q21 contract. The EmfSkewDemo receipt (sf10,
    * 90%-hot key) fires it naturally: task spread 47× → 1.4×, wall 7.5×
    * better. */
  val SaltMaxPerKey: Long = 100000L

  /** Leaf-bytes floor under which the salt gate skips the hot-key stat
    * and takes the plain join unconditionally: below ~1 GiB the
    * guaranteed sampling job costs a visible fraction of the query it
    * protects — the same cost-of-deciding reasoning as
    * [[Q21StatMinBytes]] / [[ProfileExactMaxBytes]]. The sf0.1 sales view
    * is far below it, so declared queries never pay the sampling job. */
  val SaltStatMinBytes: Long = 1L << 30

  /** Profile gate: 1 GiB of scan input (parquet file bytes). Under it the
    * exact multi-distinct Expand costs ~|rows|·|cols| extra aggregation
    * input — fine at fixture scale (orders at sf10 is 267 MB and profiles
    * exactly); above it the Expand is the profiler's scale killer
    * (measured 211× wall at ×1000 data, BASELINE.md sf100 probe) and the
    * distinct counts switch to approx_count_distinct in one scan-shaped
    * pass. */
  val ProfileExactMaxBytes: Long = 1L << 30

  /** Rows-per-key ceiling above which q21 abandons the lineitem
    * self-joins for the single-shuffle distinct-count form. TPC-H-shaped
    * data has ≤ 7 lines per order — orders of magnitude under this. */
  val Q21SkewMaxPerKey: Long = 10000L

  /** Leaf-bytes floor under which q21 skips the hot-key stat and takes
    * the self-join form unconditionally. The stat protects CLUSTER-scale
    * runs from a quadratic key; under ~1 GiB of input the guaranteed
    * sampling job (a full, if column-pruned, pass — Bernoulli sampling
    * still reads every row group) costs a visible fraction of the very
    * query it protects, so the planner accepts the self-join form's
    * documented worst case instead of paying a certain stat scan on every
    * small run (round 14: q21 at sf0.1 back from 1.48 s with a per-run
    * sample to 0.88 s). Above the floor the stat runs at most once per
    * (session, frame, key) ([[Memo.hotKeys]]). */
  val Q21StatMinBytes: Long = 1L << 30

  /** Sum of leaf-relation size estimates in the frame's ANALYZED plan —
    * the bytes a full re-execution of the frame would re-scan (file
    * sizes, cached-relation sizes), never a join or aggregate output
    * estimate, which inflates under non-CBO stats. Analyzed, not
    * optimized, deliberately: analysis already ran when the Dataset was
    * built, so the probe costs nothing, while forcing the optimizer would
    * pay a full optimization pass per probe (measured +0.4 s on
    * mmr_select's 183 KB tree). Leaf stats are identical in both plans;
    * the optimizer's estimate scales a projection down by row width, the
    * leaf sum counts the whole file. */
  def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The bytes `df`'s sources hold at this call, None when a source's size
    * is unknown. A batch frame's are its [[leafBytes]]. A streaming
    * frame's file-source leaf counts the [[leafBytes]] of a batch frame
    * over the same path, format and options (a file listing, no job); any
    * other streaming leaf (memory, rate, Kafka) has no size, so the frame
    * counts as unbounded, as does a file source whose path cannot be
    * listed. */
  def sourceBytes(df: DataFrame): Option[BigInt] = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case StreamingRelation(ds, _, _) if classOf[FileFormat].isAssignableFrom(ds.providingClass) =>
        scala.util.Try {
          val reader = df.sparkSession.read.format(ds.className).options(ds.options)
          leafBytes(ds.userSpecifiedSchema.fold(reader)(reader.schema).load(ds.paths: _*))
        }.toOption
      case leaf if leaf.isStreaming => None
      case leaf => Some(leaf.stats.sizeInBytes)
    }
    if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  /** `key` from `spark`'s conf as a Long, `default` when unset. A value
    * that is not an integer fails here, naming the key and the value,
    * instead of as a bare NumberFormatException mid-planning. */
  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { raw =>
      try raw.trim.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be an integer, got '$raw'")
      }
    }

  /** The share gate: would `PlanShare` materialize `df`? */
  def share(df: DataFrame): Boolean =
    leafBytes(df) >= long(df.sparkSession, "spark.graft.share.minBytes", ShareMinBytes)

  /** The interpret gate: does a plan over `fact` (a batch fact or a
    * stream) run interpreted? */
  def interpret(fact: DataFrame): Boolean = interpret(fact.sparkSession, sourceBytes(fact))

  /** The interpret gate on probed `bytes` (None: unbounded), read only
    * when the conf does not decide: T ≤ 0 forces the compiled form and
    * T = Long.MaxValue the interpreted one (the [[skewed]] convention). */
  def interpret(spark: SparkSession, bytes: => Option[BigInt]): Boolean = {
    val t = long(spark, "spark.graft.emf.interpret.maxBytes", InterpretMaxBytes)
    t == Long.MaxValue || (t > 0 && bytes.exists(_ < t))
  }

  /** The salt gate: is the EMF dependent pass over `t`, joined on the
    * equality attrs `keys`, skewed enough to salt? Both confs are read
    * (and checked) before either short-circuits. The floor reads leaf
    * bytes on purpose: the fact frame is often a cached multi-way join
    * whose un-materialized InMemoryRelation reports the join ESTIMATE,
    * which inflates past any floor even on MB-sized inputs and would
    * fire a spurious sampling job per pass. */
  def salt(t: DataFrame, keys: Seq[String]): Boolean = {
    val s = t.sparkSession
    val maxPerKey = long(s, "spark.graft.emf.salt.maxPerKey", SaltMaxPerKey)
    val statMin = long(s, "spark.graft.emf.salt.statMinBytes", SaltStatMinBytes)
    skewed(t, keys, maxPerKey, statMin)
  }

  /** Does some `keys` value of `df` hold more than `maxPerKey` rows?
    * `maxPerKey ≤ 0` answers yes and `Long.MaxValue` no, without a job;
    * at or under `statMinBytes` of leaves the answer is no, without a
    * job; otherwise [[maxRowsPerKey]] decides. */
  def skewed(df: DataFrame, keys: Seq[String], maxPerKey: Long,
      statMinBytes: Long): Boolean =
    maxPerKey <= 0L ||
      (maxPerKey != Long.MaxValue &&
        leafBytes(df) > BigInt(statMinBytes) &&
        maxRowsPerKey(df, keys) > maxPerKey)

  /** Order-of-magnitude estimate of the hottest `keys` value's row count
    * from a 0.1% Bernoulli sample (fixed seed → deterministic on a fixed
    * layout): a key with f rows lands ~f/1000 sampled rows, so
    * max(sampleCount)·1000 resolves "7 rows" vs "10 million rows" — the
    * only distinction a skew gate needs. One driver-side job per
    * (session, frame, keys): the estimate is memoized in [[Memo.hotKeys]].
    * The hot-key ceiling is a property of the (filtered) source table, not
    * of the query, so one measurement serves every later build over the
    * same frame — identical rebuilds share the entry, differently-filtered
    * frames never do. Only frames above a stat floor are sampled. At
    * warehouse scale this would be a table-statistics read. */
  def maxRowsPerKey(df: DataFrame, keys: Seq[String]): Long =
    Memo.hotKeys(df.sparkSession, (frameIdentity(df), keys)) {
      val p = 0.001
      val m = df.sample(p, seed = 42L).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("c")).agg(max(col("c"))).collect()(0)
      if (m.isNullAt(0)) 0L else (m.getLong(0) / p).toLong
    }

  /** A frame's file-source root paths plus its analyzed-plan semantic
    * hash (the hash alone for non-file frames). */
  private def frameIdentity(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val paths = df.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",") }
    paths.sorted.mkString(";") + "#" + df.queryExecution.analyzed.semanticHash()
  }
}
