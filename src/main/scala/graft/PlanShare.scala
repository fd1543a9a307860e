package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Size-adaptive materialization of multi-consumer subtrees (r17).
  *
  * A frame consumed by several downstream branches can either be
  * re-computed per consumer (Spark's default — plans are trees, not
  * DAGs) or materialized once (persist / localCheckpoint). Which is
  * cheaper depends on the INPUT volume of the subtree, and the two
  * regimes are orders of magnitude apart at the extremes:
  *
  *  - At bench scale (sf0.1 = 17 MB total input) a materialization
  *    barrier costs MORE than recompute: the barrier serializes the
  *    plan into extra sequential stages/jobs and pays cache encoding,
  *    while re-running a few-MB scan is ~free. Measured on this box
  *    (TimeQuery min-of-4, both A/B orders): unconditional persists
  *    on 13 affected queries cost +25-50% wall at sf0.1.
  *  - At warehouse scale each extra consumer re-runs a corpus-sized
  *    scan + parse (the 100 TB killer — e.g. langid_nb's model side
  *    re-tokenized the whole corpus 3× before r17).
  *
  * So the decision is the share gate ([[Gates.share]]): the subtree's
  * LEAF input bytes (the recompute cost proxy — join/aggregate output
  * estimates inflate under non-CBO stats, leaf sizes don't) against
  * `spark.graft.share.minBytes`, default 2 GiB (measured; see
  * [[Gates.ShareMinBytes]]). The same stats-gated-choice pattern as
  * `q21Core`'s skew alternative. Values are identical in both regimes —
  * materialization never changes results, only the execution DAG.
  */
object PlanShare {

  /** Storage level for [[shared]] — above the gate the persisted frames
    * have multi-GiB inputs and can be corpus-scale (langid_nb's exploded
    * (doc,lang,w,c) frame, text_bigram_lm's bigram explode), so they are
    * SERIALIZED memory+disk: ~2-5× denser than the deserialized default,
    * trading decode CPU for not pressuring executor memory with
    * corpus-sized caches at the 100 TB design point (r17 advice). */
  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  /** Would [[shared]]/[[pinned]] materialize this frame? Exposed so a
    * query can choose between two EXACTLY-equivalent derivations whose
    * relative cost flips with materialization — e.g. heavy_hitters'
    * n_tot is Σ row-0 sketch counters (cheap off the pinned sketch,
    * a full re-sketch when the gate is closed) ≡ count(keys) (one cheap
    * column scan). Same stats-gated-alternative pattern as q21Core. */
  def crossesGate(df: DataFrame): Boolean = Gates.share(df)

  /** Persist `df` for its multiple consumers when its inputs are big
    * enough that recompute dominates; no-op below the threshold.
    * Registered with [[graft.emf.EmfPlanner.registerPersisted]] so the
    * entrypoints' per-query cleanup reclaims it. */
  def shared(df: DataFrame): DataFrame =
    if (Gates.share(df)) {
      graft.emf.EmfPlanner.registerPersisted(df.persist(Level))
      df
    } else df

  /** Eagerly localCheckpoint `df` (truncating lineage so iterative /
    * multi-consumer plans stop re-executing the upstream) when its
    * inputs are big enough; no-op below the threshold. Use for SMALL
    * outputs of EXPENSIVE subtrees (per-round iterates, candidate
    * sets); executor-local blocks — the connectedComponents fault-
    * tolerance caveat applies and is acceptable for these KB-sized
    * frames. */
  def pinned(df: DataFrame): DataFrame =
    if (Gates.share(df)) df.localCheckpoint() else df
}
