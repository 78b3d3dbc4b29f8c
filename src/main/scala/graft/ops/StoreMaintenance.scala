package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The maintenance loop the stats relations exist for: read a store's
  * health, compact it exactly when the numbers say so — never blind
  * on a cron, never by an operator eyeballing directory listings.
  *
  * Two signals, matching what compaction actually fixes:
  *
  *  - DEAD ROWS: tombstoned/total above `maxTombstoneRatio` means
  *    every query/batch is paying an anti-join over rows that a
  *    rewrite would simply drop.
  *  - FRAGMENTATION: ingest count above `maxIngests` means appends
  *    have multiplied the file count (each append lands ~a file per
  *    partition it touches) and scans are paying open/footer overhead
  *    a rewrite re-bounds to ~one file per partition.
  *
  * [[maintain]] returns whether it compacted, so a scheduler can
  * log/alert on the decision. The compact itself runs under the
  * maintainer lease like every maintenance op; racing a live ingest
  * stream fails loudly (stop the stream, maintain, restart — the
  * `stream: index_ingest` contract, each micro-batch an append under
  * the lease).
  */
object StoreMaintenance {

  /** The ONE place the maintenance/advisory default knobs live —
    * referenced by every signature below AND by the YAML stage runner,
    * so a retune can never leave the orchestrator judging advisories
    * at a stale bar while library callers get the new default.
    */
  val DefaultMargin: Double = 0.35
  val DefaultMinCosine: Double = 0.3
  val DefaultMaxTombstoneRatio: Double = 0.1
  val DefaultMaxIngests: Long = 16L

  /** Whether `dir` holds a committed store/model version — the
    * orchestrator's pre-drain gate: a scheduled stream stage racing
    * the store's INITIAL build must refuse with a message naming the
    * fix (build first), not surface a requireRoot stack out of the
    * post-drain audit read (r16 ADVICE).
    */
  def storeExists(spark: SparkSession, dir: String): Boolean =
    StoreVersioning.currentRoot(spark, dir).isDefined

  /** The maintainer lease, exposed for NON-store single-writer seams —
    * concretely the orchestrator's `kind: stream` drains: a scheduled
    * tick that overruns into the next one would otherwise hand two
    * drivers one Structured-Streaming checkpoint and a read-modify-
    * write race on the mirror's `_graft_landed_max` sidecar. Same
    * semantics as every store maintenance op: one atomic lock-file
    * creation at `dir`, loud refusal naming the lock when held,
    * crash debris self-expires after the lease horizon.
    */
  def withLease[T](spark: SparkSession, dir: String, op: String)(
      body: => T): T =
    StoreVersioning.withMaintainerLock(spark, dir, op)(body)

  /** The decision, exposed for spec/audit: compact when dead rows
    * exceed the ratio or ingests exceed the cap.
    */
  def shouldCompact(nRows: Long, nTombstoned: Long, nIngests: Long,
      maxTombstoneRatio: Double, maxIngests: Long): Boolean =
    (nRows > 0 && nTombstoned.toDouble / nRows > maxTombstoneRatio) ||
      nIngests > maxIngests

  /** Compact `store` at `dir` exactly when its dead-row ratio or
    * ingest count is past the bar; returns whether it compacted.
    */
  def maintain(store: VersionedStore, spark: SparkSession, dir: String,
      maxTombstoneRatio: Double = DefaultMaxTombstoneRatio,
      maxIngests: Long = DefaultMaxIngests): Boolean = {
    val h = store.health(spark, dir)
    val go = shouldCompact(h.nRows, h.nTombstoned, h.nIngests,
      maxTombstoneRatio, maxIngests)
    if (go) store.compact(spark, dir)
    go
  }

  /** The DECISION the `_META` lineage and the margin probe exist for:
    * one advisory row telling an operator (or a scheduled pipeline)
    * whether the store needs nothing, a COMPACT (fragmentation/dead
    * rows — cheap, no re-fit), or a REBUILD (frozen geometry no longer
    * fits the corpus — compaction cannot help). Rebuild triggers,
    * strongest first:
    *
    *  - the store's sampled ADC covering gap exceeds `margin` (only
    *    the stores holding PQ codes carry the probe,
    *    [[VersionedStore.sampledGap]]): the quantization error
    *    provably loses near-duplicate pairs at the configured dedup
    *    margin ([[IvfPqStore.dedupAgainst]] would refuse — this
    *    surfaces it BEFORE the nightly run does);
    *  - `corpus` (today's training relation, when provided) has a
    *    different fingerprint than the one the store was built from:
    *    appends froze geometry at build, so a corpus that has moved on
    *    retrieves against last season's centroids — legal, but
    *    measurably worse — and an exact store (grams, fingerprints)
    *    no longer covers the corpus it dedups against.
    *
    * Advisory only — it runs NO maintenance (pair it with
    * [[maintain]] or a rebuild job); bounded work (stats aggregates +
    * the memoized ≤1M-pair gap probe).
    */
  def recommend(store: VersionedStore, spark: SparkSession, dir: String,
      corpus: Option[DataFrame] = None,
      margin: Double = DefaultMargin, minCosine: Double = DefaultMinCosine,
      maxTombstoneRatio: Double = DefaultMaxTombstoneRatio,
      maxIngests: Long = DefaultMaxIngests): DataFrame = {
    import spark.implicits._
    val h = store.health(spark, dir)
    val sampledGap = store.sampledGap(spark, dir, minCosine)
    val storedFp = h.metaOr("train_fingerprint")
    val gap = sampledGap.getOrElse(0.0)
    // two-level drift: the cheap file-listing fingerprint screens, and
    // ONLY on a listing mismatch does the content fingerprint decide —
    // a corpus that is a chained warehouse relation gets fresh part
    // files every scheduled run, so listing alone would read every
    // night as "drifted" and `action: auto` would rebuild perpetually
    // over identical rows (r16 ADVICE). Legacy roots without the
    // content key keep the listing-only behavior.
    val drift = corpus.exists(c =>
      StoreVersioning.trainFingerprint(c) != storedFp &&
        h.meta.get("train_content_fingerprint").forall(
          StoreVersioning.contentFingerprint(c) != _))
    val fragmented = shouldCompact(h.nRows, h.nTombstoned, h.nIngests,
      maxTombstoneRatio, maxIngests)
    val (what, why) =
      if (sampledGap.isDefined && gap > margin)
        ("rebuild", f"sampled ADC covering gap $gap%.3f exceeds the " +
          f"$margin%.3f margin - quantization would lose true pairs")
      else if (drift)
        ("rebuild", "training-corpus fingerprint drifted from the " +
          s"store's lineage ($storedFp) - geometry is stale")
      else if (fragmented)
        ("compact", "tombstone ratio or ingest count past threshold")
      else ("ok", "stats and geometry inside contract")
    Seq((what, why, gap, storedFp, drift, h.nTombstoned, h.nIngests))
      .toDF("recommendation", "reason", "sampled_adc_gap",
        "train_fingerprint", "fingerprint_drift",
        "n_tombstoned", "n_ingests")
  }
}
