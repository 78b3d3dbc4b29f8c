package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-fingerprint store — decode the kept corpus
  * ONCE, dedup every future payload batch against stored 64-bit
  * hashes. One lifecycle for every fingerprint modality: the
  * in-session operators ([[Dedup.imagePhashNearDup]],
  * [[Dedup.audioFpNearDup]]) are the right SHAPE for payload dedup
  * but the wrong LIFECYCLE for scheduled ingest — every run would
  * re-decode the full historical corpus, and at scale the codec (not
  * the banded join) dominates every batch. This store is the payload
  * counterpart of [[DedupStore]] (grams → fingerprints), under the
  * same [[StoreVersioning versioned root]] (rebuilds and compactions
  * commit by marker creation, never by overwriting live data):
  *
  *  - `fps/`     — the decoded (corpus_id, hash) relation: a batch
  *    run band-joins TWO pruned BIGINT columns instead of re-decoding
  *    payload bytes. Partitioned by ingest id, so appends are
  *    idempotent (see [[append]]).
  *  - `deletes/` — the tombstone relation ([[delete]]).
  *
  * After a batch is vetted, [[append]] adds the kept payloads'
  * fingerprints in place — the store grows with the corpus, no
  * re-decode, no rebuild. The banded candidate join, the exact
  * popcount cut and the pigeonhole-exactness guarantee
  * (`maxDist < nBands` ⇒ output == brute force) are the
  * [[Dedup.hammingNearDup]] contract applied two-sided, so the gate
  * rows replay the same brute-Hamming DuckDB oracle through the
  * persisted path.
  *
  * The modality enters through exactly one seam ([[fingerprint]] —
  * which decoder appends which hash column); everything else (the
  * banded store join here, the versioned lifecycle in
  * [[VersionedStore]]) is shared, so [[PhashStore]] (image dHash) and
  * [[AfpStore]] (audio energy fingerprint) cannot drift apart, and a
  * future video modality is one decoder away.
  *
  * @param storeName the store's `_META` identity and lock-holder name
  * @param hashCol   the stored BIGINT fingerprint column
  * @param rowNoun   what one stored row is, for [[stats]] column names
  *                  (`n_<rowNoun>`, `n_live_<rowNoun>`)
  */
private[graft] abstract class FingerprintStore(
    storeName: String, val hashCol: String, rowNoun: String)
    extends VersionedStore(storeName) {

  /** The modality seam: append the nullable BIGINT fingerprint column
    * named [[hashCol]] to `docs` (null for undecodable payloads —
    * they drop at the null-hash filter downstream).
    */
  protected def fingerprint(docs: DataFrame, payloadCol: String): DataFrame

  /** Physical-layout version of the fingerprint relation (v1:
    * ingest-keyed since the store's introduction).
    */
  protected val layout = 1L
  protected val keyCol = "corpus_id"
  protected val dataRels = Seq(DataRel("fps",
    ddl = Some(s"corpus_id BIGINT, $hashCol BIGINT, ingest STRING")))

  /** The validated, decoded (corpus_id, hash) relation of a corpus:
    * payloads prune to the two needed columns BEFORE the decode,
    * undecodable rows drop at the null-hash filter, and ids ride the
    * strict integral guard ([[Dedup.hammingBase]] — shared, not
    * copied).
    */
  private def fingerprints(docs: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    Dedup.hammingBase(
        fingerprint(docs.select(col(idCol), col(payloadCol)), payloadCol),
        idCol, hashCol)
      .select(col("id").as("corpus_id"), col("h").as(hashCol))

  /** Build the store at `dir`: one decode pass over the kept corpus,
    * fingerprints landed in a FRESH version root, committed by marker
    * creation. A crashed rebuild leaves the old version untouched and
    * still committed; the recovery is to run save again.
    */
  def save(corpus: DataFrame, dir: String, idCol: String = "doc_id",
      payloadCol: String = "payload"): Unit =
    saveVersion(corpus, dir) { root =>
      land(fingerprints(corpus, idCol, payloadCol), root, "fps", "0")
      Nil
    }

  /** Add newly-kept payloads to the committed store as ingest
    * partition `ingestId` — one decode pass over the NEW payloads
    * only; other ingests' files are untouched. `ingestId` names the
    * batch and makes the append IDEMPOTENT: re-running a failed append
    * with the same id replaces its own partial output instead of
    * double-storing fingerprints.
    */
  def append(docs: DataFrame, dir: String, ingestId: String,
      idCol: String = "doc_id", payloadCol: String = "payload"): Unit =
    appendVersion(docs.sparkSession, dir, ingestId)(
      land(fingerprints(docs, idCol, payloadCol), _, "fps", ingestId))

  /** Maintenance introspection — same contract as
    * [[DedupStore.stats]]: fragmentation and dead-row signals as one
    * audit row; aggregate scalars only, store untouched.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = health(spark, dir)
    Seq((h.version, h.nIngests, h.nFiles, h.nRows, h.nTombstoned, h.nLive,
        h.metaOr("layout"), h.metaOr("train_fingerprint")))
      .toDF("version", "n_ingests", "n_fp_files",
        s"n_$rowNoun", "n_tombstoned", s"n_live_$rowNoun",
        "layout", "train_fingerprint")
  }

  /** Flag incoming payloads whose fingerprint is within Hamming
    * `maxDist` of anything already kept in the STORE: decode the
    * incoming batch ONLY, band both sides, equi-join on
    * (band_ix, band_value), exact-popcount verify — the
    * [[Dedup.hammingNearDup]] shape two-sided, with the same
    * pigeonhole guarantee (`maxDist < nBands` ⇒ output == the brute
    * cross join). Tombstones prune at the fingerprint relation so
    * retracted payloads never generate candidates.
    */
  def dedupAgainst(spark: SparkSession, incoming: DataFrame, dir: String,
      maxDist: Int = 3, nBands: Int = 4, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame = {
    // one copy of the banding scheme + pigeonhole bound (Dedup's):
    // a change to either lands once or the store path would silently
    // diverge from hammingNearDup's pinned contract
    Dedup.requireBands(maxDist, nBands)
    val root = StoreVersioning.requireRoot(spark, dir)
    gate(spark, root, maintenance = false)
    val inc = fingerprints(incoming, idCol, payloadCol)
      .select(col("corpus_id").as("inc_id"), col(hashCol).as("ih"))
    val stored = live(spark, root, read(spark, root, "fps"))
    Dedup.bandedProjection(inc, "ih", nBands)
      .join(Dedup.bandedProjection(
          stored.select(col("corpus_id"), col(hashCol)), hashCol, nBands),
        Seq("bix", "bval"))
      .filter(bit_count(col("ih").bitwiseXOR(col(hashCol))) <= maxDist)
      .select(col("inc_id"), col("corpus_id"),
        bit_count(col("ih").bitwiseXOR(col(hashCol)))
          .cast("bigint").as("hamming"))
      .distinct()
      .orderBy(col("inc_id"), col("corpus_id"))
  }
}

/** The image instance: [[Multimodal.imagePhash]] (imageio decode →
  * 9×8 integer gray grid → dHash) feeds the shared
  * [[FingerprintStore]] lifecycle.
  */
object PhashStore extends FingerprintStore("PhashStore", "phash", "images") {
  protected def fingerprint(docs: DataFrame, payloadCol: String): DataFrame =
    Multimodal.imagePhash(docs, payloadCol)
}

/** The audio instance: [[Multimodal.audioFingerprint]] (javax.sound
  * decode → silence trim → 72-block integer energy grid → dHash)
  * feeds the SAME lifecycle — a scheduled audio-curation pipeline
  * dedups new clips against the kept corpus without re-decoding it,
  * exactly like images.
  */
object AfpStore extends FingerprintStore("AfpStore", "afp", "clips") {
  protected def fingerprint(docs: DataFrame, payloadCol: String): DataFrame =
    Multimodal.audioFingerprint(docs, payloadCol)
}
