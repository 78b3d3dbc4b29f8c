package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted AUDIO fingerprint store: the shared
  * [[FingerprintStore]] lifecycle through the [[AfpStore]] instance —
  * what this suite pins beyond [[PhashStoreSpec]] (the lifecycle is
  * one implementation now) is the audio decoder at the modality seam,
  * and the audio-named stats/maintenance surface. The cross-store
  * identity refusal is pinned for every store in
  * [[StoreLifecycleSpec]].
  */
class AfpStoreSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def mix(seed: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 32
    x
  }

  private def wav(bits: Long): Array[Byte] =
    Multimodal.energyCellsWav(Multimodal.cellsForBits(bits))

  private def corpusDf = {
    val sp = spark; import sp.implicits._
    (1L to 20L).map(i => (i, wav(mix(i)))).toDF("doc_id", "payload")
  }

  private def incomingDf = {
    val sp = spark; import sp.implicits._
    Seq(
      101L -> wav(mix(3) ^ 3L),           // 2-bit re-encode of corpus 3
      102L -> wav(mix(5)),                // exact copy of corpus 5
      103L -> wav(mix(999)),              // distinct clip
      104L -> "not audio".getBytes        // undecodable payload
    ).toDF("doc_id", "payload")
  }

  private def flagsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("dedupAgainst equals the brute cross Hamming join over decoded " +
      "audio; undecodable incoming rows flag nothing") {
    val dir = java.nio.file.Files.createTempDirectory("afp_store").toString
    AfpStore.save(corpusDf, dir)
    val got = flagsOf(AfpStore.dedupAgainst(spark, incomingDf, dir))
    val brute = (for {
      (iid, ib) <- Seq(101L -> (mix(3) ^ 3L), 102L -> mix(5),
        103L -> mix(999))
      cid <- 1L to 20L
      h = java.lang.Long.bitCount(ib ^ mix(cid))
      if h <= 3
    } yield (iid, cid, h.toLong)).toSet
    assert(got == brute, s"only-got=${got -- brute}, only-brute=${brute -- got}")
    assert(got.contains((101L, 3L, 2L)) && got.contains((102L, 5L, 0L)))
    assert(!got.exists(_._1 == 104L), "undecodable rows must not flag")
  }

  test("append is idempotent; stats speak clips; maintain/recommend " +
      "ride the shared lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("afp_grow").toString
    AfpStore.save(corpusDf.filter(col("doc_id") <= 10), dir)
    AfpStore.append(corpusDf.filter(col("doc_id") > 10), dir, "day1")
    AfpStore.append(corpusDf.filter(col("doc_id") > 10), dir, "day1")
    val st = AfpStore.stats(spark, dir).head()
    assert(st.getAs[Long]("n_ingests") == 2L)
    assert(st.getAs[Long]("n_clips") == 20L,
      "a replayed ingest must not double-store fingerprints")
    assert(StoreMaintenance.maintain(AfpStore, spark, dir, maxIngests = 1L),
      "2 ingests past a cap of 1 must compact")
    assert(AfpStore.stats(spark, dir).head().getAs[Long]("n_ingests") == 1L)
    val rec = StoreMaintenance.recommend(AfpStore, spark, dir,
      maxIngests = 1L).head()
    assert(rec.getString(rec.fieldIndex("recommendation")) == "ok")
  }

  test("delete retracts immediately; compact reclaims tombstones and " +
      "preserves the flag relation") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("afp_del").toString
    AfpStore.save(corpusDf, dir)
    AfpStore.delete(Seq(5L).toDF("corpus_id"), dir)
    val afterDelete = flagsOf(AfpStore.dedupAgainst(spark, incomingDf, dir))
    assert(!afterDelete.exists(_._2 == 5L),
      "tombstoned clips must stop matching immediately")
    AfpStore.compact(spark, dir)
    val st = AfpStore.stats(spark, dir).head()
    assert(st.getAs[Long]("n_tombstoned") == 0L)
    assert(st.getAs[Long]("n_clips") == 19L)
    assert(flagsOf(AfpStore.dedupAgainst(spark, incomingDf, dir))
      == afterDelete, "compaction must not change the flag relation")
  }
}
