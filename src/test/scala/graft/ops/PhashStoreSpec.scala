package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted image-fingerprint store: decode once, dedup every
  * future batch against stored hashes — build/append/delete/compact
  * lifecycle plus exactness of the two-sided banded join against the
  * brute cross join.
  */
class PhashStoreSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def mix(seed: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 32
    x
  }

  private def png(bits: Long): Array[Byte] =
    Multimodal.grayCellsPng(Multimodal.cellsForBits(bits))

  private def corpusDf = {
    val sp = spark; import sp.implicits._
    (1L to 20L).map(i => (i, png(mix(i)))).toDF("doc_id", "payload")
  }

  private def incomingDf = {
    val sp = spark; import sp.implicits._
    Seq(
      101L -> png(mix(3) ^ 3L),           // 2-bit retouch of corpus 3
      102L -> png(mix(5)),                // exact copy of corpus 5
      103L -> png(mix(999)),              // distinct image
      104L -> "not an image".getBytes     // undecodable payload
    ).toDF("doc_id", "payload")
  }

  private def flagsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("dedupAgainst equals the brute cross Hamming join; undecodable " +
      "incoming rows flag nothing") {
    val dir = java.nio.file.Files.createTempDirectory("phash_store").toString
    PhashStore.save(corpusDf, dir)
    val got = flagsOf(PhashStore.dedupAgainst(spark, incomingDf, dir))
    // brute reference over the same fingerprints
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

  test("append is ingest-keyed and idempotent: replaying an ingest " +
      "stores one copy, and split build equals one-shot build") {
    val one = java.nio.file.Files.createTempDirectory("phash_one").toString
    val split = java.nio.file.Files.createTempDirectory("phash_split").toString
    PhashStore.save(corpusDf, one)
    PhashStore.save(corpusDf.filter(col("doc_id") <= 10), split)
    PhashStore.append(corpusDf.filter(col("doc_id") > 10), split, "day1")
    // replay the same ingest — the dynamic partition overwrite must
    // replace, not double-store
    PhashStore.append(corpusDf.filter(col("doc_id") > 10), split, "day1")
    val a = flagsOf(PhashStore.dedupAgainst(spark, incomingDf, one))
    val b = flagsOf(PhashStore.dedupAgainst(spark, incomingDf, split))
    assert(a == b && a.nonEmpty)
    val st = PhashStore.stats(spark, split).head()
    assert(st.getAs[Long]("n_ingests") == 2L)
    assert(st.getAs[Long]("n_images") == 20L,
      "a replayed ingest must not double-store fingerprints")
  }

  test("delete retracts immediately; compact reclaims tombstones and " +
      "preserves the flag relation") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("phash_del").toString
    PhashStore.save(corpusDf, dir)
    PhashStore.delete(Seq(5L).toDF("corpus_id"), dir)
    val afterDelete = flagsOf(PhashStore.dedupAgainst(spark, incomingDf, dir))
    assert(!afterDelete.exists(_._2 == 5L),
      "tombstoned images must stop matching immediately")
    val st1 = PhashStore.stats(spark, dir).head()
    assert(st1.getAs[Long]("n_tombstoned") == 1L)
    PhashStore.compact(spark, dir)
    val st2 = PhashStore.stats(spark, dir).head()
    assert(st2.getAs[Long]("version") > st1.getAs[Long]("version"))
    assert(st2.getAs[Long]("n_tombstoned") == 0L)
    assert(st2.getAs[Long]("n_images") == 19L)
    assert(flagsOf(PhashStore.dedupAgainst(spark, incomingDf, dir))
      == afterDelete, "compaction must not change the flag relation")
  }

  test("a store built from a corpus with no decodable image matches " +
      "nothing instead of throwing") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("phash_empty").toString
    PhashStore.save(Seq((1L, "text only".getBytes))
      .toDF("doc_id", "payload"), dir)
    assert(PhashStore.dedupAgainst(spark, incomingDf, dir).count() == 0L)
  }

  test("maintain compacts past the ingest cap; recommend reads ok after") {
    val dir = java.nio.file.Files.createTempDirectory("phash_maint").toString
    PhashStore.save(corpusDf.filter(col("doc_id") <= 10), dir)
    (1 to 3).foreach(i => PhashStore.append(
      corpusDf.filter(col("doc_id") === (10L + i)), dir, s"day$i"))
    assert(StoreMaintenance.maintain(PhashStore, spark, dir, maxIngests = 2),
      "4 ingests past a cap of 2 must compact")
    assert(PhashStore.stats(spark, dir).head().getAs[Long]("n_ingests") == 1L)
    val rec = StoreMaintenance.recommend(PhashStore, spark, dir,
      maxIngests = 2).head()
    assert(rec.getString(rec.fieldIndex("recommendation")) == "ok")
  }
}
