package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.StageRunner
import graft.ops.{Multimodal, PhashStore}

/** Streaming image dedup pinned equal to the batch operator over the
  * same incoming set under forced multi-micro-batch arrival, plus the
  * replay-idempotence contract of the batch-keyed delivery — the
  * `stream: image_dedup` stage, the phash store's dedup per batch.
  */
class StreamingImageDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def mix(seed: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 32
    x
  }

  private def png(bits: Long): Array[Byte] =
    Multimodal.grayCellsPng(Multimodal.cellsForBits(bits))

  test("streamed image flags equal the batch store dedup across micro-batches") {
    val sp = spark; import sp.implicits._
    val kept = (1L to 30L).map(i => (i, png(mix(i)))).toDF("doc_id", "payload")
    // incoming: near-copies of a third of the kept corpus + noise
    val incoming = ((101L to 110L).map(i => (i, png(mix(i - 100) ^ 1L))) ++
      (201L to 205L).map(i => (i, png(mix(i))))).toDF("doc_id", "payload")
    val store = java.nio.file.Files
      .createTempDirectory("graft_img_store").toString
    PhashStore.save(kept, store)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_img_src").toString
    incoming.repartition(4).write.mode("overwrite").parquet(srcDir)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_img_out").toString + "/flags"
    val streamed = StageRunner.run(spark, StreamStages.stage("image_dedup",
      srcDir, s"dir: $store", s"out_dir: $outDir")).drop("graft_batch")
    assert(StreamStages.landedBatches(outDir) > 1,
      "fixture must actually exercise multiple micro-batches")
    // the stage's per-batch knobs: Hamming radius 3 over 4 bands
    val batch = PhashStore.dedupAgainst(spark, incoming, store, maxDist = 3,
      nBands = 4)
    assert(batch.count() >= 10L, "fixture must contain incremental near-dups")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a replayed micro-batch lands exactly one copy (keyed overwrite)") {
    val sp = spark; import sp.implicits._
    val kept = (1L to 5L).map(i => (i, png(mix(i)))).toDF("doc_id", "payload")
    val store = java.nio.file.Files
      .createTempDirectory("graft_img_store2").toString
    PhashStore.save(kept, store)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_img_out2").toString + "/flags"
    val batch = Seq((100L, png(mix(2)))).toDF("doc_id", "payload")
    val body = StageRunner.streamBatch(spark, StreamStages.stage(
      "image_dedup", "/unused", s"dir: $store", s"out_dir: $outDir"))
    body(batch, 7L)
    body(batch, 7L)
    assert(spark.read.parquet(outDir).count() == 1L,
      "an at-least-once replay must overwrite its own batch partition")
  }
}
