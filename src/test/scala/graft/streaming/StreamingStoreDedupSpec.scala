package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.StageRunner

/** Streaming store-dedup pinned equal to the batch operator over the
  * same incoming set, under forced multi-micro-batch arrival — the
  * union-over-batches == batch-over-union property the foreachBatch
  * reuse gives by construction, verified anyway. Driven as the
  * `stream: store_dedup` stage, the gram store's dedup per batch.
  */
class StreamingStoreDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  test("streamed flags equal the batch store dedup across micro-batches") {
    val docs =
      graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val kept = docs.filter(col("doc_id") % 10 =!= 0)
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_store").toString
    graft.ops.DedupStore.save(kept, store)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    incoming.repartition(4).write.mode("overwrite").parquet(srcDir)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_stream_out").toString + "/flags"
    val streamed = StageRunner.run(spark, StreamStages.stage("store_dedup",
      srcDir, s"dir: $store", s"out_dir: $outDir")).drop("graft_batch")
    assert(StreamStages.landedBatches(outDir) > 1,
      "fixture must actually exercise multiple micro-batches")
    val batch = graft.ops.DedupStore.dedupAgainst(spark, incoming, store)
    assert(batch.count() > 0, "fixture must contain incremental near-dups")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a replayed micro-batch lands exactly one copy (keyed overwrite)") {
    val docs =
      graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val kept = docs.filter(col("doc_id") % 10 =!= 0)
    val store = java.nio.file.Files
      .createTempDirectory("graft_replay_store").toString
    graft.ops.DedupStore.save(kept, store)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_replay_out").toString + "/flags"
    // foreachBatch is at-least-once: simulate Spark replaying batch 7
    // after its write landed but its offset commit didn't
    val body = StageRunner.streamBatch(spark, StreamStages.stage(
      "store_dedup", "/unused", s"dir: $store", s"out_dir: $outDir"))
    body(incoming, 7L)
    body(incoming, 7L)
    val landed = spark.read.parquet(outDir).drop("graft_batch")
    val want = graft.ops.DedupStore.dedupAgainst(spark, incoming, store)
    assert(want.count() > 0)
    assert(landed.count() == want.count(),
      "a replayed batch must overwrite its own partition, not append")
    assert(landed.exceptAll(want).isEmpty && want.exceptAll(landed).isEmpty)
  }
}
