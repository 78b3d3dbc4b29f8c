package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.StageRunner

/** Streaming embedding dedup against the persisted store pinned equal
  * to the batch operator over the same incoming set, under forced
  * multi-batch arrival — the `stream: embedding_dedup` stage, the
  * ivfpq store's dedup per micro-batch at the stage's knobs.
  */
class StreamingEmbeddingDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  test("streamed pair flags equal the batch store dedup across micro-batches") {
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_edup").toString
    try {
      graft.ops.IvfPqStore.save(e, store, nCells = 16)
      val incoming = e.filter(col("vec_id") < 12)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val srcDir = java.nio.file.Files
        .createTempDirectory("graft_stream_edup_src").toString
      incoming.repartition(3).write.mode("overwrite").parquet(srcDir)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_stream_edup_out").toString + "/pairs"
      val streamed = StageRunner.run(spark, StreamStages.stage(
        "embedding_dedup", srcDir, s"dir: $store", s"out_dir: $outDir",
        "min_cosine: 0.3", "margin: 2.0")).drop("graft_batch")
      assert(StreamStages.landedBatches(outDir) > 1,
        "fixture must actually exercise multiple micro-batches")
      // the stage probes 4 cells per batch; the batch operator likewise
      val batch = graft.ops.IvfPqStore.dedupAgainst(spark, store, incoming,
        minCosine = 0.3, nProbe = 4, margin = 2.0)
      assert(batch.count() > 0)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty
        && batch.exceptAll(streamed).isEmpty)
    } finally graft.ops.Pq.clearCodebookCache()
  }
}
