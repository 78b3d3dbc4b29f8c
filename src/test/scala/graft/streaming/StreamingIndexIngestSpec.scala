package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.StageRunner

/** Streaming index growth pinned against brute force: an index built
  * from half the corpus, grown by streaming the other half in across
  * multiple micro-batches, must answer exhaustive-settings queries
  * exactly like brute force over the union — no vector lost,
  * duplicated, or misencoded on the ingest path. Driven as the
  * `stream: index_ingest` stage: the store's append per micro-batch.
  */
class StreamingIndexIngestSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def emb =
    graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  test("streamed appends grow the IVF index to brute-equal across micro-batches") {
    val e = emb
    val index = java.nio.file.Files
      .createTempDirectory("graft_ingest_ivf").toString
    graft.ops.IvfIndex.save(
      e.filter(col("vec_id") % 2 === 0), index, nCells = 16)
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_ivf_src").toString
    odd.repartition(3).write.mode("overwrite").parquet(srcDir)
    val audit = StageRunner.run(spark, StreamStages.stage("index_ingest",
      srcDir, "store: ivf", s"dir: $index")).head()
    assert(audit.getAs[String]("action") == "stream_ingest")
    // each micro-batch landed as its own idempotent ingest partition
    // (the build is ingest 0, so > 2 means more than one micro-batch)
    def stat(name: String): Long = graft.ops.IvfIndex.stats(spark, index)
      .select(col(name)).head.getLong(0)
    assert(stat("n_ingests") > 2,
      "batches must land as separate ingest partitions")
    assert(stat("n_vectors") == e.count())
    val got = graft.ops.IvfIndex.querySelf(spark, index, nProbe = 16)
      .collect().toSeq
    val want = graft.ops.Similarity.knnBrute(e).collect().toSeq
    assert(got == want,
      s"grown index must equal brute (got ${got.size}, want ${want.size})")
  }

  test("streamed appends grow the composed IVF x PQ store to brute-equal") {
    val e = emb
    val store = java.nio.file.Files
      .createTempDirectory("graft_ingest_ivfpq").toString
    try {
      graft.ops.IvfPqStore.save(
        e.filter(col("vec_id") % 2 === 0), store, nCells = 16)
      val odd = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      val srcDir = java.nio.file.Files
        .createTempDirectory("graft_ingest_ivfpq_src").toString
      odd.repartition(3).write.mode("overwrite").parquet(srcDir)
      val audit = StageRunner.run(spark, StreamStages.stage("index_ingest",
        srcDir, "store: ivfpq", s"dir: $store")).head()
      assert(audit.getAs[Long]("n_ingests") > 2,
        "fixture must actually exercise multiple micro-batches")
      val got = graft.ops.IvfPqStore.querySelf(spark, store, nProbe = 16,
        candidates = e.count().toInt).collect().toSeq
      val want = graft.ops.Similarity.knnBrute(e).collect().toSeq
      assert(got == want)
    } finally graft.ops.Pq.clearCodebookCache()
  }
}
