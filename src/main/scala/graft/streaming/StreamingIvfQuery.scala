package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.IvfIndex

/** Live ANN scoring against the PERSISTED IVF index — the streaming
  * counterpart of [[graft.ops.IvfIndex.query]]: query vectors arriving
  * on a stream (fresh documents' embeddings, user queries) get their
  * top-k neighbors from the index built by an earlier job.
  *
  * Same architecture as the store-backed stream stages
  * ([[BatchedParquetSink]]), for the same reasons: `foreachBatch` runs the EXACT batch operator per
  * micro-batch (the top-k window over a streaming relation would be
  * a stateful sort Spark refuses in append mode; inside foreachBatch
  * it is the ordinary batch window), stream == batch holds by
  * construction (spec-pinned anyway), and the index side never
  * broadcasts — it is the cell-partitioned parquet relation,
  * dynamic-pruned per batch exactly like the batch path. The QUERY
  * side's broadcast is bounded by micro-batch size × nProbe and
  * size-gated besides ([[graft.ops.IvfIndex.MaxBroadcastProbeRows]]):
  * a normal micro-batch rides the broadcast + pruning fast path, and
  * a pathologically large one (tune `maxFilesPerTrigger` down first)
  * degrades to an AQE-planned partitioned join instead of a driver
  * OOM.
  * Each batch resolves the committed index version, so a compaction
  * or rebuild committed mid-stream is picked up at the next
  * micro-batch (the marker creation is the commit point).
  *
  * Delivery: batch-keyed partition overwrite under `outDir` —
  * replayed batches land exactly one copy; read results with
  * `spark.read.parquet(outDir)` and drop `graft_batch`. Pass a
  * durable `checkpoint` for exactly-once landing across restarts.
  */
object StreamingIvfQuery {

  /** Stream (query_id, qv) rows from parquet at `dir`, score against
    * the index at `indexDir`, land (query_id, rank, neighbor_id,
    * cosine) under `outDir`.
    */
  def streamingKnn(spark: SparkSession, dir: String, schema: StructType,
      indexDir: String, outDir: String, k: Int = 5, nProbe: Int = 4,
      maxFilesPerTrigger: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery =
    BatchedParquetSink.start(spark, dir, schema, maxFilesPerTrigger,
      checkpoint) { (batch, batchId) =>
      BatchedParquetSink.landBatch(
        IvfIndex.query(spark, indexDir, batch, k, nProbe), outDir, batchId)
    }
}
