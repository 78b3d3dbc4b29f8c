package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.PqStore

/** Live retrieval against the PERSISTED PQ store — the streaming
  * counterpart of [[graft.ops.PqStore.query]], completing the
  * streaming triple (`stream: store_dedup`, [[StreamingIvfQuery]]):
  * query vectors arriving on a stream get their top-k neighbors via
  * the stored codebook's ADC prefilter + exact rerank, paying neither
  * the codebook fit nor the corpus encode (both live in the store).
  *
  * Same architecture and delivery as its siblings: `foreachBatch`
  * runs the EXACT batch operator per micro-batch (stream == batch by
  * construction, spec-pinned anyway), batch-keyed partition overwrite
  * under `outDir` makes at-least-once replay idempotent, and each
  * batch resolves the committed store version — a compaction or
  * rebuild committed mid-stream is picked up at the next micro-batch.
  * The per-batch driver state is the m·k codebook (model-state
  * sized); the rerank's broadcast is bounded by micro-batch size ×
  * candidate depth and guarded by the same
  * [[graft.ops.Pq.requireRerankBound]] as the batch path — tune
  * `maxFilesPerTrigger` down before raising the bound.
  */
object StreamingPqQuery {

  /** Stream (query_id, qv) rows from parquet at `dir`, score against
    * the store at `storeDir`, land (query_id, rank, neighbor_id,
    * cosine) under `outDir`.
    */
  def streamingKnn(spark: SparkSession, dir: String, schema: StructType,
      storeDir: String, outDir: String, k: Int = 5, candidates: Int = 0,
      maxFilesPerTrigger: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery =
    BatchedParquetSink.start(spark, dir, schema, maxFilesPerTrigger,
      checkpoint) { (batch: DataFrame, batchId: Long) =>
      BatchedParquetSink.landBatch(
        PqStore.query(spark, storeDir, batch, k, candidates),
        outDir, batchId)
    }
}
