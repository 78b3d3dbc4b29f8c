package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The shared scaffolding of the foreachBatch-over-parquet streamers
  * (the store-backed `kind: stream` stages of
  * [[graft.cli.StageRunner]], [[StreamingIvfQuery]],
  * [[StreamingPqQuery]], [[StreamingClassify]]'s directory drain): a
  * schema'd parquet file source, the optional `maxFilesPerTrigger`
  * throttle, an optional durable checkpoint, and the batch-keyed
  * partition-overwrite delivery that makes foreachBatch's
  * at-least-once replay idempotent — ONE copy of the delivery
  * semantics so the sinks cannot drift.
  *
  * Why `foreachBatch` running the EXACT batch operator per
  * micro-batch, not a streaming-DSL translation: a store dedup needs
  * a per-(incoming, corpus) count after the store join, and a top-k
  * needs a window — as streaming operators both are stateful
  * (watermarks, a state store holding keys that can never recur),
  * while inside `foreachBatch` each micro-batch is a plain batch
  * relation and the operator completes within it. A flag or
  * neighbor row depends only on its incoming row and the static
  * store, so the union over micro-batches equals the batch run over
  * the union in any arrival order (spec-pinned anyway), and the
  * store side is a normal parquet relation joined per batch under
  * AQE — no broadcast size cliff as the corpus grows.
  *
  * Delivery: [[landBatch]] OVERWRITES the batch's own
  * `outDir/graft_batch=<batchId>` partition, so a batch Spark replays
  * after its write landed but its offset commit didn't lands one
  * copy; with a durable checkpoint (batch ids are stable across
  * restarts from it) the landed result is exactly-once. Read results
  * with `spark.read.parquet(outDir)` and drop `graft_batch`; `outDir`
  * must be fresh or previously written by this sink.
  */
private[graft] object BatchedParquetSink {

  /** THE batch-partition column/dir convention (`graft_batch=<id>`),
    * shared with the orchestrator's mirror landing so the two layouts
    * cannot drift.
    */
  val BatchCol = "graft_batch"

  /** Start a parquet-file stream driving `body` per micro-batch. */
  def start(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int, checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val src = (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader).parquet(dir)
    val writer = src.writeStream.foreachBatch(body)
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }

  /** The idempotent landing: overwrite this batch's own
    * `graft_batch=<id>` partition, so a replayed batch replaces its
    * earlier copy instead of appending a duplicate.
    */
  def landBatch(result: DataFrame, outDir: String, batchId: Long): Unit = {
    result.write.mode("overwrite").parquet(s"$outDir/$BatchCol=$batchId")
    ()
  }
}
