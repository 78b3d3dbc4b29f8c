package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TextOps

/** Streaming scorer for the trained token-rate classifier — the
  * live-ingest counterpart of
  * [[graft.ops.Classify.tokenClassifierPredict]]: documents arriving
  * on a stream are scored against a FROZEN trained model relation
  * and emit (doc_id, predicted, score). Deliberately STATELESS: a
  * document's prediction depends only on its own row and the
  * broadcast model, so the query runs in append mode with no
  * watermark, no state store, and exactly one output row per doc in
  * any micro-batching. A model refresh is a new query start — the
  * model-handoff contract shared with the streaming cluster monitor.
  *
  * PARITY contract (spec-pinned == batch): the batch scorer's
  * argmax only ranges over labels sharing at least one token with
  * the doc (its tf⋈model join is inner), and weights can be
  * NEGATIVE — so the scorer must SKIP zero-hit labels entirely, not
  * score them as 0: a doc hitting only label A with a negative sum
  * must still predict A, and only a doc hitting NO label's
  * vocabulary reports '?' / 0. Ties break to the lexicographically
  * smallest label, exactly the batch window order (labels iterate in
  * ascending order and only a strictly greater score displaces the
  * incumbent).
  *
  * MODEL SHAPE: the (label, tok, w) relation is collected ONCE at
  * query start into per-label java HashMaps and shipped as a spark
  * broadcast — O(1) probes per (token, label). The r17 round learned
  * this the measured way: the previous in-row Catalyst fold probed
  * the model through `try_element_at` over MapData, whose lookup is
  * a LINEAR scan, so every (token, label) probe paid O(vocab) — a
  * 20k-doc drain at the 100× corpus took 42 s parallelized (and >10
  * minutes before the batch was even repartitioned). The SIZE BOUND
  * protects the driver-collect + broadcast: vocab × k rows must fit
  * the driver, so the scorer counts the model rows at query start
  * and past `maxModelRows` DEGRADES to the fully-distributed join
  * scorer ([[graft.ops.Classify.predictWithModel]]) per micro-batch —
  * same predictions (spec-pinned bit-equal), batch-join cost, no
  * driver state at any vocabulary size — instead of refusing or
  * hitting an opaque OOM mid-stream.
  */
object StreamingClassify {

  /** The ONE guarded scoring body both deliveries share: pick the
    * delivery the model size allows, and return the (doc_id,
    * predicted, score) projection of a batch — so a parity fix (the
    * zero-hit-label skip, the tie order) can never reach one sink and
    * not the other.
    *
    * Over `maxModelRows` the scorer DEGRADES instead of refusing
    * (r17 verdict): the broadcast fast path's driver-collect is what
    * the ceiling protects, so past it each micro-batch runs the
    * fully-distributed join scorer
    * ([[graft.ops.Classify.predictWithModel]] — tf ⋈ model,
    * size-gated like any batch join, no driver state at any vocab
    * size). Same argmax semantics on both paths (inner-join zero-hit
    * skip, smallest-label ties, '?' / 0 for full-OOV docs), pinned
    * bit-equal by spec; the model relation is persisted for the
    * query's lifetime so a drain doesn't re-derive it per micro-batch
    * (with `model_dir:` that's one parquet read; for an inline
    * corpus-trained model it's the difference between one training
    * job and one per micro-batch), and `retained` lets the owning
    * delivery release that cache when its query terminates.
    */
  private[graft] final case class ScorerHandle(
      score: DataFrame => DataFrame,
      /** the persisted model relation backing the degrade delivery —
        * unpersisted by the delivery when its query stops */
      retained: Option[DataFrame])

  private[graft] def scorer(model: DataFrame,
      maxModelRows: Long): ScorerHandle = {
    val spark = model.sparkSession
    // materialize the model ONCE at query start: the count decides
    // the delivery, and the same cached pass feeds whichever path
    // wins (the fast path's collect, or every degrade micro-batch).
    // The count/collect span is GUARDED: if either throws, the
    // persisted relation is released before the rethrow — otherwise a
    // scorer that never returns a handle leaks its cache into the
    // session with nothing left holding a release for it (the
    // callers' try/catch only covers sink start)
    val frozen = model.persist()
    val labelMaps: Array[(String, java.util.HashMap[String, java.lang.Long])] =
      try {
        if (frozen.count() > maxModelRows)
          return ScorerHandle(
            // the explicit (doc_id, text) projection pins the output
            // to exactly (doc_id, predicted, score) whatever extra
            // columns a source drop carries (predictWithModel carries
            // non-text columns through); doc_id normalizes to LONG
            // through the STRICT projection — non-integral source
            // types refuse and null ids raise in-row, exactly as
            // loudly as the fast path's typed encoder fails, so
            // malformed input can never flip from error to silent
            // NULL-id garbage with the model size
            batch => graft.ops.Classify.predictWithModel(
              batch.select(StrictDocId.longDocId(batch), col("text")),
              frozen),
            retained = Some(frozen))
        // labels in ASCENDING order: the tie rule below ("strictly
        // greater displaces") then lands on the smallest label for free
        frozen.select(col("label"), col("tok"), col("w")).collect()
          .groupBy(_.getString(0)).toArray.sortBy(_._1)
          .map { case (label, rows) =>
            val m = new java.util.HashMap[String, java.lang.Long](
              rows.length * 2)
            rows.foreach(r => m.put(r.getString(1), r.getLong(2)))
            (label, m)
          }
      } catch {
        case e: Throwable => frozen.unpersist(); throw e
      }
    frozen.unpersist() // the broadcast maps replace the cached relation
    val bc = spark.sparkContext.broadcast(labelMaps)
    val score: DataFrame => DataFrame = batch => {
      import spark.implicits._
      batch
        // a micro-batch inherits the DROP FILE's partitioning — a
        // nightly crawler landing one file per drop would put the
        // whole batch's scoring on ONE task; the batch is bounded (a
        // drop, not a corpus), so one tiny text shuffle buys
        // full-cluster parallelism, and values are per-row
        // deterministic so the spread cannot change a prediction
        .repartition(batch.sparkSession.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
        .as[(Long, Seq[String])]
        .mapPartitions { it =>
          val models = bc.value
          it.map { case (id, words) =>
            var bestLabel: String = null
            var bestScore = 0L
            var li = 0
            while (li < models.length) {
              val (label, m) = models(li)
              var s = 0L
              var hits = 0
              val wi = words.iterator
              while (wi.hasNext) {
                val v = m.get(wi.next())
                if (v != null) { s += v.longValue(); hits += 1 }
              }
              // zero-hit labels never enter the argmax (the batch
              // join is inner); strictly-greater keeps the smallest
              // label on ties
              if (hits > 0 && (bestLabel == null || s > bestScore)) {
                bestLabel = label
                bestScore = s
              }
              li += 1
            }
            if (bestLabel == null) (id, "?", 0L) else (id, bestLabel, bestScore)
          }
        }
        .toDF("doc_id", "predicted", "score")
    }
    ScorerHandle(score, retained = None)
  }


  /** Predictions over a parquet-file stream, append mode to a memory
    * sink named `queryName`. `model` is the frozen trained relation
    * ([[graft.ops.Classify.tokenClassifierModel]]'s (label, tok, w)).
    */
  def streamingPredict(spark: SparkSession, dir: String, schema: StructType,
      queryName: String, model: DataFrame,
      maxFilesPerTrigger: Int = 0,
      maxModelRows: Long = 2000000L,
      maxRetainedRows: Long =
        AccumulatingMemorySink.DefaultMaxRetainedRows): StreamingQuery = {
    val handle = scorer(model, maxModelRows)
    val reader = spark.readStream.schema(schema)
    val src = (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader).parquet(dir)
    // the scorer needs BATCH scope on both deliveries — the degrade
    // path's join + window argmax is not an append-mode streaming
    // plan — so the memory delivery goes through the shared
    // accumulating foreachBatch sink (see [[AccumulatingMemorySink]]
    // for the registration-ordering and start-failure contracts)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("predicted",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType)))
    AccumulatingMemorySink.start(spark, src, queryName, outSchema,
      handle.retained, maxRetainedRows)(handle.score)
  }

  /** [[streamingPredict]] landing parquet instead of a memory sink —
    * the YAML-orchestratable form ([[graft.cli.StageRunner]]'s
    * `stream: classify`): predictions land under `outDir` through the
    * shared batch-keyed partition overwrite, so foreachBatch's
    * at-least-once replay is idempotent, and the optional durable
    * checkpoint makes successive drains incremental. The query runs
    * under `Trigger.AvailableNow`: it scores the files present at its
    * start (`maxFilesPerTrigger` per batch) and then stops itself, so
    * a caller drains it by awaiting termination. Same model
    * broadcast, same size guard, same scoring loop — one scoring
    * body ([[scorer]]), two deliveries.
    */
  def streamingPredictToDir(spark: SparkSession, dir: String,
      schema: StructType, model: DataFrame, outDir: String,
      maxFilesPerTrigger: Int = 0, checkpoint: Option[String] = None,
      maxModelRows: Long = 2000000L): StreamingQuery = {
    val handle = scorer(model, maxModelRows)
    val q =
      try
        BatchedParquetSink.start(spark, dir, schema, maxFilesPerTrigger,
          checkpoint, availableNow = true) { (batch, batchId) =>
          BatchedParquetSink.landBatch(handle.score(batch), outDir, batchId)
        }
      catch {
        case e: Throwable =>
          handle.retained.foreach(_.unpersist())
          throw e
      }
    handle.retained.foreach(StreamRelease.unpersistOnStop(q, _))
    q
  }
}
