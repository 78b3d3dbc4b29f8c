package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained token-rate text classifier — the in-engine seam for the
  * trained quality/language filters every large-scale curation
  * pipeline runs (GPT-3's logistic quality classifier, CCNet's
  * fastText language filter; the reference has no trainable surface
  * at all, /root/reference/src/pipeline at large): supervised TRAIN
  * on a deterministic md5 split, a model RELATION (never a
  * driver-side object), distributed SCORING, and a held-out
  * confusion EVAL — each stage a DataFrame, so the whole
  * train-score-eval loop is one Catalyst plan.
  *
  * The model is deliberately on the integer lattice so every
  * decision is bit-replayable by the DuckDB oracle: the weight of
  * token t for class c is the DISCRIMINATIVE rate difference
  * `w(t,c) = rate_ppm(t | c) − rate_ppm(t | corpus)` (both integer
  * parts-per-million; the subtraction removes the shared-vocabulary
  * bias that makes raw multinomial rate sums degenerate — stopwords
  * cancel, class-indicative tokens keep their margin), and a doc's
  * class score is `Σ_t tf(t, d) · w(t, c)` — a pure integer linear
  * form, argmax with ties to the lexicographically smallest label.
  * No logs, no floats, no smoothing epsilon: unseen tokens simply
  * contribute nothing to every class, which is exactly NB's
  * zero-information case without its zero-probability blowup.
  *
  * Scale shape: the model relation is vocabulary × k rows
  * (broadcast-sized for any real vocabulary cut; AQE picks the
  * broadcast join on its own), training is ONE shuffle of the train
  * split's token relation, scoring ONE shuffle of the held-out token
  * relation plus the model join, and the argmax window partitions by
  * doc_id over k rows per doc — nothing corpus-sized crosses a
  * single task, nothing is collected.
  */
object Classify {

  /** The trained model relation: (label, tok, w) with `w` the ppm
    * rate difference above. `trainCut` is the md5-bucket split point
    * out of 10000 ([[Sampling.bucketOf]] — the same deterministic
    * split substrate the leakage-safe split family uses).
    */
  def tokenClassifierModel(docs: DataFrame, labelCol: String = "lang",
      trainCut: Int = 8000): DataFrame = {
    require(trainCut > 0 && trainCut < 10000,
      s"trainCut must split 0..9999, got $trainCut")
    val train = docs.filter(Sampling.bucketOf(col("doc_id")) < trainCut)
    // checkpoint the (label, tok, c) count relation (r20 opt): it
    // feeds FOUR consumers below (tot, gcnt, gtot, and the final
    // join), and with no cross-side common-subexpression reuse each
    // instantiated its own full tokenize → explode → shuffle pass
    // over the train split — the x_text_classify plan carried 4
    // complete token passes. The materialized relation is
    // vocabulary × labels rows (model-sized, never corpus-sized).
    val cnt = PlanAudit.checkpointed(train.repartition(col("doc_id"))
      .select(col(labelCol).as("label"), TextOps.words(col("text")).as("ws"))
      .select(col("label"), explode(col("ws")).as("tok"))
      .groupBy(col("label"), col("tok")).agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy(col("label")).agg(sum(col("c")).as("n"))
    val gcnt = cnt.groupBy(col("tok")).agg(sum(col("c")).as("gc"))
    // corpus total: a 1-row scalar attach (the allowed cartesian)
    val gtot = cnt.agg(sum(col("c")).as("gn"))
    cnt.join(tot, "label").join(gcnt, "tok").crossJoin(gtot)
      .select(col("label"), col("tok"),
        expr("(1000000 * c) div n - (1000000 * gc) div gn").as("w"))
  }

  /** Persist the trained model as a versioned artifact — the same
    * committed-root convention and save step as every
    * [[VersionedStore]] ([[StoreVersioning.save]]: fresh `v<n>/`,
    * `_META` lineage sidecar, atomic `_COMMITTED` marker, maintainer
    * lease), because the model IS a store: built
    * once from a corpus, queried by many scheduled scoring runs. The
    * amortization this exists for: a `stream: classify` drain that
    * RETRAINS per run pays O(corpus) every schedule tick; a persisted
    * model turns that into O(model-read) — train as its own stage,
    * score forever (the r16 verdict's item 2).
    *
    * `_META` records the training lineage (corpus file-listing
    * fingerprint, label column, split point), so an operator — or a
    * future advisory — can see which corpus generation froze these
    * weights.
    */
  def saveModel(docs: DataFrame, dir: String, labelCol: String = "lang",
      trainCut: Int = 8000): Unit =
    StoreVersioning.save(docs, dir, "classifier", "classifier saveModel",
        Seq("label_col" -> labelCol, "train_cut" -> trainCut.toString)) {
      root =>
        tokenClassifierModel(docs, labelCol, trainCut)
          .write.mode("overwrite").parquet(s"$root/model")
        Nil
    }

  /** The committed model relation (label, tok, w) — refuses loudly
    * when `dir` has no committed version or holds a DIFFERENT kind of
    * store (a classify stage pointed at an ivf index must not scan
    * centroid parquet as model weights).
    */
  def loadModel(spark: SparkSession, dir: String): DataFrame = {
    val root = StoreVersioning.requireRoot(spark, dir)
    val kind = StoreVersioning.metaOf(spark, root).getOrElse("store", "classifier")
    require(kind == "classifier",
      s"$dir holds a committed '$kind' store, not a classifier model — " +
        "point model_dir at a directory built by Classify.saveModel " +
        "(store: classifier, action: build)")
    spark.read.parquet(s"$root/model")
  }

  /** The model store's audit relation — one row of
    * (n_weights, n_labels, label_col, train_cut, train_fingerprint,
    * version), the classifier analog of [[VersionedStore.stats]]
    * (what a scheduled pipeline lands as the run's audit row).
    */
  def modelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = StoreVersioning.requireRoot(spark, dir)
    val meta = StoreVersioning.metaOf(spark, root)
    val m = spark.read.parquet(s"$root/model")
      .agg(count(lit(1)).as("w"), countDistinct(col("label")).as("l")).head()
    Seq((m.getLong(0), m.getLong(1),
        meta.getOrElse("label_col", "?"),
        meta.get("train_cut").map(_.toLong).getOrElse(-1L),
        meta.getOrElse("train_fingerprint", "?"),
        StoreVersioning.versionOf(root)))
      .toDF("n_weights", "n_labels", "label_col", "train_cut",
        "train_fingerprint", "version")
  }

  /** Held-out predictions: (doc_id, label, predicted, score). Total
    * over the held-out split — a doc whose every token is outside
    * the trained vocabulary has no scores at all and reports
    * predicted = '?' with score 0 (annotate-don't-filter), rather
    * than vanishing or crashing on an empty argmax.
    */
  def tokenClassifierPredict(docs: DataFrame, labelCol: String = "lang",
      trainCut: Int = 8000): DataFrame = {
    val model = tokenClassifierModel(docs, labelCol, trainCut)
    val heldOut = docs.filter(Sampling.bucketOf(col("doc_id")) >= trainCut)
    // the true label rides predictWithModel's carry-through (one
    // prediction join total — a label join on top measured 1.7× on
    // the confusion leg)
    predictWithModel(
      heldOut.select(col("doc_id"), col(labelCol).as("label"), col("text")),
      model)
      .orderBy(col("doc_id"))
  }

  /** Score `docs` against a GIVEN frozen model relation — the
    * fully-distributed join scorer: tf ⋈ model on token,
    * per-(doc, label) weighted sums, window argmax with ties to the
    * smallest label, '?' / 0 for docs hitting no label's vocabulary.
    * `docs` needs `doc_id` and `text`; every OTHER column is carried
    * through the one final left join (so a caller wanting the true
    * label next to the prediction pays no second join), and the
    * output is (carried columns..., predicted, score). No driver
    * state at ANY model size (the model is a relation, the joins are
    * AQE-size-gated like any other), which makes this the degrade
    * target for the streaming scorer's broadcast ceiling: over
    * `maxModelRows`, [[graft.streaming.StreamingClassify]] runs THIS
    * per micro-batch instead of refusing. Total over `docs`: exactly
    * one output row per input doc_id.
    */
  def predictWithModel(docs: DataFrame, model: DataFrame): DataFrame = {
    val tf = docs.repartition(col("doc_id"))
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), explode(col("ws")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val scores = tf.join(model, "tok")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("tf") * col("w")).as("score"))
    val argmax = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label").asc)
    val pred = scores.withColumn("rn", row_number().over(argmax))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("predicted"), col("score"))
    val carriedNames = docs.columns.filter(_ != "text").toSeq
    require(!carriedNames.exists(Set("predicted", "score")),
      "predictWithModel carries every non-text input column through to " +
        "the output next to its own 'predicted'/'score' — rename or drop " +
        s"the colliding input column(s): ${carriedNames
          .filter(Set("predicted", "score")).mkString(", ")}")
    val carried = carriedNames.map(col)
    docs.select(carried: _*)
      .join(pred, Seq("doc_id"), "left")
      .select(carried ++ Seq(
        coalesce(col("predicted"), lit("?")).as("predicted"),
        coalesce(col("score"), lit(0L)).as("score")): _*)
  }

  /** Held-out confusion matrix: (label, predicted, n) — the eval
    * table a filter-threshold decision reads. Cells that never occur
    * are absent (sparse), rows total the held-out split.
    */
  def tokenClassifierConfusion(docs: DataFrame, labelCol: String = "lang",
      trainCut: Int = 8000): DataFrame =
    tokenClassifierPredict(docs, labelCol, trainCut)
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("predicted"))

  /** Per-doc score of the doc's OWN declared label under the trained
    * model — the GPT-3-style quality-filter statistic (train a
    * classifier on a split, score the WHOLE corpus, threshold the
    * score): (doc_id, score) with score = Σ_t tf(t, d) · w(t, label_d)
    * on the same integer lattice as [[tokenClassifierPredict]]. Total
    * over docs — a doc whose tokens are all outside the trained
    * vocabulary scores 0 (zero information, not zero quality); a
    * NEGATIVE score means the doc's tokens anti-correlate with its
    * declared label (it reads less like its label than like the
    * corpus average) — the precedence class
    * `x_pipeline_curation_v5` quarantines. Scoring the train split
    * too is deliberate: the curation verdict must be total, and the
    * model is a corpus statistic, not a held-out-only artifact.
    */
  def ownLabelScore(docs: DataFrame, labelCol: String = "lang",
      trainCut: Int = 8000): DataFrame = {
    val model = tokenClassifierModel(docs, labelCol, trainCut)
    val tf = docs.repartition(col("doc_id"))
      .select(col("doc_id"), col(labelCol).as("label"),
        TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), col("label"), explode(col("ws")).as("tok"))
      .groupBy(col("doc_id"), col("label"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val scores = tf.join(model, Seq("tok", "label"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("w")).as("score"))
    docs.select(col("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score"), lit(0L)).as("score"))
  }
}
