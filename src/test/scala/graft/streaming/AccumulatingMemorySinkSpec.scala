package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared memory-delivery contracts added in round 19: the view
  * is LAZY (per-batch driver work is append-only — no full re-render
  * of the retained rows every micro-batch), the retained-row ceiling
  * refuses loudly with a pointer at the parquet delivery, and the
  * streaming scorers' doc_id handling is STRICT (non-integral id
  * types refuse; null ids raise in-row) instead of a silent
  * `cast("long")` that would collapse malformed docs onto one NULL
  * id.
  */
class AccumulatingMemorySinkSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def writeDocs(rows: Seq[(Long, String)], name: String): String = {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    rows.toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("the registered view is lazy: reads snapshot the accumulator at " +
      "read time through a TableScan relation, not a per-batch re-render") {
    val sp = spark; import sp.implicits._
    val model = Seq(("A", "t", 5L)).toDF("label", "tok", "w")
    val dir = writeDocs(Seq((1L, "t"), (2L, "t z")), "acc-sink-lazy")
    val docs = spark.read.parquet(dir)
    val q = StreamingClassify.streamingPredict(
      spark, dir, docs.schema, "acc_sink_lazy", model)
    try q.processAllAvailable() finally q.stop()
    // the view's plan resolves to the accumulator-backed relation —
    // the lazy form — not a LocalRelation rendered from a copy
    val analyzed = spark.table("acc_sink_lazy").queryExecution.analyzed.toString
    assert(analyzed.contains("AccRelation"),
      s"view must read through the lazy accumulator relation:\n$analyzed")
    val got = spark.table("acc_sink_lazy").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "A", 2L -> "A"))
  }

  test("a drain past maxRetainedRows fails loudly, naming the parquet " +
      "delivery; under the ceiling behavior is unchanged") {
    val sp = spark; import sp.implicits._
    val model = Seq(("A", "t", 5L)).toDF("label", "tok", "w")
    val rows = (1L to 6L).map(i => (i, "t"))
    val dir = writeDocs(rows, "acc-sink-ceiling")
    val docs = spark.read.parquet(dir)
    val q = StreamingClassify.streamingPredict(
      spark, dir, docs.schema, "acc_sink_over", model,
      maxRetainedRows = 3L)
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("streamingPredictToDir"),
      s"ceiling refusal must point at the parquet delivery:\n$all")
    assert(all.contains("ceiling 3"), s"refusal must name the ceiling:\n$all")

    // same drain under the ceiling: all rows retained, all readable
    val q2 = StreamingClassify.streamingPredict(
      spark, dir, docs.schema, "acc_sink_under", model,
      maxRetainedRows = 6L)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("acc_sink_under").count() == 6L)
  }

  test("StreamingDecontaminate refuses a non-integral doc_id type instead " +
      "of silently nulling it") {
    val sp = spark; import sp.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("decon-string-id").toString
    Seq(("doc-1", "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingDecontaminate.streamingFlags(
      spark, dir, schema, "decon_string_id", bench, minShared = 2)
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("integral type"),
      s"string doc_id must refuse loudly, got:\n$all")
  }

  test("StreamingClassify's degrade delivery refuses a non-integral doc_id " +
      "type — parity with the fast path's loud encoder failure") {
    val sp = spark; import sp.implicits._
    val model = Seq(("A", "t", 5L)).toDF("label", "tok", "w")
    val dir = java.nio.file.Files
      .createTempDirectory("classify-string-id").toString
    Seq(("doc-1", "t")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingClassify.streamingPredict(
      spark, dir, schema, "classify_string_id", model, maxModelRows = 0)
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("integral type"),
      s"string doc_id must refuse loudly on the degrade path, got:\n$all")
  }

  test("null doc_ids raise in-row on the streaming scorers") {
    val sp = spark; import sp.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("decon-null-id").toString
    Seq((Some(1L), "alpha beta gamma delta epsilon zeta eta"),
        (None: Option[Long], "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingDecontaminate.streamingFlags(
      spark, dir, schema, "decon_null_id", bench, minShared = 2)
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("null id"),
      s"null doc_id must raise in-row, got:\n$all")
  }

  test("a scorer whose model materialization throws releases its cache " +
      "before rethrowing") {
    val sp = spark; import sp.implicits._
    // compare ids, not counts: the context cleaner may unpersist an
    // earlier suite's garbage-collected RDD mid-test, which would hide
    // a leak from (or fake one into) a size comparison
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    // a model whose count() throws: raise_error fires on materialization
    val bad = Seq(("A", "t", 5L)).toDF("label", "tok", "w")
      .withColumn("w", when(col("w") > 0,
        raise_error(lit("boom"))).otherwise(col("w")).cast("long"))
    intercept[Exception] {
      StreamingClassify.scorer(bad, maxModelRows = Long.MaxValue)
    }
    assert(leaked.isEmpty,
      "a throwing scorer must not leak its persisted model into the session")
    val badBench = Seq((0L, "x")).toDF("doc_id", "text")
      .withColumn("text", when(length(col("text")) > 0,
        raise_error(lit("boom"))).otherwise(col("text")).cast("string"))
    intercept[Exception] {
      StreamingDecontaminate.scorer(badBench, minShared = 2)
    }
    assert(leaked.isEmpty,
      "a throwing decontaminate scorer must not leak its persisted grams")
  }
}
