package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A training-sample vector with a null or non-finite component
  * cannot be fitted: a null element makes `pq_encode` return a null
  * code, and a NaN makes every distance NaN so the argmin finds no
  * code at all. Both model fits (the PQ codebook and the IVF coarse
  * quantizer) must refuse such a sample up front, naming the lowest
  * offending vec_id and the reason, instead of failing somewhere in
  * the Lloyd loop with an unrelated error.
  */
class TrainingVectorRejectSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  /** 20 well-formed 4-dim vectors, with `bad` overriding some rows. */
  private def corpus(bad: Map[Long, Seq[java.lang.Float]]): DataFrame = {
    val rows = (0L until 20L).map { id =>
      val v = bad.getOrElse(id,
        Seq.tabulate(4)(j => java.lang.Float.valueOf(((id * 7 + j * 3) % 11).toFloat)))
      Row(id, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
  }

  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  private val withNull: Seq[java.lang.Float] =
    Seq(java.lang.Float.valueOf(1f), null, java.lang.Float.valueOf(2f),
      java.lang.Float.valueOf(3f))

  private def pqError(e: DataFrame): String =
    try {
      intercept[IllegalArgumentException] {
        Pq.codebookForStore(e, m = 2, kCodes = 2, trainMod = 1)
      }.getMessage
    } finally Pq.clearCodebookCache()

  private def ivfError(e: DataFrame): String =
    try {
      intercept[IllegalArgumentException] {
        Similarity.assignedWithModel(e, nCells = 2, trainMod = 1)
      }.getMessage
    } finally Similarity.clearQuantizerCache()

  test("a NaN or infinite component is refused by vec_id in both fits") {
    val nan = corpus(Map(7L -> f(1f, Float.NaN, 2f, 3f)))
    assert(pqError(nan).contains(
      "pq: training vector vec_id=7 has a non-finite component"))
    assert(ivfError(nan).contains(
      "ivf: training vector vec_id=7 has a non-finite component"))
    val inf = corpus(Map(12L -> f(1f, 2f, Float.NegativeInfinity, 3f)))
    assert(pqError(inf).contains(
      "pq: training vector vec_id=12 has a non-finite component"))
  }

  test("a null component or a null vector is refused by vec_id in both fits") {
    val nulls = corpus(Map(3L -> withNull))
    assert(pqError(nulls).contains(
      "pq: training vector vec_id=3 has a null component"))
    assert(ivfError(nulls).contains(
      "ivf: training vector vec_id=3 has a null component"))
    val nullVec = corpus(Map(5L -> null))
    assert(pqError(nullVec).contains(
      "pq: training vector vec_id=5 has a null component"))
  }

  test("the lowest offending vec_id is named, whatever its reason") {
    val both = corpus(Map(9L -> withNull, 4L -> f(Float.NaN, 1f, 1f, 1f)))
    assert(pqError(both).contains("vec_id=4 has a non-finite component"))
    val both2 = corpus(Map(2L -> withNull, 4L -> f(Float.NaN, 1f, 1f, 1f)))
    assert(ivfError(both2).contains("vec_id=2 has a null component"))
  }
}
