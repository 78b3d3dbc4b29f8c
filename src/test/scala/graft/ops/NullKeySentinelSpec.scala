package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cell and cluster join keys are computed non-nullable: a row the
  * fitted model cannot assign (its dimension disagrees with the
  * centroids) gets the key −1 instead of null (`Similarity.cellOf`,
  * `Kmeans.withCluster`), so no inferred `IsNotNull` re-runs the
  * encode chain. The invariant that makes this legal: such rows never
  * pair with anything — not with real rows, and not with EACH OTHER,
  * although they share the −1 key in the cell- and cluster-keyed
  * self-joins. This spec plants pairs of near-identical wrong-dimension
  * rows outside the fits' training samples and checks that no output
  * row of the three keyed families involves them.
  */
class NullKeySentinelSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def fixture: DataFrame =
    graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))

  /** Four ids past the fixture whose hash keeps them out of every
    * trainMod = 4 sample.
    */
  private lazy val plantedIds: Seq[Long] =
    spark.range(1000, 1100).filter(pmod(xxhash64(col("id")), lit(4)) =!= 0)
      .orderBy(col("id")).limit(4).collect().map(_.longValue).toSeq

  /** Two near-identical 32-dim rows (a length `pq_encode` still
    * factors against the 64-dim models) and two near-identical 3-dim
    * rows (a length it cannot), at the planted ids.
    */
  private def planted(dims: Seq[Int]): DataFrame = {
    val sp = spark
    import sp.implicits._
    plantedIds.zip(dims).map { case (id, d) =>
      (id, Array.tabulate(d)(j => (1 + j % 5 + (id % 2) * 1e-3).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private val Dims = Seq(32, 32, 3, 3)

  private def corpus: DataFrame = fixture.union(planted(Dims))

  private def involved(df: DataFrame, cols: String*): Long =
    df.filter(cols.map(c => col(c).isin(plantedIds: _*)).reduce(_ || _))
      .count()

  test("the planted rows stay out of the trainMod = 4 samples") {
    assert(plantedIds.length == 4)
  }

  test("IVF kNN: no neighbor row involves a wrong-dimension vector") {
    try {
      val got = Similarity.knnIvf(corpus, nProbe = 16)
      assert(got.count() > 0)
      assert(involved(got, "query_id", "neighbor_id") == 0)
    } finally Similarity.clearQuantizerCache()
  }

  test("PQ near-dup: no pair involves a wrong-dimension vector") {
    try {
      val got = Pq.embeddingNearDupPq(corpus, trainMod = 4, boundA = 0,
        certifyMargin = false)
      assert(got.count() > 0)
      assert(involved(got, "vec_a", "vec_b") == 0)
    } finally {
      Pq.clearCodebookCache()
      Similarity.clearQuantizerCache()
    }
  }

  test("lattice semantic dedup: degenerate rows pair with nothing") {
    try {
      // the lattice fit trains on EVERY row, so a wrong-dimension row
      // can never sit outside its sample: it refuses the corpus
      val err = intercept[IllegalArgumentException] {
        Kmeans.semanticDedup(corpus).collect()
      }
      assert(err.getMessage.contains("single embedding dimension"))
      // empty vectors quantize to null and are dropped at the encode
      // boundary, before the fit and the cluster self-join
      val got = Kmeans.semanticDedup(fixture.union(planted(Seq(0, 0, 0, 0))))
      assert(got.count() == fixture.count())
      assert(involved(got.filter(col("keep") === 0), "vec_id") == 0)
    } finally Kmeans.clearCache()
  }
}
