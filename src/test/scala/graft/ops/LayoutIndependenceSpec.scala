package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-15 determinism contract, pinned to the BIT: both fitted
  * quantizers (the float IVF coarse quantizer and the PQ codebook)
  * are functions of the DATA alone — no partition re-layout of the
  * training corpus may move a centroid by an ulp. This is what the
  * exact fixed-point Lloyd means (decimal sums are order-independent)
  * plus the deterministic inits (hash-ordered init sub-sample with
  * vec_id tiebreak; id-ordered Forgy seeds), and it is the property
  * the old kmeans|| fit measurably LACKED (its init sampled per
  * partition, so a 1-partition re-layout moved the sf0.001 SDC gap
  * 0.30 → 0.37 — r14 PROF addendum 1). An ulp drift here can flip an
  * argmin tie downstream, which is a changed cell assignment, which
  * is a changed gate row.
  *
  * Every layout runs in both fit regimes: the default bound (the
  * training sample is fitted on the driver) and a forced bound of 0
  * (the distributed Lloyd loop), and all of them must agree.
  */
class LayoutIndependenceSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private val bounds = Seq(Pq.DriverFitBound, 0L)

  private def emb =
    graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  test("coarse quantizer centroids are bit-identical across re-layouts") {
    try {
      // three materially different physical layouts of the same rows;
      // each trains its own fit (the memo keys on the optimized plan,
      // which retains the repartition) — the VALUES must agree exactly
      val layouts = Seq(
        emb,
        emb.repartition(7),
        emb.repartition(1).sortWithinPartitions(col("vec_id").desc))
      val fits = for (bound <- bounds; e <- layouts) yield {
        val (_, model) = Similarity.assignedWithModel(e, nCells = 16,
          trainMod = 4, bound = bound)
        model.centroids.toSeq.flatMap(_.toSeq)
          .map(java.lang.Double.doubleToRawLongBits)
      }
      assert(fits(0).nonEmpty)
      assert(fits(1) == fits(0),
        "a 7-way repartition must not move a centroid by an ulp")
      assert(fits(2) == fits(0),
        "a 1-partition reverse-sorted layout must not move a centroid")
      assert(fits.drop(3) == fits.take(3),
        "the distributed fit must give the driver fit's centroids")
    } finally Similarity.clearQuantizerCache()
  }

  test("PQ codebook is bit-identical across re-layouts") {
    try {
      val layouts = Seq(
        emb,
        emb.repartition(7),
        emb.repartition(1).sortWithinPartitions(col("vec_id").desc))
      val books = for (bound <- bounds; e <- layouts) yield {
        val b = Pq.codebookForStore(e, m = 16, kCodes = 32, trainMod = 1,
          bound = bound)
        b.cb.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
          .map(java.lang.Double.doubleToRawLongBits)
      }
      assert(books(1) == books(0),
        "a 7-way repartition must not move a codebook centroid")
      assert(books(2) == books(0),
        "a 1-partition reverse-sorted layout must not move a codebook centroid")
      assert(books.drop(3) == books.take(3),
        "the distributed fit must give the driver fit's codebook")
    } finally Pq.clearCodebookCache()
  }

  test("cell assignment of the whole corpus is identical across re-layouts") {
    try {
      def cells(e: org.apache.spark.sql.DataFrame,
          bound: Long): Map[Long, Int] = {
        val (assigned, _) = Similarity.assignedWithModel(e, nCells = 16,
          trainMod = 4, bound = bound)
        assigned.select(col("vec_id"), col("cell")).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      val base = cells(emb, Pq.DriverFitBound)
      assert(base.nonEmpty)
      for (bound <- bounds)
        assert(cells(emb.repartition(7), bound) == base,
          "per-vector cell assignment must be layout-independent end to " +
            s"end (bound $bound)")
    } finally Similarity.clearQuantizerCache()
  }
}
