package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The two regimes of the model fits — the PQ codebook
  * ([[Pq.fitCodebook]]) and the IVF coarse quantizer
  * ([[Similarity.fitQuantizer]]) — must be interchangeable: a training
  * sample inside [[Pq.DriverFitBound]] is fitted on the driver, a
  * larger one by the distributed Lloyd loop, and the gate may only
  * change where the arithmetic runs. So this spec pins, to the bit
  * (`doubleToRawLongBits`), that both regimes give the same centroids
  * on the fixtures and on synthetic sets built to hit every argmin and
  * update edge (exact distance ties, codes that empty mid-fit,
  * duplicate vectors), and that every refusal reads the same in both.
  */
class FitRegimeParitySpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private val Driver = Pq.DriverFitBound
  private val Distributed = 0L

  private def emb(sf: String): DataFrame =
    graft.engine.Tables.table(spark, s"/root/testdata/$sf", "embeddings")

  /** The PQ fit's training sample, as [[Pq.codebookForStore]] builds it. */
  private def pqSample(e: DataFrame, trainMod: Int): DataFrame =
    Spread(e).select(col("vec_id"), col("embedding").as("v"))
      .filter(pmod(xxhash64(col("vec_id")), lit(trainMod)) === 0)

  /** The coarse fit's training sample, as [[Similarity.quantizerFor]]
    * builds it.
    */
  private def ivfSample(e: DataFrame, trainMod: Int): DataFrame =
    Similarity.withNorm(e).select(col("vec_id"), col("v"))
      .filter(pmod(xxhash64(col("vec_id")), lit(trainMod)) === 0)

  private def bits(xs: Array[Array[Double]]): Seq[Long] =
    xs.toSeq.flatMap(_.toSeq).map(java.lang.Double.doubleToRawLongBits)

  private def pqBits(s: DataFrame, m: Int, k: Int, bound: Long): Seq[Long] =
    bits(Pq.fitCodebook(s, m, k, bound).cb.flatten)

  private def ivfBits(s: DataFrame, nCells: Int, bound: Long): Seq[Long] =
    bits(Similarity.fitQuantizer(s, nCells, bound).centroids)

  /** Both fits on `e` in both regimes, asserting the driver regime is
    * the one the default bound actually takes.
    */
  private def assertParity(e: DataFrame, what: String, m: Int, k: Int,
      nCells: Int, pqMod: Int = 1, ivfMod: Int = 4): Unit = {
    val pq = pqSample(e, pqMod)
    assert(Pq.driverSample(pq, k, Driver).isDefined,
      s"$what: the PQ sample should fit the driver bound")
    val pqDriver = pqBits(pq, m, k, Driver)
    assert(pqDriver.nonEmpty)
    assert(pqDriver == pqBits(pq, m, k, Distributed),
      s"$what: the driver PQ codebook differs from the distributed one")
    val ivf = ivfSample(e, ivfMod)
    assert(Pq.driverSample(ivf.select(col("vec_id"),
      Similarity.unitOf(col("v")).as("v")), nCells, Driver).isDefined,
      s"$what: the coarse sample should fit the driver bound")
    assert(ivfBits(ivf, nCells, Driver) == ivfBits(ivf, nCells, Distributed),
      s"$what: the driver coarse centroids differ from the distributed ones")
  }

  private def embeddings(vecs: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map { case (id, v) => Row(id, v) }, 3),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))

  private def boxed(xs: Seq[Float]): Seq[java.lang.Float] =
    xs.map(java.lang.Float.valueOf)

  /** `n` 4-dim vectors on the integer grid {-2..2}⁴ — exact distance
    * ties everywhere — where every id ≥ `n - dups` repeats the vector
    * of id - (n - dups).
    */
  private def grid(n: Int, dups: Int): DataFrame = {
    val base = n - dups
    def at(id: Int): Seq[Float] =
      Seq(7, 11, 13, 17).map(a => ((id * a + id / 5) % 5 - 2).toFloat)
    embeddings((0 until n).map { id =>
      id.toLong -> boxed(at(if (id >= base) id - base else id))
    })
  }

  /** Replays the driver Lloyd iteration by iteration and reports
    * whether some vector met an exact distance tie, and whether some
    * code that had members lost all of them later in the fit.
    */
  private def edges(vecs: Array[Array[Double]], k: Int, iters: Int,
      cb0: Array[Array[Double]]): (Boolean, Boolean) = {
    var tie = false
    var emptied = false
    val everUsed = new Array[Boolean](k)
    for (t <- 0 until iters) {
      val cb = Pq.driverLloyd(vecs, 1, k, vecs.head.length, Array(cb0), t).get(0)
      val counts = new Array[Int](k)
      vecs.foreach { v =>
        val d = cb.map(c => v.indices.map(j => (v(j) - c(j)) * (v(j) - c(j))).sum)
        if (d.count(_ == d.min) > 1) tie = true
        counts(d.indexOf(d.min)) += 1
      }
      for (c <- 0 until k) {
        if (everUsed(c) && counts(c) == 0) emptied = true
        if (counts(c) > 0) everUsed(c) = true
      }
    }
    (tie, emptied)
  }

  test("fixtures: driver and distributed fits are bit-identical") {
    for (sf <- Seq("sf0.001", "sf0.01"))
      assertParity(emb(sf), sf, m = 16, k = 32, nCells = 16)
  }

  test("synthetic ties, emptied codes and duplicates: bit-identical") {
    // each set really hits the edge it is here for, replayed at m = 1
    // over the raw vectors from the PQ seeds (the k lowest vec_ids)
    def hits(e: DataFrame, k: Int): (Boolean, Boolean) = {
      val rows = Pq.driverSample(pqSample(e, 1), k, Driver).get
      edges(rows.map(_.v), k, Pq.FitIters, rows.take(k).map(_.v))
    }
    val e = grid(240, dups = 60)
    assert(hits(e, 12)._1, "the grid should produce exact distance ties")
    assertParity(e, "grid", m = 1, k = 12, nCells = 6, ivfMod = 1)
    assertParity(e, "grid m=2", m = 2, k = 8, nCells = 6, ivfMod = 1)
    // the spread-Forgy init (nCells > 64), over a fixture with 100 of
    // its vectors repeated under new ids, so the distinct pass drops some
    val fix = emb("sf0.001").select(col("vec_id"), col("embedding"))
    val forgy = ivfSample(fix.union(fix.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))), 1)
    assert(ivfBits(forgy, 70, Driver) == ivfBits(forgy, 70, Distributed))
    // code 1 holds (3,-1) and (-2,-2) after the first assignment; its
    // mean (0.5,-1.5) then loses both to the neighbouring codes
    val emptying = embeddings(Seq((4, 1), (3, -1), (-3, 3), (-2, 1),
      (-2, -2), (-4, -3), (4, 0)).zipWithIndex.map { case ((x, y), id) =>
        id.toLong -> boxed(Seq(x.toFloat, y.toFloat, 0f, 0f))
    })
    assert(hits(emptying, 3)._2, "the set should empty a code mid-fit")
    assertParity(emptying, "emptying", m = 1, k = 3, nCells = 3, ivfMod = 1)
    assertParity(emptying, "emptying m=2", m = 2, k = 3, nCells = 3, ivfMod = 1)
  }

  test("samples past the first probe take the second probe, same bits") {
    // 1,500 rows: more than the first probe's 1,024, so the driver
    // regime comes from the second, dimension-sized probe
    val big = grid(1500, dups = 300)
    val s = pqSample(big, 1)
    assert(Pq.driverSample(s, 8, Driver).map(_.length).contains(1500))
    assert(pqBits(s, 2, 8, Driver) == pqBits(s, 2, 8, Distributed))
    // a bound under 1,024 × dim: the first probe carries no vectors
    val fix = pqSample(emb("sf0.001"), 1)
    assert(Pq.driverSample(fix, 32, 40000L).isDefined)
    assert(pqBits(fix, 16, 32, 40000L) == pqBits(fix, 16, 32, Driver))
  }

  test("an over-bound sample takes the distributed fallback, same bits") {
    val fix = pqSample(emb("sf0.001"), 1)
    // 500 × 64 doubles > 6,400: over the bound
    assert(Pq.driverSample(fix, 32, 6400L).isEmpty)
    assert(pqBits(fix, 16, 32, 6400L) == pqBits(fix, 16, 32, Driver))
    val ivf = ivfSample(emb("sf0.001"), 4)
    assert(ivfBits(ivf, 16, 6400L) == ivfBits(ivf, 16, Driver))
    // a component whose fixed-point value leaves the Long range: the
    // driver Lloyd declines and the decimal sums of the loop take over
    val wide = grid(40, dups = 0).union(
      embeddings(Seq(500L -> boxed(Seq(1e10f, 0f, 0f, 0f)))))
    val rows = Pq.driverSample(pqSample(wide, 1), 4, Driver).get
    assert(Pq.driverLloyd(rows.map(_.v), 1, 4, 4,
      Array(rows.take(4).map(_.v)), 1).isEmpty)
    assert(pqBits(pqSample(wide, 1), 1, 4, Driver) ==
      pqBits(pqSample(wide, 1), 1, 4, Distributed))
  }

  test("every refusal reads the same in both regimes") {
    def err(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    def same(what: String, expect: String)(f: Long => Any): Unit = {
      val (d, x) = (err(f(Driver)), err(f(Distributed)))
      assert(d == x, s"$what: driver says '$d', distributed says '$x'")
      assert(d.contains(expect), s"$what: unexpected refusal '$d'")
    }
    val fix = emb("sf0.001")
    val g = grid(40, dups = 0)
    same("empty", "empty embeddings sample") { b =>
      Pq.fitCodebook(pqSample(fix.filter(col("vec_id") < 0), 1), 16, 32, b)
    }
    same("empty ivf", "empty embeddings sample") { b =>
      Similarity.fitQuantizer(ivfSample(fix.filter(col("vec_id") < 0), 1), 16, b)
    }
    val mixed = g.union(embeddings(Seq(1000L -> boxed(Seq(1f, 2f, 3f)))))
    same("mixed", "mixed embedding dimensions (3..4)") { b =>
      Pq.fitCodebook(pqSample(mixed, 1), 2, 4, b)
    }
    same("mixed ivf", "mixed embedding dimensions (3..4)") { b =>
      Similarity.fitQuantizer(ivfSample(mixed, 1), 4, b)
    }
    same("m", "not divisible into m=3") { b =>
      Pq.fitCodebook(pqSample(g, 1), 3, 4, b)
    }
    same("k", "need at least k=64 vectors to train a codebook, got 40") { b =>
      Pq.fitCodebook(pqSample(g, 1), 2, 64, b)
    }
    same("cover", "distinct vector(s) but nCells=64") { b =>
      Similarity.fitQuantizer(ivfSample(g, 1), 64, b)
    }
    val dupOnly = embeddings((0L until 30L).map(id =>
      id -> boxed(Seq((id % 3).toFloat + 1f, 1f, 1f, 1f))))
    same("cover dups", "has 3 distinct vector(s) but nCells=8") { b =>
      Similarity.fitQuantizer(ivfSample(dupOnly, 1), 8, b)
    }
    val nanAt = g.union(embeddings(Seq(
      1001L -> boxed(Seq(Float.NaN, 1f, 1f, 1f)),
      1002L -> Seq(java.lang.Float.valueOf(1f), null,
        java.lang.Float.valueOf(1f), java.lang.Float.valueOf(1f)))))
    same("nan", "pq: training vector vec_id=1001 has a non-finite component") { b =>
      Pq.fitCodebook(pqSample(nanAt, 1), 2, 4, b)
    }
    same("null ivf", "ivf: training vector vec_id=1002 has a null component") { b =>
      Similarity.fitQuantizer(ivfSample(nanAt.filter(col("vec_id") =!= 1001L), 1),
        4, b)
    }
  }
}
