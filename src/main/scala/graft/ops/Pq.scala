package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the `embeddings` table — the
  * memory-bound half of the production ANN stack (IVF bounds how many
  * pairs are scored, PQ bounds how many BYTES the resident index
  * holds per vector).
  *
  * The 64-dim vector splits into `m` = 16 subspaces of 4 dims; each
  * subspace trains its own k = 32 centroid codebook (deterministic Lloyd on the
  * deterministic hash-mod sample, fixed seed, memoized per corpus
  * like `Similarity.quantizerFor`), and a vector encodes as 16
  * 5-bit-range codes — 16 small ints (10 B packed) instead of 256 B
  * of floats, a 16-25× resident-index reduction. The default
  * geometry is the measured covering point for these corpora
  * (`Prof <dir> pq` sweeps m/k/trainMod; under the round-14
  * deterministic Lloyd fit the worst true-neighbor PQ rank is
  * 29/45/111 at sf0.001/0.01/0.1 against a 400-candidate depth —
  * coarser 8×16 codebooks leave true neighbors far deeper on the
  * near-random synthetic embeddings, whose top cosines sit at ~0.3
  * where quantization error dominates). trainMod=1
  * trains on the full fixture corpus; at 100 TB the modulus is
  * raised exactly like the IVF quantizer's. Query scoring is ADC
  * (asymmetric
  * distance computation): each query precomputes an m×k lookup table
  * of subspace partial dots ONCE, and every (query, candidate) pair
  * costs m table lookups instead of d multiplications.
  *
  * At 100 TB: the codes relation is the scan target (codes + id +
  * PQ norm ≈ 50 B/row); full vectors are touched only for the Q×C
  * rerank fetch, a broadcast-candidate equi-join. The codebook
  * (m·k·subDim = 1024 doubles) embeds as a plan literal — smaller
  * than the centroid table the IVF path already broadcasts.
  *
  * Exactness contract (the `x_knn_ivf_recall` pattern, strengthened):
  * [[knnPqRerank]] takes the PQ top-`candidates` per query and
  * re-scores them with EXACT cosine — at a candidate depth that
  * covers every true neighbor (verified on these corpora by the spec
  * sweep), the output equals [[Similarity.knnBrute]] bit-for-bit and
  * shares its full DuckDB oracle. Production depth is a knob: the
  * two-stage shape (PQ prefilter, exact rerank) is the standard
  * retrieval layout, not a test-only construction.
  */
object Pq {

  /** Codebook: cb(s)(c) = the subDim-dim centroid `c` of subspace
    * `s`, plus the subspace slicing geometry.
    */
  final case class Codebook(m: Int, k: Int, subDim: Int,
      cb: Array[Array[Array[Double]]])

  /** Memoized per (canonical corpus plan, file set, m, k, trainMod) —
    * the `Similarity.quantizerFor` pattern: repeated queries over one
    * corpus train the m subspace codebooks once.
    */
  private val codebooks =
    new BoundedMemo[(Int, Int, Int, Int, Int, Long), Codebook](capacity = 32)

  private[ops] def codebookCacheSize: Int = codebooks.size

  def clearCodebookCache(): Unit = { codebooks.clear(); marginCerts.clear() }

  /** Memoized margin-certification results — keyed on (corpus file
    * listing, codebook content, threshold, bound), all deterministic
    * inputs, so a hit returns exactly what a re-probe would.
    */
  private val marginCerts =
    new BoundedMemo[(Int, Int, Double, Long), Double](capacity = 64)

  /** Lloyd iterations of the codebook fit — fixed, like every
    * deterministic iteration count in [[Kmeans]]: a convergence test
    * would make the job count data-dependent for no measured recall
    * gain on these corpora (the Prof pq sweep re-validates the
    * covering ranks whenever this moves).
    */
  private[ops] val FitIters = 10

  /** Fixed-point scale of the Lloyd update's exact mean (2³⁰): big
    * enough that the quantization error (≤ 2⁻³¹ per term) vanishes
    * against centroid geometry, small enough that a decimal(38,0)
    * sum can never overflow on any corpus that fits on storage.
    */
  private val FitScale = 1L << 30

  /** The driver-fit budget of both model fits (this codebook and
    * [[Similarity.quantizerFor]]'s coarse quantizer), in doubles: a
    * training sample of n vectors of dimension dim is fitted on the
    * driver when n·dim ≤ this (driver memory, 32 MB of vectors) and
    * n·k·dim ≤ 32× this (2²⁷ multiply-adds per Lloyd iteration).
    * Past it the distributed loop runs unchanged — an automatic
    * degrade, not a refusal (the `Dedup.MaxDriverEdges` pattern).
    * Why the driver path exists: every distributed Lloyd iteration is
    * a groupBy + collect, two whole Spark jobs under AQE, so on a
    * training sample of a few hundred to a few thousand vectors the
    * fit is pure scheduler overhead (~0.5 s per iteration in a 4-core
    * local session, for well under a millisecond of arithmetic).
    */
  private[ops] val DriverFitBound: Long = 1L << 22

  /** Rows of the first bounded probe: a sample of at most this many
    * vectors of at most `bound / FirstProbeRows` dims (4,096 at the
    * default bound) comes back in ONE collect; a larger one is probed
    * a second time at the row cap its observed dimension allows.
    */
  private val FirstProbeRows = 1 << 10

  /** One training-sample row as the driver fits read it: the raw id
    * and its xxhash64 (the fits' two orders), the vector length, the
    * two rejection flags, and the vector as doubles (null elements
    * read as 0 — such a vector is rejected before use — and null when
    * the row is longer than the probe's per-row cap).
    */
  private[ops] final case class TrainRow(id: Long, h: Long, size: Int,
      nulls: Boolean, nonFinite: Boolean, v: Array[Double])

  private def nullsOf(v: Column): Column = v.isNull || exists(v, _.isNull)

  private def nonFiniteOf(v: Column): Column = coalesce(exists(v, x =>
    isnan(x) || abs(x) === lit(Double.PositiveInfinity)), lit(false))

  /** The whole (vec_id, v) training sample on the driver, vec_id-
    * ordered, when a k-centroid fit of it stays inside the driver
    * budget `bound` ([[DriverFitBound]] outside specs) — else None:
    * take the distributed loop. As in `Dedup.clusterLabelsOf`, a
    * bounded `head(cap + 1)` either returns the COMPLETE sample or
    * proves the cap exceeded. The first probe caps each row's payload
    * too, so the probe itself stays inside the budget whatever the
    * dimension.
    */
  private[ops] def driverSample(sample: DataFrame, k: Int,
      bound: Long): Option[Array[TrainRow]] = {
    def probe(rows: Int, maxDim: Long): Array[TrainRow] = sample
      .select(col("vec_id").cast("long").as("id"),
        xxhash64(col("vec_id")).as("h"),
        coalesce(size(col("v")), lit(-1)).as("size"),
        nullsOf(col("v")).as("nulls"), nonFiniteOf(col("v")).as("nonFinite"),
        when(size(col("v")) <= maxDim, transform(col("v"),
          x => coalesce(x.cast("double"), lit(0.0d)))).as("v"))
      .as(org.apache.spark.sql.Encoders.product[TrainRow])
      .head(rows + 1)
    def complete(rs: Array[TrainRow], cap: Long): Boolean =
      rs.length <= cap && rs.forall(r => r.v != null || r.size < 0)
    val first = probe(FirstProbeRows, bound / FirstProbeRows)
    val rows =
      if (complete(first, FirstProbeRows)) first
      else {
        val dim = math.max(1L, first.map(_.size.toLong).max)
        val cap = math.min(bound / dim, (bound << 5) / (math.max(k, 1) * dim))
        if (cap < first.length) return None
        val all = probe(math.min(cap, Int.MaxValue - 1L).toInt, dim)
        if (!complete(all, cap)) return None
        all
      }
    val dim = if (rows.isEmpty) 0L else rows.map(_.size.toLong).max
    val n = rows.length.toLong
    if (n * dim > bound || n * k * dim > (bound << 5)) None
    else Some(rows.sortBy(_.id))
  }

  /** What the fits check before training, from either regime: row
    * count, dimension range and the lowest vec_id holding a null or a
    * non-finite component.
    */
  private[ops] final case class SampleStats(n: Long, dimLo: Int, dim: Int,
      nullId: Option[Long], nonFiniteId: Option[Long]) {

    /** The checks both fits share, in one order, so every refusal
      * reads the same in both regimes; returns the common dimension.
      * A null or non-finite component would otherwise surface deep in
      * the distributed loop (a null code from `pq_encode`, or a NaN
      * distance leaving the argmin at −1) as an unexplained failure.
      */
    def requireTrainable(tag: String, model: String): Int = {
      require(n > 0, s"$tag: cannot train a $model on an empty embeddings sample")
      val bad = (nullId ++ nonFiniteId).minOption
      require(bad.isEmpty, s"$tag: training vector vec_id=${bad.get} has " +
        (if (nullId == bad) "a null" else "a non-finite") + " component")
      require(dimLo == dim,
        s"$tag: corpus has mixed embedding dimensions ($dimLo..$dim)")
      dim
    }
  }

  private[ops] def statsOf(rows: Array[TrainRow]): SampleStats =
    SampleStats(rows.length,
      if (rows.isEmpty) 0 else rows.map(_.size).min,
      if (rows.isEmpty) 0 else rows.map(_.size).max,
      rows.find(_.nulls).map(_.id), rows.find(_.nonFinite).map(_.id))

  /** [[statsOf]] as one aggregate job over a persisted sample — the
    * distributed regime's geometry probe.
    */
  private[ops] def statsOf(sample: DataFrame): SampleStats = {
    val id = col("vec_id").cast("long")
    val r = sample.agg(count(lit(1)), min(size(col("v"))),
      max(size(col("v"))), min(when(nullsOf(col("v")), id)),
      min(when(nonFiniteOf(col("v")), id))).head()
    def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    SampleStats(r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1),
      if (r.isNullAt(2)) 0 else r.getInt(2), opt(3), opt(4))
  }

  /** Train (or reuse) the m per-subspace codebooks on the
    * deterministic hash-mod sample — a DETERMINISTIC,
    * PARTITION-INDEPENDENT Lloyd loop over ALL m subspaces at once:
    *
    *  - Seeds: the k lowest-vec_id vectors' subvectors per subspace
    *    (Forgy init on the id order — ids are uncorrelated with
    *    embedding geometry, so this is a deterministic random sample).
    *  - Assignment: the `pq_encode` argmin the corpus encode uses
    *    (ties to the lower code), all m subspaces of a vector at once.
    *  - Update: per-(subspace, code, dim) mean — empty codes keep
    *    their centroid. [[FitIters]] iterations.
    *    The mean is EXACTLY layout-independent: each component is
    *    fixed-point-quantized (×2³⁰, one deterministic per-value
    *    rounding) and summed as an exact integer — a commutative sum
    *    that no partition re-layout can move by an ulp — then divided
    *    once on the way out. A plain double avg() sums
    *    in partition order, and an ulp drift there can flip an argmin
    *    tie downstream: the same (much smaller) failure class the
    *    kmeans|| replacement was motivated by. Cost: ~1e-9 per-mean
    *    quantization error, irrelevant at centroid scale.
    *
    * Two regimes, bit-identical by construction ([[driverLloyd]]):
    * a sample inside [[DriverFitBound]] is fitted on the driver from
    * the one bounded probe ([[driverSample]]) — one collect, or two
    * past [[FirstProbeRows]] rows; a larger one is persisted and
    * fitted by the distributed loop: one geometry aggregate, one seed
    * collect and [[FitIters]] groupBy-collect iterations.
    *
    * This replaced m=16 concurrent MLlib KMeans fits in round 14 for
    * two measured reasons. COST: the MLlib path was ~430 whole Spark
    * jobs (per-fit kmeans|| init passes + Lloyd steps), pure
    * scheduling overhead at any sample size a driver schedules —
    * the r13 driver's 132 s cold fit (measured 21 s → ~3 s at sf0.1
    * with the distributed loop). STABILITY: kmeans||'s init samples
    * PER PARTITION, so the codebook — and with it the SDC covering
    * margin — moved with the data layout (a 1-partition re-layout
    * pushed the sf0.001 worst exact−SDC gap 0.30 → 0.37, past the
    * 0.35 margin); seeds by id order make the codebook a function of
    * the DATA alone.
    * (Cheapening the fit itself was also measured recall-unsafe:
    * maxIter=10 under MLlib moved sf0.1's gap 0.32 → 0.38, trainMod=4
    * moved sf0.01 to 0.37 — codebook quality is the binding
    * constraint on these near-random fixtures, so the cost cut had to
    * be mechanical, not statistical.)
    *
    * Each iteration's k·m·subDim centroids are driver-side model
    * state (exactly like `clusterCenters` in the IVF path), never a
    * corpus collect.
    */
  private def codebookFor(e: DataFrame, m: Int, k: Int,
      trainMod: Int, bound: Long = DriverFitBound): Codebook = {
    val sample = e.select(col("vec_id"), col("v"))
      .filter(pmod(xxhash64(col("vec_id")), lit(trainMod)) === 0)
    val key = (sample.queryExecution.optimizedPlan.semanticHash(),
      java.util.Arrays.hashCode(e.inputFiles.asInstanceOf[Array[AnyRef]]),
      m, k, trainMod, bound)
    codebooks.getOrElseUpdate(key)(fitCodebook(sample, m, k, bound))
  }

  /** [[codebookFor]]'s fit, unmemoized: the driver regime when the
    * sample fits `bound` and its fixed-point sums fit a Long, else the
    * distributed one. The subspace geometry comes from the DATA, not
    * a constant: a corpus of any dimension trains a codebook whose
    * flat length agrees with its vectors, and an empty corpus, a
    * MIXED-dimension corpus, or an m that doesn't divide the observed
    * dim all fail HERE with a real error instead of pq_encode's
    * geometry check silently nulling every code downstream.
    */
  private[ops] def fitCodebook(sample: DataFrame, m: Int, k: Int,
      bound: Long): Codebook = {
    def subDimOf(st: SampleStats): Int = {
      val dim = st.requireTrainable("pq", "codebook")
      require(dim > 0 && dim % m == 0,
        s"pq: corpus dimension $dim is not divisible into m=$m subspaces")
      dim / m
    }
    // Forgy seeds: the k lowest-vec_id vectors, sliced per subspace
    def cb0Of(seeds: Array[Array[Double]], subDim: Int) = {
      require(seeds.length >= k, s"pq: need at least k=$k vectors to " +
        s"train a codebook, got ${seeds.length}")
      Array.tabulate(m, k)((s, c) => seeds(c).slice(s * subDim, (s + 1) * subDim))
    }
    driverSample(sample, k, bound).flatMap { rows =>
      val subDim = subDimOf(statsOf(rows))
      val cb0 = cb0Of(rows.take(k).map(_.v), subDim)
      driverLloyd(rows.map(_.v), m, k, subDim, cb0, FitIters)
        .map(Codebook(m, k, subDim, _))
    }.getOrElse {
      val persisted = sample.persist()
      try {
        val subDim = subDimOf(statsOf(persisted))
        val vd = transform(col("v"), x => x.cast("double"))
        val seeds = persisted.select(col("vec_id"), vd.as("vd"))
          .orderBy(col("vec_id")).limit(k).collect()
          .map(_.getSeq[Double](1).toArray)
        Codebook(m, k, subDim, lloydIters(persisted, m, k, subDim,
          cb0Of(seeds, subDim), FitIters))
      } finally { persisted.unpersist(); () }
    }
  }

  /** [[codebookFor]] from a raw embeddings relation — the
    * [[PqStore]] build entry (same canonical projection, same memo,
    * so a store build right after an in-session query reuses the fit).
    */
  private[ops] def codebookForStore(embeddings: DataFrame, m: Int,
      kCodes: Int, trainMod: Int, bound: Long = DriverFitBound): Codebook =
    codebookFor(Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v")), m, kCodes, trainMod,
      bound)

  /** The distributed fixed-point Lloyd loop from an explicit initial
    * codebook — shared with the coarse-quantizer fit
    * ([[Similarity.quantizerFor]] at m = 1, k = nCells, subDim = dim),
    * which seeds it differently but polishes through this SAME body:
    * one Lloyd implementation for both quantizers, so the
    * layout-independence properties are measured once. Each
    * iteration is one groupBy + collect (two jobs under AQE); the
    * driver regime [[driverLloyd]] computes the same centroids bit for
    * bit.
    */
  private[ops] def lloydIters(sample: DataFrame, m: Int, k: Int,
      subDim: Int, cb0: Array[Array[Array[Double]]],
      iters: Int): Array[Array[Array[Double]]] = {
    var cb = cb0
    for (_ <- 1 to iters) {
      val flat = typedLit(
        (for (s <- 0 until m; c <- 0 until k; j <- 0 until subDim)
          yield cb(s)(c)(j)).toIndexedSeq)
      val means = sample
        .withColumn("codes", call_function("pq_encode", col("v"), flat, lit(m)))
        .select(explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.cast("int").as("s"),
            element_at(col("codes"), s + 1).as("code"),
            transform(slice(col("v"), s * subDim + 1, lit(subDim)),
              x => x.cast("double")).as("sub")))).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sub")))
        .groupBy(col("s"), col("code"), col("pos"))
        // exact fixed-point mean (see the scaladoc): decimal(38,0)
        // sums are order-independent; overflow would need n·|x| >
        // ~1e29 — unreachable. ONE double rounding at the end.
        .agg((sum((col("col") * FitScale).cast("decimal(38,0)"))
          .cast("double") / count(lit(1)) / FitScale).as("mu"))
        .collect()
      val next = Array.tabulate(m, k, subDim)((s, c, j) => cb(s)(c)(j))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** [[lloydIters]] on a driver-resident sample, bit-identical to it:
    *  - assignment is `PqEncode`'s loop — (x−c)² summed left to right,
    *    strict `<`, ties to the lower code;
    *  - each component is quantized ONCE as the distributed cast does
    *    it, through Spark's own [[org.apache.spark.sql.types.Decimal]]
    *    (`Decimal(x·2³⁰)` rounded to scale 0), and summed exactly as a
    *    Long — the decimal(38,0) sum's value;
    *  - a mean is `Decimal(sum).toDouble / n / 2³⁰`, the distributed
    *    aggregate's three roundings in its order.
    * None when a quantized component or a sum leaves the Long range
    * (|x| ≳ 2³³, far outside embedding geometry): the caller then
    * takes the distributed loop, whose decimal sums still hold.
    */
  private[ops] def driverLloyd(vecs: Array[Array[Double]], m: Int, k: Int,
      subDim: Int, cb0: Array[Array[Array[Double]]],
      iters: Int): Option[Array[Array[Array[Double]]]] = {
    import org.apache.spark.sql.types.Decimal
    val dim = m * subDim
    val fixed = new Array[Long](vecs.length * dim)
    var i = 0
    while (i < vecs.length) {
      var j = 0
      while (j < dim) {
        val y = vecs(i)(j) * FitScale
        if (!(math.abs(y) < 9.0e18)) return None
        val d = Decimal(y)
        d.changePrecision(38, 0)
        fixed(i * dim + j) = d.toLong
        j += 1
      }
      i += 1
    }
    val sums = new Array[Long](m * k * subDim)
    val counts = new Array[Long](m * k)
    var cb = cb0
    try {
      for (_ <- 1 to iters) {
        java.util.Arrays.fill(sums, 0L)
        java.util.Arrays.fill(counts, 0L)
        i = 0
        while (i < vecs.length) {
          val v = vecs(i)
          var s = 0
          while (s < m) {
            var best = -1
            var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              val cent = cb(s)(c)
              var d = 0.0d
              var j = 0
              while (j < subDim) {
                val diff = v(s * subDim + j) - cent(j)
                d += diff * diff
                j += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            counts(s * k + best) += 1
            var j = 0
            while (j < subDim) {
              val at = (s * k + best) * subDim + j
              sums(at) = Math.addExact(sums(at), fixed(i * dim + s * subDim + j))
              j += 1
            }
            s += 1
          }
          i += 1
        }
        val prev = cb
        cb = Array.tabulate(m, k) { (s, c) =>
          val n = counts(s * k + c)
          if (n == 0) prev(s)(c)
          else Array.tabulate(subDim) { j =>
            Decimal(sums((s * k + c) * subDim + j)).toDouble / n / FitScale
          }
        }
      }
      Some(cb)
    } catch { case _: ArithmeticException => None }
  }

  /** The codebook as a nested plan literal: [m][k][subDim] doubles.
    * `typedLit` embeds the whole structure as ONE literal object — an
    * `array(lit, …)` of thousands of elements generates one codegen
    * assignment per element and overflows janino's parser (measured:
    * a 2,048-literal CreateArray fails to compile and silently falls
    * back to interpreted evaluation).
    */
  private def cbCol(b: Codebook): Column =
    typedLit(b.cb.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)

  /** Per-(subspace, code) centroid self-dot as a flat [m·k] literal —
    * lets the PQ norm cost m lookups per vector instead of m·subDim
    * multiplications.
    */
  private def sqTabCol(b: Codebook): Column =
    typedLit((for (s <- 0 until b.m; c <- 0 until b.k)
      yield b.cb(s)(c).map(x => x * x).sum).toIndexedSeq)

  /** The codebook as a FLAT plan literal in (s, c, j) order —
    * `pq_encode`'s layout: centroid (s, c) occupies
    * `[(s·k + c)·subDim, +subDim)`.
    */
  private def cbFlatCol(b: Codebook): Column =
    typedLit((for (s <- 0 until b.m; c <- 0 until b.k; j <- 0 until b.subDim)
      yield b.cb(s)(c)(j)).toIndexedSeq)

  /** The symmetric-distance table as a flat [m·k·k] literal —
    * `sdc_dot`'s layout: `tab[(s·k + ca)·k + cb] =
    * <cb(s)(ca), cb(s)(cb)>`. m·k² = 16,384 doubles at the default
    * geometry (~128 KB) — one `typedLit` object, same janino
    * rationale as [[cbCol]]; symmetric in (ca, cb) by construction.
    */
  private def sdcTabCol(b: Codebook): Column =
    typedLit((for (s <- 0 until b.m; ca <- 0 until b.k; cb <- 0 until b.k)
      yield {
        var acc = 0.0d
        var j = 0
        while (j < b.subDim) { acc += b.cb(s)(ca)(j) * b.cb(s)(cb)(j); j += 1 }
        acc
      }).toIndexedSeq)

  /** Encode a vector column: codes(s) = argmin_c ||v[s·subDim ..] −
    * cb(s)(c)||², via the native codegen expression `pq_encode` —
    * the per-vector hot loop of the one-time corpus index build.
    * Distance ties break to the lower code (strict `<` keeps the
    * first minimum), identical to the HOF form [[codesOfHof]] that
    * the bit-equality spec keeps pinned.
    */
  private def codesOf(v: Column, b: Codebook): Column =
    call_function("pq_encode", v, cbFlatCol(b), lit(b.m))

  /** The interpreted-HOF reference implementation of [[codesOf]] —
    * kept solely as the spec's bit-equality oracle for `pq_encode`.
    */
  private[ops] def codesOfHof(v: Column, b: Codebook): Column = {
    val cbc = cbCol(b)
    transform(sequence(lit(0), lit(b.m - 1)), s => {
      val sub = slice(v, s * b.subDim + 1, lit(b.subDim))
      val cents = element_at(cbc, s + 1)
      aggregate(sequence(lit(0), lit(b.k - 1)),
        struct(lit(-1).cast("int").as("c"), lit(Double.MaxValue).as("d")),
        (acc, c) => {
          val d = aggregate(
            zip_with(sub, element_at(cents, c + 1), (x, y) => (x - y) * (x - y)),
            lit(0.0d), (a, x) => a + x)
          when(d < acc.getField("d"),
            struct(c.cast("int").as("c"), d.as("d"))).otherwise(acc)
        }).getField("c")
    })
  }

  /** The encoded corpus: (vec_id, v, norm, codes, pcodes, pq_norm).
    * `pq_norm` is the reconstruction's norm — since the
    * reconstruction is the concatenation of per-subspace centroids,
    * its self-dot is the sum of m table lookups. `pcodes` is the
    * byte-packed code vector (`pq_pack`): m bytes instead of an
    * `array<int>`'s ~(8 + 4·m + bitmap) Tungsten bytes, so the codes
    * relation the retrieval stage scans (and any shuffle/broadcast
    * that ever carries it) realizes the claimed 16–25× reduction.
    * `codes` (the int-array form) stays as a NAMED intermediate:
    * referencing it from both `pcodes` and `pq_norm` keeps
    * CollapseProject from inlining — and thereby duplicating — the
    * non-cheap `pq_encode`, so the corpus is argmin-encoded exactly
    * once per row (PqPlanSpec pins the single encode site).
    */
  private[ops] def encoded(embeddings: DataFrame, b: Codebook): DataFrame =
    Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(Similarity.dot(col("v"), col("v"))))
      .withColumn("codes", codesOf(col("v"), b))
      .withColumn("pcodes", call_function("pq_pack", col("codes")))
      // Σ_s sq[s·k + codes(s)] IS the adc_dot lookup-sum shape, so the
      // norm rides the existing native expression instead of the
      // interpreted aggregate(zip_with(element_at…)) fold it replaced
      // (r20: the last interpreted lambda in the per-corpus-row encode
      // projection; adc_dot accumulates the same doubles in the same
      // s-ascending left-fold order, so pq_norm is bit-identical —
      // pinned by the pqNormBoth spec hook)
      .withColumn("pq_norm",
        sqrt(call_function("adc_dot", col("codes"), sqTabCol(b), lit(b.k))))

  /** Spec hook: the native-ridden `pq_norm` beside the interpreted
    * HOF fold it replaced, for the bit-equality pin (the
    * [[encodedBoth]] convention).
    */
  private[ops] def pqNormBoth(embeddings: DataFrame): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, 16, 32, 1)
    val sq = sqTabCol(b)
    encoded(embeddings, b).select(col("vec_id"),
      col("pq_norm").as("pq_norm_native"),
      sqrt(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(b.m - 1)),
          (c, s) => element_at(sq, s * b.k + c + 1)),
        lit(0.0d), (a, x) => a + x)).as("pq_norm_hof"))
  }

  /** Spec hook: native and HOF codes side by side for the
    * bit-equality pin of `pq_encode`.
    */
  private[ops] def encodedBoth(embeddings: DataFrame): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, 16, 32, 1)
    base.select(col("vec_id"),
      codesOf(col("v"), b).as("codes_native"),
      codesOfHof(col("v"), b).as("codes_hof"))
  }

  /** Spec hook: the encoded corpus for the default geometry. */
  private[ops] def encodedFor(embeddings: DataFrame, m: Int = 16,
      kCodes: Int = 32, trainMod: Int = 1): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    encoded(embeddings, codebookFor(base, m, kCodes, trainMod))
  }

  /** Two-stage kNN: PQ-ADC prefilter to `candidates` per query, exact
    * cosine rerank to `k`. Output contract (columns, ordering,
    * rounding) is [[Similarity.knnBrute]]'s, and at a covering
    * candidate depth the rows are identical — `x_knn_pq_rerank`
    * hash-matches the brute oracle.
    */
  /** The query relation (query_id, qv, qn) for vec_id < nQueries. */
  private def queriesOf(enc: DataFrame, nQueries: Long): DataFrame =
    enc.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))

  /** Attach the per-query ADC lookup table: qtab[s·k + c] =
    * <q[s], cb(s)(c)> — m·k partial dots computed once per QUERY,
    * not per pair.
    */
  private[ops] def withQtab(q: DataFrame, b: Codebook): DataFrame = {
    val cbc = cbCol(b)
    q.withColumn("qtab", flatten(
      transform(sequence(lit(0), lit(b.m - 1)), s =>
        transform(sequence(lit(0), lit(b.k - 1)), c =>
          aggregate(
            zip_with(slice(col("qv"), s * b.subDim + 1, lit(b.subDim)),
              element_at(element_at(cbc, s + 1), c + 1), (x, y) => x * y),
            lit(0.0d), (a, x) => a + x)))))
  }

  /** ADC dot of the BYTE-PACKED `pcodes` against `qtab` via the
    * native codegen expression `adc_dot_packed` (m table lookups per
    * pair, fused into the join's codegen stage — same left-fold order
    * as the int-array `adc_dot` and the HOF `aggregate(zip_with(...))`
    * form, bit-identical results; the pack/ADC round-trip spec pins
    * it).
    */
  private def adcOf(b: Codebook): Column =
    call_function("adc_dot_packed", col("pcodes"), col("qtab"), lit(b.k))

  /** Approximate-cosine division, total over DEGENERATE rows: a
    * zero-norm PQ reconstruction (a code vector whose centroids
    * cancel — never on real embeddings, but possible on adversarial/
    * corrupt rows) must not abort the whole query with an ANSI
    * division error. NULL means "no ranking signal": the descending
    * ranking window puts nulls last, so the degenerate candidate
    * simply ranks at the bottom and the EXACT stages (which divide by
    * true vector norms) decide its fate — the property spec pins this
    * on generated corpora that hit the case.
    */
  private[ops] def approxCos(dot: Column, na: Column, nb: Column): Column =
    when(na =!= 0.0d && nb =!= 0.0d, dot / na / nb)

  /** The ONE ADC-score → per-query-rank stage body shared by every PQ
    * retrieval path — in-session ([[knnPqRerank]]/[[knnPqIvf]] via
    * [[pqRank]]) and persisted ([[PqStore]] via [[pqRank]],
    * [[IvfPqStore]] via [[adcCandidates]]) — so the oracle contracts
    * (ADC fold order, null-on-degenerate, the (pq_cos desc,
    * neighbor_id) tie order) cannot drift copy by copy. Input: an
    * already-joined (candidate × query) stream carrying (query_id,
    * vec_id, pcodes, pq_norm, qtab, qn[, carry…]); output (query_id,
    * neighbor_id, pq_cos, crk[, carry…]).
    */
  private[ops] def adcRank(joined: DataFrame, b: Codebook,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val scored = joined.select(
      col("query_id") +: col("vec_id").as("neighbor_id") +:
        approxCos(adcOf(b), col("qn"), col("pq_norm")).as("pq_cos") +:
        carry.map(col): _*)
    val byPq = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_cos").desc, col("neighbor_id"))
    scored.withColumn("crk", row_number().over(byPq))
  }

  /** [[adcRank]] cut at `depth` — the stage-1 candidate list
    * (query_id, neighbor_id[, carry…]) every exact rerank fetches
    * from. `carry` rides partition columns through ([[IvfPqStore]]
    * carries `cell` so its rerank fetch stays partition-pruned).
    */
  private[ops] def adcCandidates(joined: DataFrame, b: Codebook,
      depth: Int, carry: Seq[String] = Seq.empty): DataFrame =
    adcRank(joined, b, carry)
      .filter(col("crk") <= depth)
      .select(col("query_id") +: col("neighbor_id") +: carry.map(col): _*)

  /** Rank a (vec_id, pcodes, pq_norm[, …]) candidate stream against the
    * broadcast query tables by approximate PQ cosine — the join
    * prologue over [[adcRank]] for the paths whose query side is
    * bounded by contract ([[requireRerankBound]]'s 4M cap bounds
    * every caller), so the hint is safe here; a path whose query side
    * can be corpus-sized gates its own hint and calls [[adcRank]]/
    * [[adcCandidates]] directly ([[IvfPqStore.dedupAgainst]]).
    */
  private[ops] def pqRank(candidates: DataFrame, qSide: DataFrame,
      b: Codebook, joinCols: Seq[String],
      excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf=false is the EXTERNAL-query regime ([[PqStore.query]]):
    // query ids are their own namespace, so an id-colliding candidate
    // is a true neighbor, not the query itself (the IvfIndex.query
    // contract)
    val joined = if (joinCols.isEmpty) {
      if (excludeSelf)
        candidates.join(broadcast(qSide), col("query_id") =!= col("vec_id"))
      else candidates.crossJoin(broadcast(qSide))
    } else {
      val j = candidates.join(broadcast(qSide), joinCols)
      if (excludeSelf) j.filter(col("query_id") =!= col("vec_id")) else j
    }
    adcRank(joined, b)
  }

  /** Stage 2 — exact rerank: fetch full vectors for the Q·candidates
    * ids only (broadcast-candidate equi-join), brute's exact cosine
    * and ordering over that bounded set. One body for both PQ paths,
    * so the check query can never drift from the production shape.
    */
  private[ops] def exactRerank(enc: DataFrame, q: DataFrame, cand: DataFrame,
      k: Int): DataFrame = {
    val rescored = enc.select(col("vec_id").as("neighbor_id"),
        col("v"), col("norm"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosineWithNorms(col("qv"), col("v"), col("qn"),
          col("norm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Stage 1 as a standalone relation: every (query, corpus) pair's
    * ADC score with its per-query PQ rank `crk` — shared by the query
    * path and the covering-margin spec (which asserts every TRUE
    * top-k neighbor sits at `crk` well inside the candidate depth,
    * the `annCandidates` profile pattern).
    */
  /** [[prefilterRanks]] over an ALREADY-encoded corpus — the query
    * path shares one `encoded(...)` subtree between stage 1 and the
    * rerank (column pruning strips `pq_encode` from the
    * vectors-only rerank branch, so the corpus is PQ-encoded exactly
    * once per query; PqPlanSpec pins the single encode subtree).
    */
  private[ops] def prefilterRanksOf(enc: DataFrame, b: Codebook,
      nQueries: Long): DataFrame = {
    val q = withQtab(queriesOf(enc, nQueries), b)
      .select(col("query_id"), col("qtab"), col("qn"))
    pqRank(enc.select(col("vec_id"), col("pcodes"), col("pq_norm")),
      q, b, Seq.empty)
  }

  private[ops] def prefilterRanks(embeddings: DataFrame, nQueries: Long,
      m: Int, kCodes: Int, trainMod: Int): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, m, kCodes, trainMod)
    prefilterRanksOf(encoded(embeddings, b), b, nQueries)
  }

  /** Candidate depth for a corpus of n vectors: 400 at fixture
    * scale, growing as n/5 past 2,000 — the `autoCells` pattern.
    * Measured necessity (`Prof <dir> pq`): at the 10× ScaleGen corpus
    * the worst true-neighbor PQ rank is 1,148, past any fixed
    * fixture-tuned depth — near-random embeddings put true neighbors
    * (cosine ~0.3) inside a noise cloud that grows with n, so the
    * covering depth must scale with it. Scanning 20 % of the 10-B
    * codes still moves ~128× fewer bytes than scanning 100 % of the
    * 256-B vectors, and the rerank stays Q·C exact cosines; corpora
    * where 20 % is too expensive take [[knnPqIvf]] at production
    * probes (approximate) instead.
    */
  private[ops] def autoCandidates(n: Long): Int =
    // clamp BEFORE narrowing: a bare `(n / 5).toInt` overflows to a
    // negative depth past ~10.7B rows — the 100 TB regime — and a
    // negative depth filters out every candidate (silently empty
    // results instead of brute-equal top-k)
    math.min(math.max(400L, n / 5L), Int.MaxValue.toLong).toInt

  /** Corpus row count, memoized per (plan, file set) alongside the
    * codebook memo — `autoCandidates` would otherwise issue an extra
    * driver-side count job on every invocation.
    */
  private val counts = new BoundedMemo[(Int, Int), Long](capacity = 32)

  private def countFor(e: DataFrame): Long = {
    val key = (e.queryExecution.optimizedPlan.semanticHash(),
      java.util.Arrays.hashCode(e.inputFiles.asInstanceOf[Array[AnyRef]]))
    counts.getOrElseUpdate(key)(e.count())
  }

  /** Ceiling on the Q·depth candidate set the exactness-gate rerank
    * BROADCASTS (two longs per row ≈ 64 MB at this bound — inside
    * Spark's broadcast comfort zone). The linear-depth exactness gate
    * would otherwise silently hit the broadcast limit near ~10M
    * vectors; past the bound, take [[knnPqIvf]] at production probe
    * counts — the `Dedup.embeddingCosinePairs` enforced-bound
    * pattern.
    */
  private[ops] val maxRerankCandidates = 4L * 1000 * 1000

  /** Probe-row ceiling for broadcasting QTAB-carrying query relations
    * ([[IvfPqStore]]'s probe joins): each row carries the m·k ADC
    * table — 512 doubles ≈ 4 KB at the default 16×32 geometry — on
    * top of the query vector, ~10× the bare-vector row
    * [[IvfIndex.MaxBroadcastProbeRows]] (256k rows ≈ 100 MB at 64-dim
    * float rows) was sized for; sharing that constant put the gate
    * boundary near 1 GB of driver-assembled broadcast. 24k rows keeps
    * the qtab-carrying relation inside the same ~100 MB comfort
    * budget.
    */
  val MaxBroadcastQtabRows: Long = 24L * 1024

  private[ops] def requireRerankBound(nQueries: Long, depth: Int): Unit =
    require(nQueries * depth <= maxRerankCandidates,
      s"pq rerank would broadcast $nQueries queries x $depth candidates " +
        s"(> $maxRerankCandidates): past this scale the exactness-gate " +
        "configuration is the wrong tool — use knnPqIvf with production " +
        "nProbe/candidates, or cap `candidates` explicitly")

  /** The qtab-width broadcast cap, enforced ONLY on paths whose query
    * side is UNCONDITIONALLY hinted ([[pqRank]]'s callers): the
    * candidate cap alone bounds ROWS, not BYTES — the broadcast query
    * side carries the m·k ADC table (~4 KB/row at the default
    * geometry), so 4M shallow-depth queries would still assemble a
    * ~16 GB broadcast under the row cap. Loud, with the remedy story
    * (batch the queries; a query relation past ~24k rows is itself a
    * corpus and wants the IVF store paths). Deliberately NOT folded
    * into [[requireRerankBound]]: [[IvfPqStore.queryFrom]] size-gates
    * its own qtab hint and degrades to a partitioned join past the
    * ceiling, so batches between ~24k and 4M/depth rows execute safely
    * there and must not throw.
    */
  private[ops] def requireQtabBroadcastBound(nQueries: Long): Unit =
    require(nQueries <= MaxBroadcastQtabRows,
      s"pq rerank would broadcast $nQueries qtab-carrying query rows " +
        s"(> $MaxBroadcastQtabRows, ~100 MB at the default geometry): " +
        "batch the queries, or use the size-gated IVF store paths for " +
        "corpus-sized query relations")

  def knnPqRerank(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5,
      m: Int = 16, kCodes: Int = 32, candidates: Int = 0,
      trainMod: Int = 1): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val depth = if (candidates > 0) candidates
      else autoCandidates(countFor(base))
    requireRerankBound(nQueries, depth)
    requireQtabBroadcastBound(nQueries)
    val b = codebookFor(base, m, kCodes, trainMod)
    val enc = encoded(embeddings, b)
    val cand = prefilterRanksOf(enc, b, nQueries)
      .filter(col("crk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(enc, queriesOf(enc, nQueries), cand, k)
  }

  /** PQ-accelerated embedding near-dup — the two-lever layout of
    * [[knnPqIvf]] applied to DEDUP: the IVF cells bound which pairs
    * are generated (the `Similarity.embeddingNearDupAnn` candidate
    * machinery, probe×primary cell join with the same disjoint
    * boundA split), and the pair stream carries m-BYTE packed codes
    * instead of 256 B vectors — the cell join's shuffle payload,
    * the dominant I/O term of near-dup at 100 TB, drops ~16×. Pair
    * scoring is SDC (symmetric distance: both sides are codes, so
    * the approximate dot is centroid-vs-centroid via the broadcast
    * [m·k²] table — `sdc_dot`, codegen'd); pairs whose SDC cosine
    * clears `minCosine - margin` fetch their full vectors via two
    * SIZE-GATED survivor equi-joins (AQE broadcasts when the prune is
    * strong — the real-corpus case — and keeps partitioned joins when
    * it isn't, so a weak prune shuffles survivor-proportional bytes
    * instead of OOMing the driver) and are verified with EXACT
    * cosine — bit-identical formula and division order to
    * `Dedup.embeddingCosinePairs`.
    *
    * Exactness contract (the `x_knn_pq_ivf_check` pattern): at
    * nProbe == nCells every (a, b) pair reaches the SDC filter, and
    * at a margin that covers the measured one-sided gap
    * `exact − SDC` on qualifying pairs ([[sdcTruePairGap]]) no true
    * pair is lost — the output equals
    * `Dedup.embeddingCosinePairs(embeddings, minCosine, boundA)`
    * bit-for-bit and shares its full DuckDB oracle.
    *
    * The default margin is the measured covering point for these
    * corpora: worst gap 0.27 / 0.31 / 0.34 at sf0.001/0.01/0.1
    * under the round-14 deterministic codebook fit (`Prof pqgap`)
    * (near-random synthetic embeddings are PQ's adversarial case —
    * both sides quantized, so SDC noise is ~2× ADC's, and the dup
    * threshold 0.4 sits barely above the ~0.3 noise-cloud top, so
    * the 0.35 margin leaves only a ~3× SDC prune here). On a real
    * near-dup corpus (dups at cosine 0.9+, clustered embeddings) the
    * gap is far below the threshold-to-noise distance and the SDC
    * stage prunes orders of magnitude; margin is the recall knob. At
    * production nProbe the candidate volume is O(n^1.5·nProbe)
    * exactly like [[Similarity.embeddingNearDupAnn]] — and whatever
    * the margin, the CELL JOIN (the dominant shuffle) moves m-byte
    * codes, never vectors.
    */
  def embeddingNearDupPq(embeddings: DataFrame, minCosine: Double = 0.4,
      nCells: Int = 16, nProbe: Int = 16, m: Int = 16, kCodes: Int = 32,
      trainMod: Int = 1, cellTrainMod: Int = 4, margin: Double = 0.35,
      boundA: Long = 500, certifyMargin: Boolean = true): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, m, kCodes, trainMod)
    val enc = encoded(embeddings, b)
    // Margin self-certification (the topTrigramsSketch convention —
    // an approximate operator carries its own exactness evidence):
    // the configured margin is a measured property of THIS corpus ×
    // THIS codebook, and on a weak-structure corpus (PROF addendum:
    // 0.392 observed vs the 0.35 default at ScaleGen 10×) a stale
    // margin silently loses true pairs. One bounded sampled job
    // estimates the worst exact−SDC gap on qualifying pairs; an
    // observed exceedance is PROOF of violation (one-sided — the
    // sample can only under-estimate), so raise loudly instead of
    // under-recalling in silence. certifyMargin=false opts into the
    // recall knob deliberately.
    if (certifyMargin) {
      // the gap is a deterministic function of (corpus, codebook,
      // threshold, bound) — memoized so a repeated call (the bench
      // loop, a notebook session) pays the ~1M-pair probe once, not
      // per query (measured: ~1.5 s per warm call unmemoized)
      val key = (java.util.Arrays.hashCode(
          enc.inputFiles.asInstanceOf[Array[AnyRef]]),
        java.util.Arrays.hashCode(b.cb.flatten.flatten),
        minCosine, boundA)
      val gap = marginCerts.getOrElseUpdate(key)(
        sdcSampledGap(enc, b, nearMin = minCosine, boundA = boundA))
      require(gap <= margin,
        f"embeddingNearDupPq cannot certify the SDC covering margin: " +
          f"sampled worst exact-SDC gap $gap%.3f exceeds margin " +
          f"$margin%.3f on pairs at/above the $minCosine%.2f threshold " +
          "- true near-duplicates WOULD be lost. Raise `margin`, use " +
          "finer PQ geometry (m/kCodes), or pass certifyMargin=false " +
          "to accept the measured recall loss deliberately")
    }
    val (_, model) = Similarity.cellsFor(embeddings, nCells, cellTrainMod)
    // Encode and assign ONCE (r19 opt: the hamming decode-once rule
    // applied to the PQ pipeline). Catalyst has no cross-side
    // common-subexpression reuse, so with boundA > 0 the disjoint
    // cellJoin split instantiated the full scan→pq_encode subtree on
    // BOTH sides of BOTH branches — the measured x_dedup_embedding_pq
    // plan carried 8 complete pq_encode corpus passes over 20 parquet
    // scans (plans/r19/x_dedup_embedding_pq_before2.txt). Two
    // checkpoints make it one fused encode+assign pass (28 B/row
    // codes + cell) and one probe-set pass; the four cellJoin inputs
    // read the materialized relations (disk-backed blocks —
    // scale-safe, and at 100 TB the persisted-store path is the
    // production shape anyway). r20: the cell assignment rides the
    // SAME projection as the codes (cellOf over the same `v` column,
    // vec_id unique — row-for-row equal to the former
    // `cells.join(codesRel, "vec_id")`), which deletes the third
    // checkpoint, its corpus scan, and the corpus-sized self-join.
    val codesRel = PlanAudit.checkpointed(
      enc.select(col("vec_id"), col("pcodes"), col("pq_norm"),
        Similarity.cellOf(col("v"), model).as("pcell")))
    val probes = Similarity.probeSets(
      enc.select(col("vec_id"), col("v")), model, nProbe)
    val left = PlanAudit.checkpointed(
      probes.join(codesRel.drop("pcell"), "vec_id")
        .select(col("vec_id"), col("cell"),
          col("pcodes").as("pa"), col("pq_norm").as("pqa")))
    val right = codesRel
      .select(col("vec_id").as("p_id"), col("pcell").as("cell"),
        col("pcodes").as("pb"), col("pq_norm").as("pqb"))
    val sdcRaw = call_function("sdc_dot", col("pa"), col("pb"),
      sdcTabCol(b), lit(b.k))
    // keep-on-degenerate: a zero-norm reconstruction has no SDC
    // signal, and for DEDUP the recall-safe reading of "no signal" is
    // "let the exact verify decide" (the covering-margin premise is
    // about quantization error, not about rows PQ cannot represent at
    // all); `when` guarantees the division never evaluates on the
    // zero rows (SQL OR does not short-circuit under ANSI)
    val sdcPass = when(col("pqa") === 0.0d || col("pqb") === 0.0d, lit(true))
      .otherwise(sdcRaw / col("pqa") / col("pqb") >= minCosine - margin)
    val survivors = Similarity.cellJoin(left, right, boundA)
      .filter(col("vec_id") =!= col("p_id"))
      .filter(sdcPass)
      .select(least(col("vec_id"), col("p_id")).as("vec_a"),
        greatest(col("vec_id"), col("p_id")).as("vec_b"))
      .distinct()
    // exact verify on survivors only, in the byte-minimal join order:
    // the BARE 16 B/row pair list shuffles to meet the corpus on
    // vec_b (size-gated, no hint — on a real corpus the SDC prune
    // leaves few survivors and AQE broadcasts them; on this
    // adversarial fixture at 30×+ it stays a partitioned join instead
    // of OOMing the driver), and only THEN does the a-side vector
    // attach — `vec_a = least(pair) < boundA` by cellJoin's
    // construction, so the a-side relation prunes to ≤ boundA rows
    // and AQE broadcasts it at any sane bound (boundA = 0 disables
    // the prune along with the cellJoin bound). Attaching va first
    // (the previous shape) pushed pairs-with-256B-vectors through the
    // vec_b shuffle — measured 17× more shuffle bytes at 100×
    // (weak-prune corpus).
    val av = (if (boundA > 0) enc.filter(col("vec_id") < boundA) else enc)
      .select(col("vec_id").as("vec_a"),
        col("v").as("va"), col("norm").as("na"))
    val bv = enc.select(col("vec_id").as("vec_b"),
      col("v").as("vb"), col("norm").as("nb"))
    val withB = bv.join(survivors, Seq("vec_b"))
    withB.join(av, Seq("vec_a"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosineWithNorms(col("va"), col("vb"),
          col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Spec/profile hook: worst |SDC cosine − exact cosine| over all
    * scored pairs with min(id) < boundA — the measured covering
    * margin that [[embeddingNearDupPq]]'s default must dominate.
    */
  /** The covering statistic for [[embeddingNearDupPq]]'s margin: the
    * worst ONE-SIDED underestimate `exact − SDC` over pairs at or
    * near the threshold (exact cosine ≥ `nearMin`). Only
    * underestimates on qualifying pairs can lose a true pair — an
    * overestimate merely lets a non-pair through to the exact
    * verify, which filters it.
    */
  private[graft] def sdcTruePairGap(embeddings: DataFrame, m: Int = 16,
      kCodes: Int = 32, trainMod: Int = 1, boundA: Long = 500,
      nearMin: Double = 0.35): Double = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, m, kCodes, trainMod)
    val enc = encoded(embeddings, b)
    val a = enc.filter(col("vec_id") < boundA)
      .select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("norm").as("na"), col("pcodes").as("pa"), col("pq_norm").as("pqa"))
    val bb = enc.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("norm").as("nb"), col("pcodes").as("pb"), col("pq_norm").as("pqb"))
    val sdcCos = call_function("sdc_dot", col("pa"), col("pb"),
      sdcTabCol(b), lit(b.k)) / col("pqa") / col("pqb")
    val exact = Similarity.cosineWithNorms(col("va"), col("vb"),
      col("na"), col("nb"))
    val row = a.join(bb, col("vec_a") < col("vec_b"))
      .select(exact.as("cos"), (exact - sdcCos).as("gap"))
      .filter(col("cos") >= nearMin)
      .agg(max(col("gap")).as("worst"))
      .head()
    // no pair reaches nearMin → max over the empty set is SQL null:
    // no qualifying pair can be lost, so the covering margin needed
    // is 0 (a bare getDouble would NPE on exactly those corpora)
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** BOUNDED sampled estimate of [[sdcTruePairGap]] — the margin
    * self-certification probe [[embeddingNearDupPq]] runs per call:
    * the worst one-sided `exact − SDC` underestimate over the
    * (aSample × bSample) pair grid of the two lowest-xxhash64 row
    * samples (deterministic, layout-independent, ≤ ~1M scored pairs
    * whatever the corpus size — never the O(boundA·n) full
    * statistic). One-sided by construction: a sampled exceedance
    * PROVES the configured margin loses true pairs; a pass is
    * evidence, not proof (the full `Prof pqgap` sweep remains the
    * measurement of record). Degenerate (zero-norm) reconstructions
    * are excluded — the operator routes those pairs to the exact
    * verify unconditionally, so no margin protects or loses them.
    */
  /** ADC analogue of [[sdcSampledGap]] for the persisted dedup path
    * ([[IvfPqStore.dedupAgainst]]): the worst one-sided
    * `exact − ADC` underestimate over a bounded sampled pair grid
    * where the QUERY side is exact (full vectors) and the corpus side
    * is the stored reconstruction — the asymmetric-distance error the
    * store path's margin must cover. Sampling both sides from the
    * STORED vectors makes the estimate a property of the STORE's
    * geometry alone (memoizable per version root; a streaming
    * micro-batch loop pays it once), which is the right object for
    * self-certification: "this store's quantization error exceeds
    * your margin" is exactly the stale-geometry signal the `_META`
    * lineage exists to surface. Degenerate reconstructions excluded —
    * the operator routes those pairs to the exact verify
    * unconditionally.
    */
  private[ops] def adcSampledGap(stored: DataFrame, b: Codebook,
      nearMin: Double, qSample: Int = 256, cSample: Int = 4096): Double = {
    val qs = withQtab(
        stored.select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qn"))
          .orderBy(xxhash64(col("query_id")), col("query_id"))
          .limit(qSample),
        b)
      .select(col("query_id"), col("qv"), col("qn"), col("qtab"))
    val cs = stored
      .select(col("vec_id"), col("v"), col("norm"), col("pcodes"),
        col("pq_norm"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cSample)
    val adcCos = call_function("adc_dot_packed",
      col("pcodes"), col("qtab"), lit(b.k)) / col("qn") / col("pq_norm")
    val exact = Similarity.cosineWithNorms(col("qv"), col("v"),
      col("qn"), col("norm"))
    val row = qs.crossJoin(cs)
      .filter(col("query_id") =!= col("vec_id"))
      .filter(col("pq_norm") =!= 0.0d && col("qn") =!= 0.0d)
      .select(exact.as("cos"), (exact - adcCos).as("gap"))
      .filter(col("cos") >= nearMin)
      .agg(max(col("gap")).as("worst"))
      .head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** [[sdcSampledGap]] from a raw embeddings relation — the `Prof
    * pqgap` hook, so the sweep records the sampled estimate next to
    * the full statistic it bounds.
    */
  private[graft] def sdcSampledGapOf(embeddings: DataFrame,
      m: Int = 16, kCodes: Int = 32, trainMod: Int = 1,
      nearMin: Double = 0.35, boundA: Long = 500): Double = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val b = codebookFor(base, m, kCodes, trainMod)
    // boundA defaults to the full statistic's region so `Prof pqgap`
    // prints an apples-to-apples (sampled <= full) pair
    sdcSampledGap(encoded(embeddings, b), b, nearMin, boundA)
  }

  private[graft] def sdcSampledGap(enc: DataFrame, b: Codebook,
      nearMin: Double, boundA: Long = 0,
      aSample: Int = 256, bSample: Int = 4096): Double = {
    // `boundA > 0` restricts the a-side sample to the operator's own
    // bounded pair region (vec_id < boundA): the certification must
    // measure the pair population the operator actually SCORES — a
    // gap on a pair the cell join can never generate neither loses
    // recall nor should refuse a run (measured: the unrestricted
    // probe at sf0.1 reported 0.41 where the operator's own worst
    // pair sat at 0.34)
    def sampled(n: Int, pre: String, bound: Long) = {
      val base = if (bound > 0) enc.filter(col("vec_id") < bound) else enc
      base
        .select(col("vec_id").as(s"${pre}_id"), col("v").as(s"v$pre"),
          col("norm").as(s"n$pre"), col("pcodes").as(s"p$pre"),
          col("pq_norm").as(s"pq$pre"))
        .orderBy(xxhash64(col(s"${pre}_id")), col(s"${pre}_id"))
        .limit(n)
    }
    val a = sampled(aSample, "a", boundA)
    val bb = sampled(bSample, "b", 0)
    val sdcCos = call_function("sdc_dot", col("pa"), col("pb"),
      sdcTabCol(b), lit(b.k)) / col("pqa") / col("pqb")
    val exact = Similarity.cosineWithNorms(col("va"), col("vb"),
      col("na"), col("nb"))
    val row = a.join(bb, col("a_id") < col("b_id"))
      .filter(col("pqa") =!= 0.0d && col("pqb") =!= 0.0d)
      .select(exact.as("cos"), (exact - sdcCos).as("gap"))
      .filter(col("cos") >= nearMin)
      .agg(max(col("gap")).as("worst"))
      .head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** IVF × PQ — the canonical large-corpus ANN layout (both scale
    * levers composed): the coarse quantizer's cells bound how many
    * CODES are scanned per query (nProbe/nCells of the corpus), PQ
    * bounds the BYTES per scanned row, and the exact rerank restores
    * full precision on the Q·candidates survivors. Reuses the
    * memoized IVF coarse quantizer (`Similarity.cellsFor` — the same
    * fit every IVF family shares) and this file's codebooks, with the
    * same ranking window and rerank tail as [[knnPqRerank]].
    *
    * At nProbe == nCells every cell is probed, each (query, vector)
    * pair is scored exactly once (a vector lives in one cell, probe
    * rows are unique), and the candidate stream equals the full-scan
    * path's — so the output equals [[knnPqRerank]] and, at covering
    * depth, [[Similarity.knnBrute]] bit-for-bit: the
    * `x_knn_pq_ivf_check` driver gate pins the composition against
    * the brute oracle (the `x_knn_quantized_ivf_check` pattern). At
    * production probe counts it is approximate exactly like
    * [[Similarity.knnIvf]].
    */
  def knnPqIvf(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 16, kCodes: Int = 32,
      candidates: Int = 0, trainMod: Int = 1,
      cellTrainMod: Int = 4): DataFrame = {
    val base = Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"))
    val depth = if (candidates > 0) candidates
      else autoCandidates(countFor(base))
    requireRerankBound(nQueries, depth)
    requireQtabBroadcastBound(nQueries)
    val b = codebookFor(base, m, kCodes, trainMod)
    val enc = encoded(embeddings, b)
    val (_, model) = Similarity.cellsFor(embeddings, nCells, cellTrainMod)
    val q = queriesOf(enc, nQueries)
    val qProbed = withQtab(q, b)
      .select(col("query_id"), col("qtab"), col("qn"))
      .join(Similarity.probeSets(
          enc.filter(col("vec_id") < nQueries)
            .select(col("vec_id"), col("v")), model, nProbe)
        .select(col("vec_id").as("query_id"), col("cell")), "query_id")
    // cell assignment computed IN the codes projection (r20 opt):
    // joining the `cells` relation back on vec_id re-instantiated the
    // whole scan subtree on the cells side (Catalyst has no cross-side
    // common-subexpression reuse) — one extra full corpus scan plus a
    // corpus-sized self-join per query. cellOf over the same `v`
    // column is the identical expression on identical values, and
    // vec_id is unique, so the joined relation and this projection
    // are row-for-row equal.
    val cand = pqRank(
        enc.select(col("vec_id"), col("pcodes"), col("pq_norm"),
          Similarity.cellOf(col("v"), model).as("cell")),
        qProbed, b, Seq("cell"))
      .filter(col("crk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(enc, q, cand, k)
  }
}
