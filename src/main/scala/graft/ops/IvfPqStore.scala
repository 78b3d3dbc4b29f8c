package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF×PQ index — BOTH scale levers composed in one
  * storage artifact, the canonical production layout for ANN over a
  * corpus too large to scan per query (the [[Pq.knnPqIvf]]
  * composition, persisted):
  *
  *  - the coarse quantizer's cells bound WHICH FILES a query reads:
  *    vectors are PARTITIONED BY cell, so the probe join rides
  *    dynamic partition pruning and the stage-1 scan touches
  *    nProbe/nCells of the index files ([[IvfIndex]]'s lever);
  *  - PQ bounds the BYTES PER ROW that scan moves: stage 1 reads
  *    only (vec_id, pcodes, pq_norm) — m packed bytes instead of the
  *    256-byte vector ([[PqStore]]'s lever; the plan spec pins the
  *    pruned ReadSchema);
  *  - the exact rerank restores full precision on the Q·depth
  *    survivors, fetching full vectors through a SECOND pruned scan —
  *    the candidate list carries its cells, so the fetch join is on
  *    (cell, vec_id) and dynamic pruning bounds it to the probed
  *    partitions too, never a full-corpus read.
  *
  * Layout under a [[StoreVersioning versioned root]] (maintainer
  * lease, marker commit, tombstones, compaction — the store-family
  * contract):
  *
  *  - `centroids/` — the coarse quantizer relation (cell, cvec).
  *  - `codebook/`  — the PQ codebook relation (s, c, cvec).
  *  - `vectors/`   — (vec_id, v, norm, pcodes, pq_norm) partitioned
  *    by (ingest, cell): ingest-keyed for idempotent append retry,
  *    cell for the pruning above.
  *  - `deletes/`   — the tombstone relation.
  *
  * Exactness contract: at nProbe == nCells every cell is probed and
  * every (query, vector) pair ADC-scored exactly once; at candidate
  * depth >= store size the prefilter passes every pair; the rerank's
  * cosine, tie order and rounding are [[Similarity.topKByCosine]] —
  * the shared tail of brute/IVF/the other stores — so the gate rows
  * equal [[Similarity.knnBrute]] bit-for-bit and carry its full
  * DuckDB oracle, whatever the two quantizers learned. Production
  * probe counts and depths are the recall knobs, exactly like the
  * in-session [[Pq.knnPqIvf]].
  */
object IvfPqStore extends PqCodedStore("IvfPqStore") {

  /** Physical-layout version of the vectors relation (v1:
    * (ingest, cell)-partitioned since the store's introduction).
    */
  protected val layout = 1L
  override protected val geometry = true
  override protected val modelRels = Seq("centroids", "codebook")
  // cells cluster into tasks before partitionBy — ~nCells files per
  // build, not tasks×cells (the IvfIndex file-count discipline)
  protected val dataRels = Seq(DataRel("vectors", by = Seq("cell")))

  /** Build the index at `dir`: coarse-assign every vector (memoized
    * quantizer — the lineage every IVF family shares), PQ-encode it
    * (memoized codebook), land both model relations plus the
    * cell-partitioned encoded corpus, commit by marker.
    */
  def save(embeddings: DataFrame, dir: String, nCells: Int = 16,
      cellTrainMod: Int = 4, m: Int = 16, kCodes: Int = 32,
      trainMod: Int = 1): Unit =
    saveVersion(embeddings, dir) { root =>
      val (assigned, model) =
        Similarity.assignedWithModel(embeddings, nCells, cellTrainMod)
      val b = Pq.codebookForStore(embeddings, m, kCodes, trainMod)
      writeModel(Similarity.centroidsDf(embeddings.sparkSession, model),
        root, "centroids")
      writeCodebook(embeddings.sparkSession, b, root)
      land(encodedVectors(Pq.encoded(embeddings, b)
          .join(assigned.select(col("vec_id"), col("cell")), "vec_id"), "cell"),
        root, "vectors", "0")
      Seq("n_cells" -> nCells.toString) ++ codebookMeta(b)
    }

  /** Grow the index: assign NEW vectors to the STORED centroids and
    * encode them with the STORED codebook (no refit of either —
    * geometry is frozen at build), landed as an idempotent
    * ingest-keyed partition overwrite.
    */
  def append(embeddings: DataFrame, dir: String, ingestId: String): Unit = {
    val spark = embeddings.sparkSession
    appendVersion(spark, dir, ingestId) { root =>
      val enc = Pq.encoded(embeddings, codebookOf(spark, root))
      val asg = Similarity.nearestCellsFrom(
          enc.select(col("vec_id"), col("v")),
          spark.read.parquet(s"$root/centroids"), nProbe = 1)
        .select(col("vec_id"), col("cell"))
      land(encodedVectors(enc.join(asg, "vec_id"), "cell"),
        root, "vectors", ingestId)
    }
  }

  /** Maintenance introspection — the store-family stats contract,
    * plus the frozen model lineage from the root's `_META` (layout,
    * both quantizers' geometry, the training corpus fingerprint): a
    * maintenance job that sees today's corpus fingerprint diverge
    * from `train_fingerprint` knows the geometry is stale and should
    * recommend REBUILD (re-fit) where fragmentation alone would only
    * warrant a compact.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = health(spark, dir)
    Seq((h.version, h.nIngests, h.nFiles, h.nRows,
        spark.read.parquet(s"${h.root}/centroids").count(),
        h.nTombstoned, h.nLive, h.metaOr("layout"), h.metaOr("m"),
        h.metaOr("k_codes"), h.metaOr("train_fingerprint")))
      .toDF("version", "n_ingests", "n_vector_files", "n_vectors",
        "n_cells", "n_tombstoned", "n_live_vectors",
        "layout", "m", "k_codes", "train_fingerprint")
  }

  /** Top-k cosine neighbors for an explicit (query_id, qv) relation.
    * External ids are their own namespace (no self-exclusion). The
    * query×probe relation's broadcast is size-gated exactly like
    * [[IvfIndex.query]], but at the QTAB ceiling
    * ([[Pq.MaxBroadcastQtabRows]]): these probe rows each carry the
    * m·k ADC table, ~10× the bare-vector row the IVF constant was
    * sized for.
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4, candidates: Int = 0,
      maxBroadcastProbeRows: Long = Pq.MaxBroadcastQtabRows): DataFrame =
    queryFrom(spark, StoreVersioning.requireRoot(spark, dir),
      queries.select(col("query_id"), col("qv"))
        .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv")))),
      k, nProbe, candidates, excludeSelf = false, maxBroadcastProbeRows)

  /** Self-query convenience (the gate contract): live stored vectors
    * with vec_id < nQueries query the index, self-pairs excluded.
    */
  def querySelf(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 5, nProbe: Int = 4, candidates: Int = 0): DataFrame = {
    val root = StoreVersioning.requireRoot(spark, dir)
    val own = live(spark, root, spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") < nQueries))
    queryFrom(spark, root,
      own.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn")),
      k, nProbe, candidates, excludeSelf = true,
      Pq.MaxBroadcastQtabRows)
  }

  /** Flag incoming embeddings whose cosine against ANY stored vector
    * clears `minCosine` — incremental embedding dedup /
    * decontamination of today's batch against the HISTORICAL corpus
    * without re-reading it (the [[DedupStore.dedupAgainst]] lifecycle
    * in embedding space, through the composed index): the probe join
    * bounds which cells are read (dynamic partition pruning), the ADC
    * margin prefilter bounds which pairs fetch full vectors (10-byte
    * codes in the pair stream, the [[Pq.embeddingNearDupPq]] layout
    * with the query side exact), and the exact verify restores full
    * precision. Output (query_id, corpus_id, cosine), total-ordered,
    * one row per qualifying pair.
    *
    * Exactness: at nProbe == nCells and a pass-all margin (≥ 1 +
    * minCosine) every (incoming, stored) pair reaches the exact
    * verify and the result provably equals the brute pair set — the
    * gate configuration. At production settings margin is the recall
    * knob exactly as in [[Pq.embeddingNearDupPq]]; ADC's one-sided
    * error is strictly smaller than SDC's (one side is exact), so
    * the measured SDC covering margins dominate here. Every broadcast
    * on this path is size-gated on ONE count of the incoming batch —
    * the bare (query, cell) probe pairs at the vector-row ceiling
    * ([[IvfIndex.MaxBroadcastProbeRows]]), the per-QUERY qtab rows at
    * the QTAB ceiling ([[Pq.MaxBroadcastQtabRows]] — these rows carry
    * the m·k ADC table, so their ceiling is a byte budget; r17 splits
    * them off the probe pairs so it binds nQ alone, not nQ×nProbe,
    * and the exhaustive-probe regime keeps its broadcasts), the
    * exact-verify query fetch at the bare-vector ceiling — and the
    * survivor fetch carries NO hint at all: a weak prune (this
    * pass-all gate, an adversarial corpus) stays a partitioned join
    * instead of OOMing the driver; AQE broadcasts when the prune is
    * real. A corpus-sized incoming batch therefore never forces a
    * driver-sized broadcast anywhere — it degrades to partitioned
    * shuffles, same rows (the gate spec pins both regimes equal).
    */
  def dedupAgainst(spark: SparkSession, dir: String, incoming: DataFrame,
      minCosine: Double = 0.3, nProbe: Int = 4, margin: Double = 0.35,
      maxBroadcastProbeRows: Long = Pq.MaxBroadcastQtabRows,
      maxBroadcastQueryRows: Long = IvfIndex.MaxBroadcastProbeRows,
      certifyMargin: Boolean = true)
      : DataFrame = {
    val root = StoreVersioning.requireRoot(spark, dir)
    gate(spark, root, maintenance = false)
    val vectors = spark.read.parquet(s"$root/vectors")
    val cents = spark.read.parquet(s"$root/centroids")
    val b = codebookOf(spark, root)
    // Margin self-certification (the embeddingNearDupPq convention,
    // store-side): the worst sampled one-sided exact−ADC gap of the
    // STORE's own quantization must sit inside the configured margin,
    // or true near-duplicates would silently fail the prefilter. ADC
    // error is one-sided-smaller than SDC (the query side is exact),
    // so a store that certifies here is strictly safer than the
    // measured SDC margins; a store whose geometry went stale (built
    // on last year's distribution, appends frozen) is exactly what
    // this catches — rebuild, raise the margin, or opt out.
    // The sampled gap is memoized per (root, vectors file listing,
    // threshold), so an append under the same root re-probes.
    if (certifyMargin) {
      val gap = gapAt(spark, root, b, minCosine)
      require(gap <= margin,
        f"IvfPqStore.dedupAgainst cannot certify the ADC covering " +
          f"margin at $root: sampled worst exact-ADC gap $gap%.3f " +
          f"exceeds margin $margin%.3f on pairs at/above the " +
          f"$minCosine%.2f threshold - true near-duplicates WOULD be " +
          "lost. Rebuild the store with finer PQ geometry, raise " +
          "`margin`, or pass certifyMargin=false to accept the " +
          "measured recall loss deliberately")
    }
    val q0 = incoming.select(col("query_id"), col("qv"))
      .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv"))))
    // one count job serves EVERY broadcast gate on this path
    val nQ = q0.count()
    val probes = Similarity.nearestCellsFrom(
        q0.select(col("query_id").as("vec_id"), col("qv").as("v")),
        cents, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // r17 (verdict 5): the probe payload is SPLIT — bare (query_id,
    // cell) pairs meet the vectors on the partition column, and the
    // ~m·k·8 B qtab attaches afterwards by query_id, ONE row per
    // QUERY. The r15 shape duplicated each query's qtab onto every
    // probe row before the cell join, so its broadcast ceiling had to
    // bind the PRODUCT nQ×nProbe: the exhaustive regime (nProbe =
    // nCells, the pass-all gate) fell off the broadcast cliff at 16×
    // fewer queries and collapsed the cell join onto nCells shuffle
    // keys (measured 52.2 s vs the r14-era 40.1 s at 100×). Split,
    // the qtab ceiling binds nQ alone (same ~100 MB byte budget), the
    // bare pair list rides the vector-row ceiling, and an over-ceiling
    // batch still degrades to partitioned joins — the OOM-safety
    // contract is unchanged.
    // bare pairs ride the caller's bare-row ceiling (the same knob
    // that gates the exact-verify query fetch) so a spec or a small
    // driver can force BOTH regimes — a hardcoded constant here would
    // leave the partitioned cell join untestable
    val probesHinted =
      if (nQ * nProbe <= maxBroadcastQueryRows) broadcast(probes)
      else probes
    val qtab = Pq.withQtab(q0, b)
      .select(col("query_id"), col("qtab"), col("qn"))
    val qtabHinted =
      if (nQ <= maxBroadcastProbeRows) broadcast(qtab) else qtab
    val cand0 = vectors
      .select(col("vec_id"), col("cell"), col("pcodes"), col("pq_norm"))
      .join(probesHinted, Seq("cell"))
      .join(qtabHinted, Seq("query_id"))
    val cand1 = live(spark, root, cand0)
    val adc = call_function("adc_dot_packed",
      col("pcodes"), col("qtab"), lit(b.k))
    // keep-on-degenerate, like the SDC filter: a zero-norm
    // reconstruction has no prefilter signal — the exact verify
    // decides (`when` so the division never evaluates on zero rows)
    val pass = when(col("pq_norm") === 0.0d || col("qn") === 0.0d, lit(true))
      .otherwise(adc / col("qn") / col("pq_norm") >= minCosine - margin)
    // a stored vector lives in ONE cell and probe rows are unique per
    // (query, cell), so (query_id, corpus_id) pairs are already
    // distinct — no dedup shuffle needed
    val survivors = cand1.filter(pass)
      .select(col("query_id"), col("vec_id").as("corpus_id"), col("cell"))
    // exact-verify fetch: the query side is the full incoming relation
    // (bare vectors, no qtab), so its hint rides the bare-vector
    // ceiling — gated on the SAME count as the probe join above; an
    // incoming batch big enough to trip the gate partitions instead
    val qFetch = q0.select(col("query_id"), col("qv"), col("qn"))
    val qFetchHinted =
      if (nQ <= maxBroadcastQueryRows) broadcast(qFetch) else qFetch
    val fetched = vectors
      .select(col("vec_id").as("corpus_id"), col("cell"), col("v"),
        col("norm"))
      .join(survivors, Seq("cell", "corpus_id"))
      .join(qFetchHinted, Seq("query_id"))
    fetched.select(col("query_id"), col("corpus_id"),
        Similarity.cosineWithNorms(col("qv"), col("v"), col("qn"),
          col("norm")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("query_id"), col("corpus_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("corpus_id"))
  }

  /** Shared tail; the root is resolved ONCE per logical query so a
    * racing commit can never mix generations.
    */
  private def queryFrom(spark: SparkSession, root: String, q0: DataFrame,
      k: Int, nProbe: Int, candidates: Int, excludeSelf: Boolean,
      maxBroadcastProbeRows: Long): DataFrame = {
    gate(spark, root, maintenance = false)
    val vectors = spark.read.parquet(s"$root/vectors")
    val cents = spark.read.parquet(s"$root/centroids")
    val b = codebookOf(spark, root)
    val depth =
      if (candidates > 0) candidates
      else Pq.autoCandidates(vectors.count())
    // one count job serves the bound check AND the broadcast gate
    val nQ = q0.count()
    Pq.requireRerankBound(nQ, depth)
    // probe sets from the stored centroids (broadcast, nCells rows)
    val probes = Similarity.nearestCellsFrom(
        q0.select(col("query_id").as("vec_id"), col("qv").as("v")),
        cents, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val q = Pq.withQtab(q0, b)
      .select(col("query_id"), col("qtab"), col("qn"))
      .join(probes, "query_id")
    val qHinted =
      if (nQ * nProbe <= maxBroadcastProbeRows) broadcast(q) else q
    // stage 1: the cell-pruned, byte-minimal scan — (vec_id, pcodes,
    // pq_norm) joined on the PARTITION column (dynamic pruning reads
    // nProbe/nCells of the files), ADC-scored per pair
    val ranked0 = vectors
      .select(col("vec_id"), col("cell"), col("pcodes"), col("pq_norm"))
      .join(qHinted, Seq("cell"))
    // tombstones prune the CANDIDATE stream after the cell join — an
    // anti join under the join would sit inside the pruning rule's
    // scan-side pattern and revert to a full index read (the IvfIndex
    // lesson, spec-pinned there)
    val ranked1 = live(spark, root, ranked0)
    val ranked2 =
      if (excludeSelf) ranked1.filter(col("query_id") =!= col("vec_id"))
      else ranked1
    // the ONE shared ADC-score → rank → depth-cut stage body
    // (Pq.adcCandidates — also Pq.pqRank's tail, PqStore's stage 1),
    // carrying `cell` so the rerank fetch below stays partition-pruned
    val cand = Pq.adcCandidates(ranked2, b, depth, carry = Seq("cell"))
    // stage 2: exact rerank — the survivor fetch joins on
    // (cell, vec_id), so dynamic pruning bounds THIS scan to the
    // probed partitions too (a bare id join would read every cell's
    // full vectors back). cand is ≤ nQ·depth rows by construction
    // (requireRerankBound's 4M cap), so its hint is bounded by
    // contract; the query fetch is gated on nQ like dedupAgainst's.
    val qFetch = q0.select(col("query_id"), col("qv"), col("qn"))
    val qFetchHinted =
      if (nQ <= IvfIndex.MaxBroadcastProbeRows) broadcast(qFetch) else qFetch
    val fetched = vectors
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("v"),
        col("norm"))
      .join(broadcast(cand), Seq("cell", "neighbor_id"))
      .join(qFetchHinted, Seq("query_id"))
    Similarity.topKByCosine(
      fetched.select(col("query_id"), col("neighbor_id"),
        Similarity.cosineWithNorms(col("qv"), col("v"), col("qn"),
          col("norm")).as("cos")),
      k)
  }
}
