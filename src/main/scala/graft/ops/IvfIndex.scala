package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — build ONCE, query MANY.
  *
  * Every in-session IVF operator ([[Similarity.knnIvf]] and friends)
  * re-derives the coarse quantizer and the corpus cell assignment per
  * session; the memo hides that inside one JVM, but at 100 TB the
  * operational pattern is different: the index is built by one job,
  * LANDS ON STORAGE, and is then queried by many later jobs that must
  * not pay the fit or the full-corpus assignment pass again. This
  * module is that seam, Spark-native. Under a
  * [[StoreVersioning versioned root]] — rebuilds and compactions
  * write a fresh `v<n>/` and commit by marker creation, so a crashed
  * rebuild leaves the old index (and its still-applied tombstones)
  * fully intact behind the committed marker, never a gutted or mixed-generation
  * store:
  *
  *  - `centroids/` — the quantizer as a relation (cell, cvec), nCells
  *    rows. The only state a query job needs to plan its probes.
  *  - `vectors/` — (vec_id, v, norm) PARTITIONED BY `cell` (Hive-style
  *    directory partitioning). Partitioning by cell is the scale
  *    design: a probe of `nProbe` of `nCells` cells becomes a join on
  *    the PARTITION column, which Spark turns into dynamic partition
  *    pruning — the scan READS only the probed cells' files
  *    (nProbe/nCells of the bytes), instead of scanning the corpus and
  *    filtering. At √n cells that is the difference between an
  *    O(corpus) read per query batch and an O(corpus/√n·nProbe) one.
  *    `IvfIndexSpec` pins the pruning in the executed plan.
  *  - `deletes/` — the tombstone relation ([[delete]]).
  *
  * Norms are precomputed at build time and stored (a double
  * round-trips parquet exactly), so the query side pays one dot per
  * scored pair — the [[Similarity.cosineWithNorms]] contract — and
  * the scored values are bit-identical to the in-session path: at the
  * recall-exhaustive probe counts the driver gate pins, the persisted
  * path hash-matches the brute-force DuckDB oracle end to end.
  *
  * Incremental growth: [[append]] assigns NEW vectors against the
  * STORED centroids (no refit — the production contract: an index's
  * geometry is frozen at build; re-tuning is a rebuild) and appends
  * their cell partitions. Assignment uses the same broadcast-centroid
  * distance ranking as every probe derivation, so an appended index
  * stays exhaustive-probe-correct by construction — the driver gate
  * queries an even-half-built, odd-half-appended index at
  * nProbe == nCells and still hash-matches the full brute oracle.
  */
object IvfIndex extends VersionedStore("IvfIndex") {

  /** Physical-layout version of the vectors relation: v1 (round 13)
    * partitioned by `cell` alone; v2 (round 14) by `(ingest, cell)`
    * for idempotent appends.
    */
  protected val layout = 2L
  override protected val geometry = true
  protected val keyCol = "vec_id"
  override protected val modelRels = Seq("centroids")
  // repartition ON the partition column first: partitionBy splits
  // every writing task by cell, so T upstream tasks × C cells would
  // land T·C small files; clustering cells into tasks bounds the
  // index at ~C files per build — the file-count discipline a
  // √n-cell index needs at corpus scale. `ingest` leads the
  // partition spec so an append owns a whole `ingest=<id>/` subtree
  // it can dynamically overwrite on retry; `cell` stays a partition
  // column, so the probe join's dynamic pruning is untouched (it
  // prunes on ANY partition column).
  protected val dataRels = Seq(DataRel("vectors", by = Seq("cell")))

  /** Build the index at `dir`: fits (or reuses — the quantizer memo
    * is keyed on the training lineage, not the caller) the coarse
    * quantizer, assigns every vector, writes centroids and the
    * cell-partitioned vector relation into a fresh version root, and
    * commits by marker creation (which also prunes superseded versions —
    * the fresh index starts with no tombstones).
    */
  def save(embeddings: DataFrame, dir: String, nCells: Int = 16,
      trainMod: Int = 4): Unit =
    saveVersion(embeddings, dir) { root =>
      val (assigned, model) =
        Similarity.assignedWithModel(embeddings, nCells, trainMod)
      writeModel(Similarity.centroidsDf(embeddings.sparkSession, model),
        root, "centroids")
      land(assigned, root, "vectors", "0")
      Seq("n_cells" -> nCells.toString)
    }

  /** Assign `embeddings` to the index's STORED centroids (nearest by
    * the same codegen'd distance the probe ranking uses) and append
    * them to the committed vector relation. No refit, no touch of
    * existing partitions beyond the append.
    *
    * Assignment-rule parity: [[save]] assigns via the codegen'd
    * `pq_encode` argmin ([[Similarity.cellOf]]), this path via the
    * `dist2_d` fold ranking — both accumulate (xᵢ−yᵢ)² in the same
    * sequential order and break ties to the lower cell, so build and
    * append place a vector identically (the round-15 quantizer rework
    * closed the old MLlib-vs-fold rounding caveat). The append gate
    * and spec still pin nProbe == nCells, where equality with brute
    * force is assignment-independent by construction.
    *
    * `ingestId` names the batch (a date, a run id) and makes the
    * append IDEMPOTENT ([[VersionedStore.appendVersion]]): a
    * retried/replayed append replaces its own partial output instead
    * of double-inserting vectors (a duplicated vector would occupy two
    * top-k ranks in every query it neighbors). The recovery story for
    * any append failure is: run the same append again.
    */
  def append(embeddings: DataFrame, dir: String, ingestId: String): Unit = {
    val spark = embeddings.sparkSession
    appendVersion(spark, dir, ingestId) { root =>
      val e = Similarity.withNorm(embeddings)
      val asg = Similarity.nearestCellsFrom(e,
          spark.read.parquet(s"$root/centroids"), nProbe = 1)
        .select(col("vec_id"), col("cell"))
      land(e.join(asg, "vec_id")
          .select(col("vec_id"), col("v"), col("norm"), col("cell")),
        root, "vectors", ingestId)
    }
  }

  /** Maintenance introspection: `n_vector_files` against
    * `n_cells × n_ingests` is the fragmentation signal (each append
    * lands ~a file per cell it touches; the probe join's pruning reads
    * whole cells, so files-per-cell is exactly the scan's open cost),
    * `n_tombstoned / n_vectors` the dead-row ratio each query pays an
    * anti-join for until a compaction reclaims it.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = health(spark, dir)
    Seq((h.version, h.nIngests, h.nFiles, h.nRows,
        spark.read.parquet(s"${h.root}/centroids").count(),
        h.nTombstoned, h.nLive, h.metaOr("layout"),
        h.metaOr("train_fingerprint")))
      .toDF("version", "n_ingests", "n_vector_files", "n_vectors",
        "n_cells", "n_tombstoned", "n_live_vectors",
        "layout", "train_fingerprint")
  }

  /** Top-k cosine neighbors from the persisted index for an explicit
    * query relation (query_id, qv: array<float|double>). The probe
    * set derives from the stored centroids (broadcast, nCells rows);
    * the candidate fetch is a broadcast join of the (Q·nProbe)-row
    * query×probe relation against the cell-partitioned scan — the
    * partition-column join dynamic pruning feeds on. Tombstones prune
    * the CANDIDATE stream after the cell join (a broadcast anti on a
    * takedown-sized set), deliberately not the scan itself: an anti
    * join between the scan and the cell join would sit inside the
    * pruning rule's scan-side pattern and silently revert every
    * tombstoned query to a full index read. Same cosine arithmetic,
    * tie order and rounding as [[Similarity.knnIvf]] (the shared
    * [[Similarity.topKByCosine]] tail).
    *
    * `excludeSelf` drops candidates whose vec_id equals the query_id —
    * for self-queries ([[querySelf]]) where the two share an id
    * namespace. External query relations keep the default `false`:
    * their ids are a DIFFERENT namespace, and excluding id-colliding
    * candidates would silently drop true neighbors.
    *
    * The broadcast of the query×probe relation is SIZE-GATED
    * ([[MaxBroadcastProbeRows]]): a typical query batch broadcasts
    * (Q·nProbe rows — the regime where dynamic partition pruning
    * rides the reused broadcast), but a caller probing with millions
    * of queries exceeds the gate, the hint is dropped, and AQE plans
    * a partitioned join instead of OOMing the driver with an
    * unconditional broadcast. Correctness is identical in both
    * regimes (spec-pinned); above the gate the scan may read more
    * partitions than nProbe/nCells — the price of a query relation
    * that IS itself corpus-sized.
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4, excludeSelf: Boolean = false,
      maxBroadcastProbeRows: Long = MaxBroadcastProbeRows): DataFrame =
    queryFrom(spark, StoreVersioning.requireRoot(spark, dir), queries,
      k, nProbe, excludeSelf, maxBroadcastProbeRows)

  /** Probe-row ceiling under which [[query]] broadcasts the
    * query×probe relation: 256k rows ≈ 100 MB at 64-dim float vectors
    * (qv + qn + probe cell per row) — inside Spark's broadcast
    * comfort zone with margin. Past it the hint is dropped and AQE
    * chooses the join strategy from measured sizes.
    */
  val MaxBroadcastProbeRows: Long = 256L * 1024

  /** [[query]] against an already-resolved version root — the root is
    * resolved ONCE per logical query so a commit racing the planning
    * can never mix generations (queries from one version, candidates
    * from another).
    */
  private def queryFrom(spark: SparkSession, root: String,
      queries: DataFrame, k: Int, nProbe: Int, excludeSelf: Boolean,
      maxBroadcastProbeRows: Long = MaxBroadcastProbeRows): DataFrame = {
    gate(spark, root, maintenance = false)
    val vectors = spark.read.parquet(s"$root/vectors")
    val cents = spark.read.parquet(s"$root/centroids")
    val qn = queries
      .select(col("query_id"), col("qv"))
      .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv"))))
    val probes = Similarity.nearestCellsFrom(
        qn.select(col("query_id").as("vec_id"), col("qv").as("v")),
        cents, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val q = qn.join(probes, "query_id")
    // size-gate the broadcast hint: one count of the CALLER's query
    // relation (cheap next to the query itself) decides the regime —
    // forcing the hint on a corpus-sized query batch is a driver OOM,
    // not a plan choice
    val qHinted =
      if (queries.count() * nProbe <= maxBroadcastProbeRows) broadcast(q)
      else q
    val candidates0 = vectors.join(qHinted, Seq("cell"))
    val candidates1 = live(spark, root, candidates0)
    val candidates =
      if (excludeSelf) candidates1.filter(col("query_id") =!= col("vec_id"))
      else candidates1
    Similarity.topKByCosine(
      candidates.select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosineWithNorms(col("qv"), col("v"), col("qn"), col("norm"))
          .as("cos")),
      k)
  }

  /** Self-query convenience mirroring [[Similarity.knnIvf]]'s gate
    * contract: of the ids below `nQueries`, the non-retracted ones
    * query the index (a tombstoned vector must not keep issuing
    * queries computed from its erased embedding — so a retraction in
    * that id range means FEWER than nQueries query groups, not a
    * substitute query). The query fetch is a (vec_id < nQueries) scan
    * of the vector relation itself — column-pruned to (vec_id, v),
    * tiny even though it crosses partitions; production callers with
    * external queries use [[query]] directly.
    */
  def querySelf(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 5, nProbe: Int = 4): DataFrame = {
    // resolve the root ONCE for query vectors and candidates alike
    val root = StoreVersioning.requireRoot(spark, dir)
    val own = live(spark, root, spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") < nQueries))
    queryFrom(spark, root,
      own.select(col("vec_id").as("query_id"), col("v").as("qv")),
      k, nProbe, excludeSelf = true)
  }
}
