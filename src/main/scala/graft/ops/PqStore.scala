package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted PQ retrieval index — codebook + encoded corpus, build
  * ONCE, query MANY.
  *
  * The in-session PQ family ([[Pq.knnPqRerank]] and friends) hides
  * the codebook fit and the corpus encode behind an in-JVM memo, but
  * the cold fit is still paid once per process — the single most
  * expensive cold event in the whole bench (the r13 driver measured
  * 132 s). This store is the [[IvfIndex]]/[[DedupStore]] lifecycle
  * applied to PQ: one job trains the codebook and argmin-encodes the
  * corpus, the artifacts LAND ON STORAGE, and every later job (or
  * JVM) pays neither again. Under a [[StoreVersioning versioned
  * root]] with the maintainer lease, like its siblings:
  *
  *  - `codebook/` — the m·k centroid relation (s, c, cvec), the only
  *    geometry a query job needs; read back as k-row model state
  *    (1024 doubles at the default 16×32×4).
  *  - `vectors/`  — (vec_id, v, norm, pcodes, pq_norm) partitioned by
  *    ingest id: `pcodes` is the m-BYTE packed code vector the ADC
  *    prefilter scans (the 16–25× resident-size lever), `v`/`norm`
  *    ride along for the exact rerank so the store is self-contained.
  *    Unlike [[IvfIndex]] there is no cell partitioning — the PQ
  *    full-scan path READS every code by design (that is its
  *    trade: tiny rows, no recall loss from cell blocking); corpora
  *    that need scan pruning too compose IVF on top
  *    ([[Pq.knnPqIvf]]'s layout).
  *  - `deletes/`  — the tombstone relation ([[delete]]).
  *
  * Query semantics are IDENTICAL to the in-session operators — the
  * stages are the same shared bodies ([[Pq.withQtab]], [[Pq.pqRank]],
  * [[Pq.exactRerank]]), only the encoded relation comes from storage:
  * a fresh full-corpus store's [[querySelf]] equals
  * [[Pq.knnPqRerank]] bit-for-bit, and at covering depth both equal
  * [[Similarity.knnBrute]] — which is what lets the driver gate rows
  * share the full brute DuckDB oracle through the persisted path.
  *
  * Incremental growth: [[append]] encodes NEW vectors against the
  * STORED codebook (no refit — index geometry is frozen at build,
  * re-tuning is a rebuild) as an idempotent ingest-keyed partition
  * overwrite. At exhaustive candidate depth the appended store equals
  * brute force over the union whatever the codebook — the append gate
  * pins the storage machinery (no vector lost, duplicated, or
  * misencoded), not PQ recall, exactly like the IvfIndex append gate
  * at nProbe == nCells.
  */
object PqStore extends PqCodedStore("PqStore") {

  /** Physical-layout version of the vectors relation (v1: ingest-keyed
    * since the store's introduction).
    */
  protected val layout = 1L
  override protected val modelRels = Seq("codebook")
  protected val dataRels = Seq(DataRel("vectors"))

  /** Build the store at `dir`: fit (or reuse — the codebook memo is
    * keyed on the training lineage) the m per-subspace codebooks,
    * encode every vector, land codebook + encoded relation in a fresh
    * version root, commit by marker creation.
    */
  def save(embeddings: DataFrame, dir: String, m: Int = 16,
      kCodes: Int = 32, trainMod: Int = 1): Unit =
    saveVersion(embeddings, dir) { root =>
      val b = Pq.codebookForStore(embeddings, m, kCodes, trainMod)
      writeCodebook(embeddings.sparkSession, b, root)
      land(encodedVectors(Pq.encoded(embeddings, b)), root, "vectors", "0")
      codebookMeta(b)
    }

  /** Encode `embeddings` with the STORED codebook (no refit) and
    * append them as ingest partition `ingestId` — idempotent exactly
    * like [[IvfIndex.append]]: a retried append replaces its own
    * `ingest=<id>/` subtree instead of double-inserting vectors.
    * Encoding uses the same `pq_encode` argmin as the build, so an
    * appended store stays exhaustive-depth-correct by construction.
    */
  def append(embeddings: DataFrame, dir: String, ingestId: String): Unit = {
    val spark = embeddings.sparkSession
    appendVersion(spark, dir, ingestId) { root =>
      land(encodedVectors(Pq.encoded(embeddings, codebookOf(spark, root))),
        root, "vectors", ingestId)
    }
  }

  /** Maintenance introspection: file-count fragmentation and the
    * live/tombstoned ratio a compaction decision reads, plus the
    * frozen codebook geometry from `_META`.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = health(spark, dir)
    Seq((h.version, h.nIngests, h.nFiles, h.nRows, h.nTombstoned, h.nLive,
        h.metaOr("layout"), h.metaOr("m"), h.metaOr("k_codes"),
        h.metaOr("train_fingerprint")))
      .toDF("version", "n_ingests", "n_vector_files", "n_vectors",
        "n_tombstoned", "n_live_vectors",
        "layout", "m", "k_codes", "train_fingerprint")
  }

  /** Top-k cosine neighbors from the persisted store for an explicit
    * query relation (query_id, qv): ADC prefilter over the stored
    * packed codes to `candidates` per query (auto: the corpus-scaled
    * [[Pq.autoCandidates]] covering depth), exact cosine rerank from
    * the stored vectors — the [[Pq.knnPqRerank]] stages over storage.
    * External query ids are their OWN namespace: no self-exclusion
    * (the [[IvfIndex.query]] contract).
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, candidates: Int = 0): DataFrame =
    queryFrom(spark, StoreVersioning.requireRoot(spark, dir),
      queries.select(col("query_id"), col("qv"))
        .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv")))),
      k, candidates, excludeSelf = false)

  /** Self-query convenience mirroring [[Pq.knnPqRerank]]'s gate
    * contract: the live stored vectors with vec_id < nQueries query
    * the store, self-pairs excluded. On a fresh full-corpus store
    * this equals the in-session knnPqRerank bit-for-bit (same
    * codebook lineage, same stages); `candidates` >= the store size
    * makes the prefilter exhaustive and the result equal to brute
    * force whatever the codebook.
    */
  def querySelf(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Long = 5, candidates: Int = 0): DataFrame = {
    val root = StoreVersioning.requireRoot(spark, dir)
    val q = live(spark, root, spark.read.parquet(s"$root/vectors"))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
    queryFrom(spark, root, q, k, candidates, excludeSelf = true)
  }

  /** Shared tail: both entries resolve the version root ONCE so a
    * racing commit can never mix generations.
    */
  private def queryFrom(spark: SparkSession, root: String, q: DataFrame,
      k: Int, candidates: Int, excludeSelf: Boolean): DataFrame = {
    gate(spark, root, maintenance = false)
    val b = codebookOf(spark, root)
    val vectors = spark.read.parquet(s"$root/vectors")
    // tombstones anti-joined off the scan (a broadcast anti on a
    // takedown-sized set — there is no partition pruning to protect
    // here, unlike IvfIndex)
    val enc = live(spark, root, vectors)
    val depth =
      if (candidates > 0) candidates
      // parquet-metadata count of the raw store (pre-tombstone): a
      // depth bound only needs the right scale, not exactness
      else Pq.autoCandidates(vectors.count())
    val nQ = q.count()
    Pq.requireRerankBound(nQ, depth)
    // this path broadcasts the qtab query side unconditionally
    // (Pq.pqRank), so the width cap applies — unlike IvfPqStore's
    // size-gated hint
    Pq.requireQtabBroadcastBound(nQ)
    val qt = Pq.withQtab(q, b).select(col("query_id"), col("qtab"), col("qn"))
    val cand = Pq.pqRank(
        enc.select(col("vec_id"), col("pcodes"), col("pq_norm")),
        qt, b, Seq.empty, excludeSelf)
      .filter(col("crk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    Pq.exactRerank(enc, q, cand, k)
  }
}

/** The stores holding PQ codes ([[PqStore]], [[IvfPqStore]]): a
  * `codebook/` model relation (s, c, cvec) and a `vectors/` relation
  * carrying (vec_id, v, norm, pcodes, pq_norm), plus the sampled
  * margin-gap probe [[StoreMaintenance.recommend]] reads as its
  * rebuild trigger.
  */
private[graft] abstract class PqCodedStore(name: String)
    extends VersionedStore(name) {

  protected val keyCol = "vec_id"

  protected def codebookMeta(b: Pq.Codebook): Seq[(String, String)] = Seq(
    "m" -> b.m.toString, "k_codes" -> b.k.toString,
    "sub_dim" -> b.subDim.toString)

  /** The encoded relation's stored columns, in order. */
  protected def encodedVectors(enc: DataFrame, carry: String*): DataFrame =
    enc.select((Seq("vec_id", "v", "norm", "pcodes", "pq_norm") ++ carry)
      .map(col): _*)

  protected def writeCodebook(spark: SparkSession, b: Pq.Codebook,
      root: String): Unit = {
    import spark.implicits._
    writeModel(
      (for (s <- 0 until b.m; c <- 0 until b.k) yield (s, c, b.cb(s)(c).toSeq))
        .toDF("s", "c", "cvec"),
      root, "codebook")
  }

  /** The stored codebook as driver-side model state (m·k rows — the
    * `clusterCenters` class of collect, never a corpus).
    */
  protected def codebookOf(spark: SparkSession, root: String): Pq.Codebook = {
    val path = s"$root/codebook"
    val rows = spark.read.parquet(path)
      .select(col("s"), col("c"), col("cvec")).collect()
    require(rows.nonEmpty, s"empty codebook at $path")
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val k = rows.iterator.map(_.getInt(1)).max + 1
    require(rows.length == m * k,
      s"codebook at $path is not dense: " +
        s"${rows.length} rows for m=$m k=$k")
    val subDim = rows.head.getSeq[Double](2).length
    val cb = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) =
      r.getSeq[Double](2).toArray)
    Pq.Codebook(m, k, subDim, cb)
  }

  /** Memoized per (version root, vectors file listing, threshold): the
    * codebook is frozen per root, but the gap is measured over the
    * STORED vectors, and append() grows those under the SAME root — so
    * the file-listing fingerprint rides in the key and any append (new
    * files) forces a fresh probe, instead of a long-lived streaming
    * session certifying forever against the pre-append sample. A
    * compact commits a NEW root, so the root key already covers it.
    */
  private val sampledGaps =
    new BoundedMemo[(String, String, Double), Double](capacity = 64)

  /** The sampled worst one-sided exact−ADC gap at `minCosine` of the
    * store's own quantization, over the stored vectors' own
    * reconstructions.
    */
  protected def gapAt(spark: SparkSession, root: String, b: => Pq.Codebook,
      minCosine: Double): Double = {
    val vectors = spark.read.parquet(s"$root/vectors")
    sampledGaps.getOrElseUpdate(
        (root, StoreVersioning.trainFingerprint(vectors), minCosine))(
      Pq.adcSampledGap(encodedVectors(vectors), b, nearMin = minCosine))
  }

  override private[ops] def sampledGap(spark: SparkSession, dir: String,
      minCosine: Double): Option[Double] = {
    val root = StoreVersioning.requireRoot(spark, dir)
    Some(gapAt(spark, root, codebookOf(spark, root), minCosine))
  }
}
