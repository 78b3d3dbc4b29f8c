package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lifecycle every persisted store shares ([[VersionedStore]]),
  * pinned ONCE over all six stores instead of per store:
  *
  *  1. IDENTITY — every verb refuses a root a DIFFERENT store built,
  *     naming the builder, before any side effect: several stores
  *     record the same layout version, so the layout gate alone lets a
  *     misrouted compact commit a root without the builder's model
  *     relations, and a misrouted delete tombstone the wrong store.
  *  2. STATS SCHEMA — each store's audit-row columns (names, order,
  *     types) are a contract: YAML stages land them and the
  *     benchmark goldens digest them.
  *  3. LIFECYCLE — a retried append is idempotent, and compact
  *     collapses the ingests to one and carries `_META` verbatim.
  */
class StoreLifecycleSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_lifecycle_$tag").toString

  private lazy val emb = graft.engine.Tables
    .table(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val docs = graft.engine.Tables
    .table(spark, "/root/testdata/sf0.001", "documents")

  private def mix(seed: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 32
    x
  }

  private def images: DataFrame = {
    val sp = spark; import sp.implicits._
    (1L to 20L).map(i =>
      (i, Multimodal.grayCellsPng(Multimodal.cellsForBits(mix(i)))))
      .toDF("doc_id", "payload")
  }

  private def clips: DataFrame = {
    val sp = spark; import sp.implicits._
    (1L to 20L).map(i =>
      (i, Multimodal.energyCellsWav(Multimodal.cellsForBits(mix(i)))))
      .toDF("doc_id", "payload")
  }

  /** One freshly committed root per store. */
  private def buildAll(): Map[String, String] = {
    def at(tag: String)(save: String => Unit): (String, String) = {
      val dir = tmpDir(tag); save(dir); tag -> dir
    }
    try Map(
      at("ivf")(IvfIndex.save(emb, _, nCells = 4)),
      at("pq")(PqStore.save(emb, _)),
      at("ivfpq")(IvfPqStore.save(emb, _, nCells = 4)),
      at("dedup")(DedupStore.save(docs, _)),
      at("phash")(PhashStore.save(images, _)),
      at("afp")(AfpStore.save(clips, _)))
    finally Pq.clearCodebookCache()
  }

  /** Read-only roots for the cases that never mutate a store. */
  private lazy val built = buildAll()

  test("every verb refuses a root another store built; the root is unchanged") {
    val sp = spark; import sp.implicits._
    val vecIds = Seq(1L).toDF("vec_id")
    val docIds = Seq(1L).toDF("doc_id")
    val few = emb.filter(col("vec_id") < 5)
    val q = few.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // (misrouted verb, root it lands on, the store that built that root)
    val cases: Seq[(String, String, String, String => Any)] = Seq(
      ("PqStore.compact", "ivfpq", "IvfPqStore", PqStore.compact(spark, _)),
      ("PqStore.append", "ivfpq", "IvfPqStore", PqStore.append(few, _, "day1")),
      ("PqStore.delete", "ivfpq", "IvfPqStore", PqStore.delete(vecIds, _)),
      ("PqStore.save", "ivfpq", "IvfPqStore", PqStore.save(emb, _)),
      ("PqStore.querySelf", "ivfpq", "IvfPqStore",
        PqStore.querySelf(spark, _).collect()),
      ("IvfIndex.append", "ivfpq", "IvfPqStore",
        IvfIndex.append(few, _, "day1")),
      ("IvfIndex.compact", "pq", "PqStore", IvfIndex.compact(spark, _)),
      ("IvfIndex.delete", "dedup", "DedupStore", IvfIndex.delete(vecIds, _)),
      ("IvfIndex.query", "ivfpq", "IvfPqStore",
        IvfIndex.query(spark, _, q).collect()),
      ("IvfPqStore.compact", "pq", "PqStore", IvfPqStore.compact(spark, _)),
      ("IvfPqStore.stats", "ivf", "IvfIndex", IvfPqStore.stats(spark, _)),
      ("IvfPqStore.delete", "ivf", "IvfIndex", IvfPqStore.delete(vecIds, _)),
      ("DedupStore.compact", "phash", "PhashStore",
        DedupStore.compact(spark, _)),
      ("DedupStore.append", "phash", "PhashStore",
        DedupStore.append(docs.limit(3), _, "day1")),
      ("DedupStore.delete", "pq", "PqStore", DedupStore.delete(docIds, _)),
      ("DedupStore.dedupAgainst", "afp", "AfpStore",
        DedupStore.dedupAgainst(spark, docs.limit(3), _).collect()),
      ("PhashStore.stats", "dedup", "DedupStore", PhashStore.stats(spark, _)),
      ("PhashStore.compact", "afp", "AfpStore", PhashStore.compact(spark, _)),
      // the two fingerprint stores share one physical layout: without
      // the identity gate the audio store would read an IMAGE store
      // and die on a missing-column analysis error, and a takedown
      // would tombstone the other modality's rows while the intended
      // retraction silently never happens
      ("AfpStore.dedupAgainst", "phash", "PhashStore",
        AfpStore.dedupAgainst(spark, clips, _).collect()),
      ("AfpStore.delete", "phash", "PhashStore", AfpStore.delete(docIds, _)),
      ("AfpStore.append", "phash", "PhashStore",
        AfpStore.append(clips, _, "day1")),
      ("AfpStore.save", "phash", "PhashStore", AfpStore.save(clips, _)))
    // own roots: a verb that is NOT refused mutates its target
    val roots = buildAll()
    def listing(dir: String): Set[String] =
      Files.walk(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
        .filterNot(_.endsWith("_MAINTAINER_LOCK")).toSet
    try cases.foreach { case (verb, target, builder, run) =>
      val dir = roots(target)
      val before = StoreVersioning.requireRoot(spark, dir)
      val files = listing(dir)
      val e = intercept[IllegalArgumentException](run(dir))
      assert(e.getMessage.contains(s"built by $builder"),
        s"$verb on a $builder root must refuse by identity: ${e.getMessage}")
      assert(StoreVersioning.requireRoot(spark, dir) == before,
        s"$verb must leave the committed root alone")
      assert(listing(dir) == files, s"$verb must write nothing")
    } finally Pq.clearCodebookCache()
  }

  test("stats columns: names, order and types per store are a contract") {
    val want = Map(
      "ivf" -> (IvfIndex.stats _, Seq("version", "n_ingests",
        "n_vector_files", "n_vectors", "n_cells", "n_tombstoned",
        "n_live_vectors", "layout", "train_fingerprint")),
      "pq" -> (PqStore.stats _, Seq("version", "n_ingests",
        "n_vector_files", "n_vectors", "n_tombstoned", "n_live_vectors",
        "layout", "m", "k_codes", "train_fingerprint")),
      "ivfpq" -> (IvfPqStore.stats _, Seq("version", "n_ingests",
        "n_vector_files", "n_vectors", "n_cells", "n_tombstoned",
        "n_live_vectors", "layout", "m", "k_codes", "train_fingerprint")),
      "dedup" -> (DedupStore.stats _, Seq("version", "n_ingests",
        "n_gram_files", "n_grams", "n_docs", "n_tombstoned", "n_live_docs",
        "layout", "train_fingerprint")),
      "phash" -> (PhashStore.stats _, Seq("version", "n_ingests",
        "n_fp_files", "n_images", "n_tombstoned", "n_live_images",
        "layout", "train_fingerprint")),
      "afp" -> (AfpStore.stats _, Seq("version", "n_ingests",
        "n_fp_files", "n_clips", "n_tombstoned", "n_live_clips",
        "layout", "train_fingerprint")))
    val strings = Set("layout", "m", "k_codes", "train_fingerprint")
    want.foreach { case (store, (stats, cols)) =>
      val schema = stats(spark, built(store)).schema
      assert(schema.fieldNames.toSeq == cols, s"$store stats columns")
      schema.fields.foreach(f => assert(
        f.dataType.simpleString ==
          (if (strings(f.name)) "string" else "bigint"),
        s"$store stats column ${f.name}: ${f.dataType}"))
    }
  }

  /** One store's lifecycle verbs over a given directory. */
  private case class Verbs(store: String, rowsCol: String,
      save: String => Unit, append: String => Unit,
      compact: String => Unit, stats: String => DataFrame)

  test("retried append is idempotent; compact collapses ingests, keeps _META") {
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val evenDocs = docs.filter(col("doc_id") % 2 === 0)
    val oddDocs = docs.filter(col("doc_id") % 2 === 1)
    val early = col("doc_id") <= 10
    val stores = Seq(
      Verbs("ivf", "n_vectors", IvfIndex.save(even, _, nCells = 4),
        IvfIndex.append(odd, _, "day1"), IvfIndex.compact(spark, _),
        IvfIndex.stats(spark, _)),
      Verbs("pq", "n_vectors", PqStore.save(even, _),
        PqStore.append(odd, _, "day1"), PqStore.compact(spark, _),
        PqStore.stats(spark, _)),
      Verbs("ivfpq", "n_vectors", IvfPqStore.save(even, _, nCells = 4),
        IvfPqStore.append(odd, _, "day1"), IvfPqStore.compact(spark, _),
        IvfPqStore.stats(spark, _)),
      Verbs("dedup", "n_docs", DedupStore.save(evenDocs, _),
        DedupStore.append(oddDocs, _, "day1"), DedupStore.compact(spark, _),
        DedupStore.stats(spark, _)),
      Verbs("phash", "n_images", PhashStore.save(images.filter(early), _),
        PhashStore.append(images.filter(!early), _, "day1"),
        PhashStore.compact(spark, _), PhashStore.stats(spark, _)),
      Verbs("afp", "n_clips", AfpStore.save(clips.filter(early), _),
        AfpStore.append(clips.filter(!early), _, "day1"),
        AfpStore.compact(spark, _), AfpStore.stats(spark, _)))
    try stores.foreach { v =>
      val dir = tmpDir(s"grow_${v.store}")
      def stat(name: String): Long = v.stats(dir).head().getAs[Long](name)
      v.save(dir)
      v.append(dir)
      val rows = stat(v.rowsCol)
      assert(stat("n_ingests") == 2, v.store)
      v.append(dir)
      assert(stat(v.rowsCol) == rows && stat("n_ingests") == 2,
        s"${v.store}: a retried append must replace its own ingest")
      val root = StoreVersioning.requireRoot(spark, dir)
      val meta = StoreVersioning.metaOf(spark, root)
      v.compact(dir)
      val compacted = StoreVersioning.requireRoot(spark, dir)
      assert(StoreVersioning.versionOf(compacted) >
        StoreVersioning.versionOf(root), s"${v.store}: compact commits anew")
      assert(StoreVersioning.metaOf(spark, compacted) == meta,
        s"${v.store}: compact must carry _META verbatim")
      assert(stat("n_ingests") == 1 && stat(v.rowsCol) == rows,
        s"${v.store}: compact collapses the ingests, keeps every live row")
    } finally Pq.clearCodebookCache()
  }
}
