package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one lifecycle every persisted store shares ([[IvfIndex]],
  * [[PqStore]], [[IvfPqStore]], [[DedupStore]], [[PhashStore]],
  * [[AfpStore]]) under a [[StoreVersioning versioned root]]. A store
  * declares only its relations, its encode-on-write and its query
  * plans; this base owns everything else, once:
  *
  *  - the `_META` gate ([[gate]]): identity first (a root another
  *    store built refuses by name on EVERY verb, before any side
  *    effect), then the physical layout on maintenance verbs, then
  *    the coarse-quantizer geometry where the store records one;
  *  - save (lease → `nextVersion` → write → `_META` → commit,
  *    [[StoreVersioning.save]]);
  *  - ingest-keyed idempotent append ([[appendVersion]]): the write
  *    is a dynamic partition overwrite of exactly one `ingest=<id>/`
  *    subtree, so a retried append replaces its own partial output;
  *  - tombstone [[delete]] and the live-rows anti-join ([[live]]);
  *  - [[compact]]: model relations copied, data relations rewritten
  *    minus the tombstones and collapsed to ingest `"0"`, `_META`
  *    carried verbatim (geometry is frozen at build);
  *  - the fragmentation / dead-row signals ([[health]]) that `stats`
  *    and [[StoreMaintenance]] read.
  *
  * @param storeName the store's `_META` identity and lock-holder name
  */
private[graft] abstract class VersionedStore(val storeName: String) {

  /** One ingest-partitioned data relation: `by` are the partition
    * columns after `ingest` (cells cluster into tasks before the
    * write, ~one file per cell rather than tasks × cells); `ddl`,
    * when set, lets an EMPTY relation read back as matching nothing
    * ([[StoreVersioning.readRel]]).
    */
  protected case class DataRel(name: String, by: Seq[String] = Nil,
      ddl: Option[String] = None)

  /** Physical-layout version of the data relations, recorded in
    * `_META` and enforced before any maintenance that assumes it.
    */
  protected def layout: Long

  /** Whether the store records and gates the coarse-quantizer
    * geometry ([[StoreVersioning.requireGeometry]] — the IVF family).
    */
  protected def geometry: Boolean = false

  /** The id column tombstones are filed under and anti-join on. */
  protected def keyCol: String

  /** Frozen model relations, copied verbatim by [[compact]]. */
  protected def modelRels: Seq[String] = Nil

  /** The data relations; the first one is the layout gate's probe
    * for legacy roots and the file count `stats` reports.
    */
  protected def dataRels: Seq[DataRel]

  /** The relation whose rows are the store's unit (stats' row
    * counts, ingest count and live/tombstoned split).
    */
  protected def rowsRel: String = dataRels.head.name

  /** The one-row maintenance audit relation; the column list is each
    * store's own (the YAML audit rows and goldens pin it).
    */
  def stats(spark: SparkSession, dir: String): DataFrame

  /** The sampled worst one-sided exact−ADC gap at `minCosine` —
    * defined only for stores holding PQ codes (the
    * [[StoreMaintenance.recommend]] rebuild trigger).
    */
  private[ops] def sampledGap(spark: SparkSession, dir: String,
      minCosine: Double): Option[Double] = None

  /** Refuse a root this store cannot serve; returns its `_META`, read
    * ONCE (dedupAgainst runs per streaming micro-batch). Identity
    * gates every verb; `maintenance` adds the layout check, which
    * leaves committed roots query-valid; geometry poisons queries
    * too, so it gates both.
    */
  protected def gate(spark: SparkSession, root: String,
      maintenance: Boolean = true): Map[String, String] = {
    val meta = StoreVersioning.metaOf(spark, root)
    StoreVersioning.requireIdentity(root, storeName, meta)
    if (maintenance) StoreVersioning.requireLayout(spark, root, storeName,
      dataRels.head.name, layout, meta)
    if (geometry) StoreVersioning.requireGeometry(root, storeName, meta)
    meta
  }

  /** A relation of the version root at `root`. */
  protected def read(spark: SparkSession, root: String,
      rel: String): DataFrame = {
    val path = s"$root/$rel"
    dataRels.find(_.name == rel).flatMap(_.ddl)
      .fold(spark.read.parquet(path))(StoreVersioning.readRel(spark, path, _))
  }

  /** `df` minus the tombstoned ids, if any takedown has landed. */
  protected def live(spark: SparkSession, root: String,
      df: DataFrame): DataFrame =
    StoreVersioning.deletesIfAny(spark, s"$root/deletes")
      .fold(df)(d => df.join(d, Seq(keyCol), "left_anti"))

  /** Write a model relation as ~one file. */
  protected def writeModel(df: DataFrame, root: String, rel: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$root/$rel")

  /** Land `df` as ingest partition `ingestId` of data relation `rel`.
    * Ingest `"0"` is reserved for full writes into a fresh version
    * root (save, compact); any other id dynamically overwrites only
    * its own subtree — pinned explicitly so a cluster-wide static
    * default can't widen it to the whole relation.
    */
  protected def land(df: DataFrame, root: String, rel: String,
      ingestId: String): Unit = {
    val r = dataRels.find(_.name == rel).get
    val tagged = df.withColumn("ingest", lit(ingestId))
    val w =
      (if (r.by.isEmpty) tagged else tagged.repartition(r.by.map(col): _*))
        .write.mode("overwrite").partitionBy("ingest" +: r.by: _*)
    (if (ingestId == "0") w else w.option("partitionOverwriteMode", "dynamic"))
      .parquet(s"$root/$rel")
  }

  /** Build a fresh version: `write` lands the relations under the
    * new root and returns the model's `_META` entries. A crashed
    * rebuild leaves the old version committed; the recovery is to
    * run save again.
    */
  protected def saveVersion(corpus: DataFrame, dir: String)(
      write: String => Seq[(String, String)]): Unit =
    StoreVersioning.save(corpus, dir, storeName, s"$storeName.save",
      Seq("layout" -> layout.toString) ++
        (if (geometry) Seq("geometry" -> StoreVersioning.UnitSphereGeometry)
         else Nil))(write)

  /** Grow the committed version by ingest `ingestId`: `write` lands
    * the batch under the gated root (see [[land]]).
    */
  protected def appendVersion(spark: SparkSession, dir: String,
      ingestId: String)(write: String => Unit): Unit = {
    require(ingestId.nonEmpty && ingestId != "0",
      "ingestId must be a non-empty batch name other than the reserved \"0\"")
    StoreVersioning.withMaintainerLock(spark, dir, s"$storeName.append") {
      val root = StoreVersioning.requireRoot(spark, dir)
      gate(spark, root)
      write(root)
    }
  }

  /** Retract rows WITHOUT rewriting the store: ids land in the
    * `deletes/` tombstone relation and every read anti-joins them
    * out, so retraction is immediate; dead rows are physically
    * reclaimed by the next [[compact]] or save. Malformed ids fail
    * loudly ([[StoreVersioning.requireLongIds]]).
    */
  def delete(ids: DataFrame, dir: String): Unit =
    StoreVersioning.withMaintainerLock(ids.sparkSession, dir,
        s"$storeName.delete") {
      val root = StoreVersioning.requireRoot(ids.sparkSession, dir)
      gate(ids.sparkSession, root)
      StoreVersioning.requireLongIds(ids, keyCol)
        .write.mode("append").parquet(s"$root/deletes")
    }

  /** Rewrite the store from its own contents into a fresh version:
    * tombstoned rows drop out, a season of appends collapses to the
    * single `"0"` ingest, model relations carry over unchanged — no
    * refit, no re-encode, no source re-read. The new version reads
    * from the OLD committed root and lands beside it, so a crashed
    * compaction destroys nothing and the recovery is to run it again.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    StoreVersioning.withMaintainerLock(spark, dir, s"$storeName.compact") {
      val root = StoreVersioning.requireRoot(spark, dir)
      val meta = gate(spark, root)
      val v = StoreVersioning.nextVersion(spark, dir)
      val newRoot = s"$dir/$v"
      modelRels.foreach(m =>
        writeModel(spark.read.parquet(s"$root/$m"), newRoot, m))
      dataRels.foreach(r => land(
        live(spark, root, read(spark, root, r.name)).drop("ingest"),
        newRoot, r.name, "0"))
      StoreVersioning.writeMeta(spark, newRoot, meta.toSeq.sortBy(_._1))
      StoreVersioning.commit(spark, dir, v)
    }

  /** The maintenance signals of the committed root, gated. */
  private[ops] def health(spark: SparkSession,
      dir: String): VersionedStore.Health = {
    val root = StoreVersioning.requireRoot(spark, dir)
    val meta = gate(spark, root)
    val rows = read(spark, root, rowsRel)
    val del = StoreVersioning.deletesIfAny(spark, s"$root/deletes")
    val nRows = rows.count()
    val nTomb = del.fold(0L)(_.select(col(keyCol)).distinct().count())
    val nLive =
      del.fold(nRows)(d => rows.join(d, Seq(keyCol), "left_anti").count())
    VersionedStore.Health(root, meta,
      // partition-value inference types an all-numeric ingest as int
      rows.select(col("ingest").cast("string")).distinct().count(),
      StoreVersioning.dataFileCount(spark, s"$root/${dataRels.head.name}"),
      nRows, nTomb, nLive)
  }
}

private[graft] object VersionedStore {

  /** One committed root's maintenance signals: `nFiles` over the
    * first data relation (fragmentation), the rest over the rows
    * relation.
    */
  final case class Health(root: String, meta: Map[String, String],
      nIngests: Long, nFiles: Long, nRows: Long, nTombstoned: Long,
      nLive: Long) {
    def version: Long = StoreVersioning.versionOf(root)
    def metaOr(key: String): String = meta.getOrElse(key, "unknown")
  }
}
