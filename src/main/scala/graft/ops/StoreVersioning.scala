package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Versioned roots for the persisted stores (every [[VersionedStore]],
  * and the [[Classify.saveModel]] model): every rebuild or compaction
  * writes a FRESH `v<n>/` directory and commits it by creating a
  * `_COMMITTED` marker file inside it — never by overwriting live
  * data in place, and never by a multi-step pointer mutation.
  *
  * This is what makes the stores' failure story structural instead of
  * rhetorical: an in-place static overwrite DELETES its target before
  * the new job commits, so a mid-rebuild crash used to leave a gutted
  * or mixed-generation store (new centroids over old vectors), and a
  * retried compaction could overwrite its own staging copy with the
  * data it had just destroyed. Here the commit point is ONE atomic
  * file creation: the current root is the highest `v<n>` that carries
  * the marker, so a crashed build's marker-less directory is simply
  * invisible, a crash can never leave the store pointer-less (there
  * is no pointer to half-write), and the recovery for any failed
  * save/compact is: run it again.
  *
  * Retention: a commit prunes all older versions EXCEPT the one it
  * supersedes — an in-flight reader that resolved the old root before
  * the commit keeps its files for one full commit cycle (a streaming
  * micro-batch, a long scan). A reader that holds a root across TWO
  * commits is out of contract. Marker-less orphans older than the new
  * version are pruned outright; legacy non-versioned entries are left
  * untouched (rebuild migrates a legacy store; its files are not
  * silently destroyed).
  *
  * Concurrency contract: ONE maintainer at a time (save/append/
  * delete/compact are serial maintenance operations); readers may
  * freely race a commit. Tombstones filed while a compaction is in
  * flight are superseded by its commit (single-writer rule). The
  * contract is ENFORCED, not just documented: every maintenance
  * operation runs under [[withMaintainerLock]] — a marker-file lease
  * at the store root — so a second concurrent maintainer fails
  * loudly instead of racing [[nextVersion]]'s read-modify-write
  * (two saves allocating the same `v<n>` would interleave their
  * files inside one version directory and commit a chimera).
  */
private[ops] object StoreVersioning {

  private val Marker = "_COMMITTED"
  private val Lock = "_MAINTAINER_LOCK"
  private val MetaFile = "_META"

  /** Lease horizon: a lock file OLDER than this is treated as the
    * debris of a crashed maintainer and stolen (one retry). A LIVE
    * maintenance op must finish inside the lease — size it above the
    * longest save/compact the deployment runs (the default covers any
    * fixture-scale build by orders of magnitude); a lease that
    * expires under a still-running maintainer reverts to the
    * documented single-maintainer honor contract, exactly like any
    * lease-based lock.
    */
  private[ops] val LeaseMs: Long = 30L * 60 * 1000

  /** Heartbeat period for a LIVE lease holder (see the beat thread in
    * [[withMaintainerLock]]) — a var only as a test seam: the spec
    * shrinks it to observe a refresh without waiting LeaseMs/3.
    */
  @volatile private[ops] var HeartbeatMs: Long = LeaseMs / 3

  /** Run `body` holding the store's maintainer lease: one atomic
    * lock-file creation at the store root, released on every exit
    * path. A concurrent second maintainer gets a LOUD error naming
    * the lock (never a silent race on version allocation); a lock
    * older than [[LeaseMs]] is stolen by AT MOST ONE racer through
    * the steal-marker protocol below (crash debris must not brick
    * the store — the versioned-root design already makes any crashed
    * maintenance recoverable by rerunning it).
    */
  def withMaintainerLock[T](spark: SparkSession, dir: String,
      op: String)(body: => T): T = {
    val fs = fsFor(spark, dir)
    val base = new Path(dir)
    if (!fs.exists(base)) fs.mkdirs(base)
    val lock = new Path(base, Lock)
    // Acquisition must be ONE atomic create-if-absent. On HDFS-like
    // filesystems FileSystem.createNewFile IS that (create with
    // overwrite=false is atomic at the namenode); on the LOCAL
    // filesystem it is exists-then-create — two racers can both pass
    // the exists check (measured: the concurrent-stealers spec put 3
    // maintainers inside the critical section) — so file:// dispatches
    // to java.io.File#createNewFile, which is POSIX O_CREAT|O_EXCL.
    def acquire(): Boolean =
      try {
        if (fs.getScheme == "file")
          new java.io.File(lock.toUri.getPath).createNewFile()
        else fs.createNewFile(lock)
      } catch { case _: java.io.IOException => false }
    def expired(p: Path): Boolean = try {
      System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime > LeaseMs
    } catch { case _: java.io.FileNotFoundException => true }
    val got = acquire() || {
      // Steal only an expired lease, and ONLY while holding the STEAL
      // MARKER — an atomic create-if-absent next to the lock that
      // serializes the debris-clearing step itself. The r18
      // rename-based steal had a residual hole the 8-way stealer spec
      // eventually caught: a stealer's staleness read and its rename
      // are two steps, so stealer B (stale read taken before A's
      // steal completed) could rename away the FRESH lock A had just
      // re-created, "clear the debris", and join A inside the
      // critical section. Under the marker, exactly one stealer at a
      // time re-validates expiry and conditionally deletes the lock —
      // the lock path is never renamed or unconditionally deleted —
      // and acquisition stays the ONE atomic createNewFile (a fresh
      // maintainer landing between the delete and the acquire simply
      // wins; the marker holder's acquire fails and refuses loudly).
      // Marker debris from a crashed stealer self-expires on the same
      // horizon, cleared through a unique-grave rename (at most one
      // racer's rename succeeds; a rename that grabs a rival's fresh
      // marker would require that rival to stall mid-steal for the
      // whole lease horizon — steals carry no user body, so the
      // crash-stall window is a few filesystem calls).
      val steal = new Path(base, s".$Lock.steal")
      def markerAcquire(): Boolean =
        try {
          if (fs.getScheme == "file")
            new java.io.File(steal.toUri.getPath).createNewFile()
          else fs.createNewFile(steal)
        } catch { case _: java.io.IOException => false }
      val marker = markerAcquire() || (expired(steal) && {
        val grave = new Path(base,
          s".$Lock.steal.stolen.${java.util.UUID.randomUUID().toString}")
        val renamed =
          try fs.rename(steal, grave)
          catch { case _: java.io.IOException => false }
        if (renamed) { fs.delete(grave, false); () }
        markerAcquire()
      })
      marker && (try {
        // re-validate UNDER the marker: a rival may have stolen and
        // re-acquired between this thread's first acquire failure and
        // its marker win — only a lock still expired NOW is debris
        if (expired(lock)) { fs.delete(lock, false); () }
        acquire()
      } finally { fs.delete(steal, false); () })
    }
    if (!got) sys.error(
      s"$op: another maintainer holds $lock (single-maintainer " +
        "contract); if that maintainer crashed, the lease self-expires " +
        s"after ${LeaseMs / 60000} min — or remove the lock file manually")
    // HEARTBEAT (r18): a LIVE holder refreshes the lock's mtime every
    // LeaseMs/3 from a daemon thread, so the lease horizon bounds only
    // how long CRASH DEBRIS blocks the seam — a legitimate operation
    // longer than the horizon (a catch-up stream drain after scheduler
    // downtime, a giant compaction) can no longer have its lock stolen
    // under it by the next scheduled tick. A crash kills the thread
    // with the JVM, the mtime ages, and expiry works as before.
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(HeartbeatMs)
          val now = System.currentTimeMillis()
          // a transiently failing refresh (namenode failover, NFS
          // blip) loses ONE beat, never the thread: the catch must
          // stay inside the loop, or the first blip silently
          // reopens the steal-under-live-holder hole for the rest
          // of the operation. An interrupt DELIVERED inside the FS
          // call surfaces as InterruptedIOException /
          // ClosedByInterruptException with the flag cleared — those
          // must re-interrupt and exit, or the release interrupt is
          // swallowed and a zombie beat keeps refreshing whatever
          // lock lives at this path next (deadlocking its expiry)
          try fs.setTimes(lock, now, now)
          catch {
            case _: java.io.InterruptedIOException =>
              Thread.currentThread().interrupt()
            case _: java.nio.channels.ClosedByInterruptException =>
              Thread.currentThread().interrupt()
            case _: java.io.IOException => ()
          }
        }
      } catch {
        case _: InterruptedException => ()
      }
    }, s"graft-lease-heartbeat-$op")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      fs.delete(lock, false); ()
    }
  }

  /** A takedown id relation, first column cast to long — LOUDLY: under
    * non-ANSI SQL an uncastable id casts to NULL, and a NULL tombstone
    * anti-joins to nothing, silently turning a retraction (GDPR
    * erasure, license takedown) into a no-op. A malformed request must
    * error, not not-retract.
    */
  def requireLongIds(ids: DataFrame, as: String): DataFrame = {
    val cast = ids.select(col(ids.columns.head).cast("long").as(as))
      .distinct()
    val bad = cast.filter(col(as).isNull).count()
    require(bad == 0,
      s"takedown request contains $bad id(s) that are null or not " +
        s"castable to long — refusing to file tombstones that would " +
        "silently retract nothing")
    cast.filter(col(as).isNotNull)
  }

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a store relation, tolerating the EMPTY-store footprint: a
    * corpus that contributes no rows (no doc reaches the trigram
    * width, no payload decodes) writes ZERO rows into a partitioned
    * relation, which parquet lands as a bare `_SUCCESS` with no
    * footer to infer a schema from — the read-back must behave as
    * "matches nothing" (exactly what the in-session operator returns
    * on such a corpus), not throw. Shared by every store through
    * [[VersionedStore]] so a new Spark error-condition name lands once.
    */
  def readRel(spark: SparkSession, path: String, ddl: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
    }

  /** The tombstone relation at `deletesPath`, if any takedown has
    * landed one (the `deletes/` directory is created lazily by the
    * first [[requireLongIds]]-validated delete).
    */
  def deletesIfAny(spark: SparkSession,
      deletesPath: String): Option[DataFrame] = {
    val path = new Path(deletesPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) Some(spark.read.parquet(deletesPath))
    else None
  }

  /** Write the version root's `_META` sidecar — the store's layout
    * version plus its frozen model lineage (quantizer/codebook
    * geometry and the training corpus fingerprint), one `k=v` per
    * line. Written by save() BEFORE the commit marker and carried
    * verbatim by compact() (geometry is frozen at build), so every
    * committed root self-describes: [[requireLayout]] turns a
    * partition-layout change into a loud "rebuild required" instead
    * of a partition-discovery error or a silently mixed layout, and
    * [[metaOf]] lets a maintenance job compare the store's training
    * lineage against today's corpus and recommend rebuild vs compact
    * (a store whose geometry was trained on last year's distribution
    * compacts fine but retrieves worse — only lineage makes that
    * visible).
    */
  def writeMeta(spark: SparkSession, root: String,
      entries: Seq[(String, String)]): Unit = {
    val fs = fsFor(spark, root)
    val out = fs.create(new Path(s"$root/$MetaFile"), true)
    try out.write(entries.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The version root's `_META` map — empty for a legacy root
    * committed before the sidecar existed.
    */
  def metaOf(spark: SparkSession, root: String): Map[String, String] = {
    val p = new Path(s"$root/$MetaFile")
    val fs = fsFor(spark, root)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.contains("="))
        .map { l =>
          val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
        }.toMap
    }
  }

  /** A compact fingerprint of a training corpus' scanned file listing
    * — the same lineage signal the in-JVM model memos key on, persisted
    * so a later maintenance job can detect that a store's frozen
    * geometry no longer matches the corpus it serves.
    */
  def trainFingerprint(df: DataFrame): String =
    f"${java.util.Arrays.hashCode(df.inputFiles.asInstanceOf[Array[AnyRef]])}%08x"

  /** An order- and layout-independent CONTENT fingerprint of a
    * training corpus: row count plus the sum of per-row xxhash64 over
    * every column (summed in decimal — a wrapped bigint sum would
    * overflow-throw under ANSI, and bit_xor would let duplicate-heavy
    * corpora collide pairwise). This is the drift check's SECOND
    * signal: a corpus that is a chained warehouse relation gets
    * rewritten with fresh part-file names every scheduled run, so the
    * cheap listing fingerprint alone reads as drifted forever and
    * `action: auto` would rebuild every night over identical rows
    * (r16 ADVICE) — the content fingerprint is recomputed only when
    * the listing already mismatched, and equality means the geometry
    * is NOT stale. One extra distributed aggregate at save() time,
    * over a corpus the save is scanning anyway.
    */
  def contentFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(20,0)"))).head()
    val h = if (r.isNullAt(1)) "0"
      else r.getDecimal(1).toBigInteger.toString(16)
    s"${r.getLong(0)}-$h"
  }

  /** The coarse-quantizer GEOMETRY convention the IVF-family stores
    * record in `_META` and gate on: centroids fitted, vectors
    * assigned, and queries ranked on the UNIT SPHERE
    * ([[Similarity.unitOf]] — the round-15 spherical-quantizer
    * convention). Unlike `layout` (which only covers the PHYSICAL
    * partition scheme and whose mismatch leaves committed roots
    * query-valid), a geometry mismatch poisons QUERIES too: ranking a
    * unit-normalized query against raw-space centroids (or assigning
    * an append by the spherical rule into a raw-placed corpus)
    * silently degrades partial-probe recall on any non-unit-norm
    * corpus — precisely the silent-knob class `_META` exists to
    * refuse. So [[requireGeometry]] is enforced on EVERY centroid
    * consumer: query, append, dedup, stats, compact.
    */
  val UnitSphereGeometry = "unit-sphere-1"

  /** Refuse a root whose coarse-quantizer geometry does not match the
    * running build's convention. Two refusal cases:
    *
    *  - NO `_META` at all: the root predates the sidecar — and the
    *    sidecar landed in the SAME build as the spherical quantizer,
    *    so a pre-`_META` IVF root is known to carry raw-space
    *    centroids. The old `ingest=`-directory fallback (still the
    *    layout rule for the geometry-free stores) would wave it
    *    through into silent recall loss.
    *  - `_META` present with a DIFFERENT `geometry`: a future
    *    convention change gates here by string mismatch.
    *
    * A `_META` WITHOUT a `geometry` key is accepted as
    * [[UnitSphereGeometry]]: the sidecar and the spherical fit shipped
    * together, so every sidecar-carrying root was built spherical —
    * the key only needs writing from now on so the NEXT geometry
    * change has something to compare.
    */
  def requireGeometry(root: String, store: String,
      meta: Map[String, String]): Unit = {
    require(meta.nonEmpty,
      s"$store at $root was committed by an older build without a " +
        "_META sidecar, which predates the unit-sphere coarse-quantizer " +
        "convention: its centroids live in raw space, so queries would " +
        "rank normalized vectors against them and appends would assign " +
        "by a different rule than the stored placement — silent " +
        "partial-probe recall loss — rebuild required: save() a fresh " +
        "version from the corpus")
    val g = meta.getOrElse("geometry", UnitSphereGeometry)
    require(g == UnitSphereGeometry,
      s"$store at $root records quantizer geometry '$g' but this build " +
        s"implements '$UnitSphereGeometry' — queries and appends against " +
        "a mismatched geometry silently lose recall — rebuild required: " +
        "save() a fresh version from the corpus")
  }

  /** Refuse a root a DIFFERENT store built (its `_META` names
    * another `store`). Layout versions alone cannot tell two stores
    * apart — several record layout 1 — so without this a misrouted
    * compact could commit a root missing the other store's model
    * relations, and a misrouted delete would tombstone the wrong
    * store while the intended retraction silently never happens. A
    * legacy root without the key passes (save is its migration).
    */
  def requireIdentity(root: String, store: String,
      meta: Map[String, String]): Unit =
    meta.get("store").foreach(s =>
      require(s == store,
        s"$store at $root: the committed root was built by $s — " +
          "point this stage at the right store directory"))

  /** The shared save step: under the maintainer lease, allocate the
    * next version, let `write` land the relations under its root and
    * return the model's `_META` entries, write `_META` (`store`,
    * `header`, the model entries, then the training lineage) and
    * commit by marker. A root another store built refuses by identity
    * before anything is written.
    */
  def save(corpus: DataFrame, dir: String, store: String, op: String,
      header: Seq[(String, String)])(
      write: String => Seq[(String, String)]): Unit = {
    val spark = corpus.sparkSession
    withMaintainerLock(spark, dir, op) {
      currentRoot(spark, dir).foreach(r =>
        requireIdentity(r, store, metaOf(spark, r)))
      val v = nextVersion(spark, dir)
      val root = s"$dir/$v"
      val model = write(root)
      writeMeta(spark, root, Seq("store" -> store) ++ header ++ model ++ Seq(
        "train_fingerprint" -> trainFingerprint(corpus),
        "train_content_fingerprint" -> contentFingerprint(corpus)))
      commit(spark, dir, v)
    }
  }

  /** Enforce the store's physical layout contract on a committed
    * root before any operation that ASSUMES it (append's dynamic
    * partition overwrite, stats' ingest column, compact's rewrite):
    * a mismatched layout version — or a legacy pre-`_META` root whose
    * `dataDir` lacks the `ingest=` partition directories the current
    * layout writes — fails with "rebuild required" instead of
    * mixing two partition layouts under one parquet root (partition
    * discovery errors at best, a silently corrupted store at worst;
    * for an artifact whose whole point is persistence, the loud
    * refusal IS the migration path).
    */
  def requireLayout(spark: SparkSession, root: String, store: String,
      dataDir: String, expected: Long, meta: Map[String, String]): Unit =
    meta.get("layout") match {
      case Some(v) => require(v.toLong == expected,
        s"$store at $root has physical layout v$v but this build " +
          s"reads/writes layout v$expected — rebuild required: save() " +
          "a fresh version (queries against the committed root remain " +
          "valid; only maintenance is refused)")
      case None =>
        val fs = fsFor(spark, root)
        val d = new Path(s"$root/$dataDir")
        val hasIngest = fs.exists(d) &&
          fs.listStatus(d).exists(_.getPath.getName.startsWith("ingest="))
        require(hasIngest,
          s"$store at $root was committed by an older build without " +
            "the ingest-keyed partition layout — rebuild required: " +
            "save() a fresh version (append/stats/compact against the " +
            "mixed layout would corrupt the store or fail partition " +
            "discovery)")
    }

  /** Data-file count under `path` (recursive) — the fragmentation
    * signal a compaction decision reads: each append lands fresh
    * files, so files-per-partition growing past ~1 means the store's
    * scans are paying open/footer overhead a
    * [[VersionedStore.compact]] would re-bound. Driver-side listing, the
    * same class of metadata walk every parquet read performs.
    */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = fsFor(spark, path)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }

  /** The committed version NUMBER (the `<n>` of the root's `v<n>`). */
  def versionOf(root: String): Long =
    root.split('/').last.drop(1).toLong

  private def committedVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val base = new Path(dir)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong)
      .filter(n => fs.exists(new Path(s"$dir/v$n/$Marker")))
      .sorted
  }

  /** The committed version root, or None for an empty/new store. */
  def currentRoot(spark: SparkSession, dir: String): Option[String] =
    committedVersions(fsFor(spark, dir), dir).lastOption.map(n => s"$dir/v$n")

  /** The committed root, required: a query/append/delete against a
    * store that has never committed is a caller error with a name.
    */
  def requireRoot(spark: SparkSession, dir: String): String =
    currentRoot(spark, dir).getOrElse(sys.error(
      s"no committed store at $dir (no v*/$Marker) — build it with save()"))

  /** Allocate the next version name: v<max+1> over ALL existing v*
    * entries, committed or orphaned (so a retry never collides with
    * its own debris).
    */
  def nextVersion(spark: SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    val base = new Path(dir)
    val existing =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq.map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    s"v${(existing :+ 0L).max + 1}"
  }

  /** Commit `version`: create its `_COMMITTED` marker (the single
    * atomic commit point), then prune every OTHER `v*` entry except
    * the version this commit supersedes (the one-commit reader
    * grace above).
    */
  def commit(spark: SparkSession, dir: String, version: String): Unit = {
    val fs = fsFor(spark, dir)
    val grace = committedVersions(fs, dir).lastOption.map(n => s"v$n")
    fs.create(new Path(s"$dir/$version/$Marker"), true).close()
    fs.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      if (n.matches("v\\d+") && n != version && !grace.contains(n))
        fs.delete(st.getPath, true)
    }
  }
}
