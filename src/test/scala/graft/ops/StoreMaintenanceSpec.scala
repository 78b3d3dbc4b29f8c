package graft.ops

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted stores' maintenance hardening (round 14):
  *
  *  1. LOCK — save/append/delete/compact hold a maintainer lease; a
  *     second CONCURRENT maintainer fails loudly instead of racing
  *     `nextVersion`'s read-modify-write into a mixed-version commit.
  *  2. LEASE — a crashed maintainer's lock self-expires: debris must
  *     not brick the store (recovery for any crashed maintenance is
  *     still "run it again").
  *  3. LOUD TOMBSTONES — a takedown id that casts to NULL errors
  *     instead of filing a tombstone that anti-joins to nothing
  *     (a GDPR erasure must never silently become a no-op).
  */
class StoreMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_store_maint_$tag").toString

  test("two racing maintainers: exactly one fails loudly, naming the lock") {
    val dir = tmpDir("race")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = Future {
      StoreVersioning.withMaintainerLock(spark, dir, "spec.first") {
        held.countDown()
        release.await()
      }
    }
    held.await() // the first maintainer provably holds the lease
    val second = intercept[RuntimeException] {
      StoreVersioning.withMaintainerLock(spark, dir, "spec.second") {
        fail("the second maintainer must never enter the critical section")
      }
    }
    assert(second.getMessage.contains("another maintainer"))
    assert(second.getMessage.contains("spec.second"))
    release.countDown()
    Await.result(first, 30.seconds)
    // the lease is released on exit: the next maintainer proceeds
    StoreVersioning.withMaintainerLock(spark, dir, "spec.third") { () }
  }

  test("a LIVE holder's heartbeat keeps the lease fresh past the horizon — " +
      "no steal under a long-running operation") {
    val dir = tmpDir("heartbeat")
    val lock = new java.io.File(dir, "_MAINTAINER_LOCK")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val oldBeat = StoreVersioning.HeartbeatMs
    StoreVersioning.HeartbeatMs = 50L
    try {
      val holder = Future {
        StoreVersioning.withMaintainerLock(spark, dir, "spec.longrun") {
          held.countDown()
          release.await()
        }
      }
      held.await()
      // simulate the horizon passing UNDER the live holder: back-date
      // the lock beyond LeaseMs — without the heartbeat this is
      // exactly the state the next scheduled tick steals
      val stale = System.currentTimeMillis() - 2L * 60 * 60 * 1000
      assert(lock.setLastModified(stale))
      Thread.sleep(300) // several heartbeat periods
      assert(lock.lastModified() > stale + 60L * 60 * 1000,
        "the live holder's heartbeat must refresh the lock mtime")
      val rival = intercept[RuntimeException] {
        StoreVersioning.withMaintainerLock(spark, dir, "spec.rival") {
          fail("a rival must not steal a heartbeating lease")
        }
      }
      assert(rival.getMessage.contains("another maintainer"))
      release.countDown()
      Await.result(holder, 30.seconds)
      assert(!lock.exists())
    } finally {
      StoreVersioning.HeartbeatMs = oldBeat
      release.countDown()
    }
  }

  test("a failing maintenance body still releases the lease") {
    val dir = tmpDir("throwing")
    intercept[IllegalStateException] {
      StoreVersioning.withMaintainerLock(spark, dir, "spec.boom") {
        throw new IllegalStateException("maintenance died")
      }
    }
    StoreVersioning.withMaintainerLock(spark, dir, "spec.after") { () }
  }

  test("a crashed maintainer's expired lease is stolen, a fresh one is not") {
    val dir = tmpDir("lease")
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(dir, "_MAINTAINER_LOCK")
    assert(lock.createNewFile())
    // fresh debris (a live maintainer, as far as anyone can tell):
    // refused loudly
    intercept[RuntimeException] {
      StoreVersioning.withMaintainerLock(spark, dir, "spec.fresh") { () }
    }
    // expired debris (a crashed maintainer): stolen, op proceeds
    assert(lock.setLastModified(
      System.currentTimeMillis() - StoreVersioning.LeaseMs - 60000))
    var ran = false
    StoreVersioning.withMaintainerLock(spark, dir, "spec.stale") { ran = true }
    assert(ran)
    assert(!lock.exists(), "the stolen-then-released lease must be gone")
  }

  test("a takedown with uncastable ids fails loudly in both stores") {
    val sp = spark; import sp.implicits._
    // shared helper: non-castable and null ids both refuse
    intercept[IllegalArgumentException] {
      StoreVersioning.requireLongIds(
        Seq("7", "not-an-id").toDF("doc_id"), "corpus_id")
    }
    intercept[IllegalArgumentException] {
      StoreVersioning.requireLongIds(
        Seq(Some(7L), None).toDF("doc_id"), "corpus_id")
    }
    // castable ids pass through, deduped
    val ok = StoreVersioning.requireLongIds(
      Seq("7", "7", "9").toDF("doc_id"), "corpus_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ok == Seq(7L, 9L))
    // end-to-end: the store's delete refuses before any tombstone lands
    val dir = tmpDir("loud")
    val kept = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    DedupStore.save(kept, dir)
    intercept[IllegalArgumentException] {
      DedupStore.delete(Seq("doc-1").toDF("doc_id"), dir)
    }
    Dedup.clearShingleCache()
    val root = StoreVersioning.requireRoot(spark, dir)
    assert(!new java.io.File(s"$root/deletes").exists(),
      "a refused takedown must file NO tombstones")
  }

  test("dedup-store stats track the build/append/delete/compact lifecycle") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("dstats")
    def docRange(lo: Long, hi: Long) =
      sp.range(lo, hi).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 8).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 97)): _*).as("text"))
    DedupStore.save(docRange(0, 40), dir)
    def stat(name: String): Long =
      DedupStore.stats(spark, dir).select(col(name)).head.getLong(0)
    assert(stat("n_ingests") == 1)
    assert(stat("n_docs") == 40 && stat("n_live_docs") == 40)
    assert(stat("n_tombstoned") == 0)
    assert(stat("n_grams") > 0)
    val filesAfterBuild = stat("n_gram_files")
    DedupStore.append(docRange(40, 60), dir, "day1")
    assert(stat("n_ingests") == 2)
    assert(stat("n_docs") == 60)
    assert(stat("n_gram_files") > filesAfterBuild,
      "an append must land new files — the fragmentation the stats expose")
    DedupStore.delete(Seq(5L, 45L).toDF("doc_id"), dir)
    assert(stat("n_tombstoned") == 2)
    assert(stat("n_live_docs") == 58)
    val v = stat("version")
    DedupStore.compact(spark, dir)
    Dedup.clearShingleCache()
    assert(stat("version") > v, "compaction commits a fresh version")
    assert(stat("n_ingests") == 1 && stat("n_tombstoned") == 0)
    assert(stat("n_docs") == 58 && stat("n_live_docs") == 58)
  }

  test("auto-maintenance compacts exactly when the stats say so") {
    val sp = spark; import sp.implicits._
    // the pure decision
    assert(!StoreMaintenance.shouldCompact(100, 10, 3, 0.1, 16))
    assert(StoreMaintenance.shouldCompact(100, 11, 3, 0.1, 16))
    assert(StoreMaintenance.shouldCompact(100, 0, 17, 0.1, 16))
    assert(!StoreMaintenance.shouldCompact(0, 0, 1, 0.1, 16),
      "an empty store never compacts on ratio")
    // end to end on a real store: healthy → no-op; tombstone-heavy →
    // compacts and the stats come back clean
    val dir = tmpDir("auto")
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    IvfIndex.save(e, dir, nCells = 4)
    def stat(name: String): Long =
      IvfIndex.stats(spark, dir).select(col(name)).head.getLong(0)
    val v0 = stat("version")
    assert(!StoreMaintenance.maintain(IvfIndex, spark, dir))
    assert(stat("version") == v0, "a healthy store must not be rewritten")
    // retract >10% of the corpus
    val n = e.count()
    IvfIndex.delete(sp.range(0, n / 5).select(col("id").as("vec_id")), dir)
    assert(StoreMaintenance.maintain(IvfIndex, spark, dir))
    assert(stat("version") > v0)
    assert(stat("n_tombstoned") == 0 && stat("n_vectors") == n - n / 5)
    assert(!StoreMaintenance.maintain(IvfIndex, spark, dir),
      "a freshly compacted store must decide no-op")
  }

  test("ivf-index stats track the lifecycle and per-cell fragmentation") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("istats")
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    IvfIndex.save(e.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    def stat(name: String): Long =
      IvfIndex.stats(spark, dir).select(col(name)).head.getLong(0)
    assert(stat("n_cells") == 4 && stat("n_ingests") == 1)
    val nEven = e.filter(col("vec_id") % 2 === 0).count()
    assert(stat("n_vectors") == nEven && stat("n_live_vectors") == nEven)
    val filesAfterBuild = stat("n_vector_files")
    assert(filesAfterBuild >= 4, "one file per cell at minimum")
    IvfIndex.append(e.filter(col("vec_id") % 2 === 1), dir, "odd")
    assert(stat("n_ingests") == 2)
    assert(stat("n_vectors") == e.count())
    assert(stat("n_vector_files") > filesAfterBuild)
    IvfIndex.delete(Seq(100L, 101L).toDF("vec_id"), dir)
    assert(stat("n_tombstoned") == 2)
    assert(stat("n_live_vectors") == e.count() - 2)
    IvfIndex.compact(spark, dir)
    assert(stat("n_ingests") == 1 && stat("n_tombstoned") == 0)
    assert(stat("n_vectors") == e.count() - 2)
    assert(stat("n_vector_files") <= filesAfterBuild,
      "compaction must re-bound the file count to ~one per cell")
  }

  test("recommendIvfPq walks ok -> compact -> rebuild across the lifecycle") {
    val sp = spark; import sp.implicits._
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    def rec(dir: String,
        corpus: Option[org.apache.spark.sql.DataFrame] = None,
        margin: Double = 0.35) = {
      val r = StoreMaintenance.recommend(IvfPqStore, spark, dir, corpus,
        margin)
        .head()
      (r.getString(0), r.getString(1))
    }
    // healthy fresh store, geometry inside the margin → ok
    val dir = tmpDir("rec")
    try {
      IvfPqStore.save(e, dir, nCells = 16)
      assert(rec(dir)._1 == "ok", rec(dir))
      // same store, same corpus lineage → still ok (no false drift)
      assert(rec(dir, corpus = Some(e))._1 == "ok")
      // a RE-LAID-OUT corpus with identical rows (the chained-
      // warehouse shape: fresh part files every scheduled run) is NOT
      // drift — the listing fingerprint mismatches, the content
      // fingerprint decides, and `action: auto` converges instead of
      // rebuilding every night over the same rows (r16 ADVICE)
      val moved = java.nio.file.Files
        .createTempDirectory("graft_rec_corpus").toString
      e.write.mode("overwrite").parquet(s"$moved/embeddings.parquet")
      val newCorpus = spark.read
        .parquet(s"$moved/embeddings.parquet")
      assert(rec(dir, corpus = Some(newCorpus))._1 == "ok",
        rec(dir, corpus = Some(newCorpus)))
      // a corpus whose CONTENT moved on → rebuild on drift (rows
      // dropped here; additions, edits and reorders hash differently
      // the same way)
      val shrunk = newCorpus.filter(col("vec_id") % 7 =!= 0)
      val (what, why) = rec(dir, corpus = Some(shrunk))
      assert(what == "rebuild" && why.contains("drift"), (what, why))
      // >10% tombstones → compact (geometry is fine, rows are dead)
      val n = e.count()
      IvfPqStore.delete(sp.range(0, n / 5).select(col("id").as("vec_id")),
        dir)
      assert(rec(dir)._1 == "compact", rec(dir))
    } finally Pq.clearCodebookCache()
    // degraded geometry → rebuild on the sampled gap, compaction
    // explicitly NOT recommended (it cannot fix a bad codebook)
    val badDir = tmpDir("recbad")
    try {
      IvfPqStore.save(e, badDir, nCells = 4, m = 2, kCodes = 2)
      val (what, why) = rec(badDir, margin = 0.05)
      assert(what == "rebuild" && why.contains("gap"), (what, why))
    } finally Pq.clearCodebookCache()
    // the family siblings share the contract: PQ carries the gap
    // probe (same frozen-codebook exposure), IVF and dedup only
    // lineage drift + fragmentation
    val pqDir = tmpDir("recpq")
    try {
      PqStore.save(e, pqDir)
      val r = StoreMaintenance.recommend(PqStore, spark, pqDir,
        corpus = Some(e)).head()
      assert(r.getString(0) == "ok", r.toString)
      // degraded PQ geometry fires the gap trigger here too
      val badPq = tmpDir("recpqbad")
      PqStore.save(e, badPq, m = 2, kCodes = 2)
      val rb = StoreMaintenance.recommend(PqStore, spark, badPq,
        margin = 0.05).head()
      assert(rb.getString(0) == "rebuild" &&
        rb.getString(1).contains("gap"), rb.toString)
    } finally Pq.clearCodebookCache()
    val ivfDir = tmpDir("recivf")
    IvfIndex.save(e, ivfDir, nCells = 4)
    assert(StoreMaintenance.recommend(IvfIndex, spark, ivfDir,
      corpus = Some(e)).head().getString(0) == "ok")
    val docs = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
    val dedupDir = tmpDir("recdedup")
    DedupStore.save(docs, dedupDir)
    Dedup.clearShingleCache()
    assert(StoreMaintenance.recommend(DedupStore, spark, dedupDir,
      corpus = Some(docs)).head().getString(0) == "ok")
  }

  test("concurrent stealers of an expired lease: at most one maintainer inside") {
    // N maintainers all observe the SAME expired lease and race the
    // steal, REPEATEDLY — the hole this pins is a sub-millisecond
    // interleaving, so a single race is a coin flip (the r18
    // rename-based steal survived many single-shot runs before one
    // tripped it in round 20: stealer B's staleness read predated
    // stealer A's steal, so B renamed away the FRESH lock A had just
    // re-created, "cleared the debris", and both were inside at
    // once). The r20 steal-marker protocol serializes the clearing
    // step itself; occupancy may never exceed 1 in ANY round.
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dir = tmpDir("stealrace")
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(dir, "_MAINTAINER_LOCK")
    var anySteal = false
    for (round <- 1 to 20) {
      assert(lock.createNewFile(), s"round $round: stale lock fixture")
      assert(lock.setLastModified(
        System.currentTimeMillis() - StoreVersioning.LeaseMs - 60000))
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val go = new CountDownLatch(1)
      val attempts = (1 to 8).map { i =>
        Future {
          go.await()
          try {
            StoreVersioning.withMaintainerLock(spark, dir,
              s"spec.steal$round.$i") {
              val now = inside.incrementAndGet()
              maxInside.getAndUpdate(m => math.max(m, now))
              Thread.sleep(20)
              inside.decrementAndGet()
            }
            true
          } catch { case e: RuntimeException
              if e.getMessage.contains("another maintainer") => false }
        }
      }
      go.countDown()
      val outcomes = Await.result(Future.sequence(attempts), 60.seconds)
      anySteal ||= outcomes.contains(true)
      assert(maxInside.get() <= 1,
        s"round $round: mutual exclusion violated: ${maxInside.get()} " +
          "maintainers were inside the critical section at once")
      // whoever won released on exit; remove any leftover for the next
      // round's fixture (nobody may have won a given round — a fresh
      // maintainer can beat the marker holder to the freed path and
      // that is fine, it released too)
      lock.delete()
    }
    assert(anySteal, "an expired lease must be stealable by someone")
    StoreVersioning.withMaintainerLock(spark, dir, "spec.after") { () }
  }

  test("a legacy pre-ingest IvfIndex root refuses maintenance with 'rebuild required'") {
    val sp = spark; import sp.implicits._
    // construct a round-13-era store by hand: vectors partitioned by
    // cell ONLY, no _META sidecar, committed marker present — the
    // exact artifact a layout change would otherwise corrupt (append's
    // dynamic overwrite would mix (ingest, cell) dirs under cell= ones
    // and partition discovery would fail or lie)
    val dir = tmpDir("legacy")
    val root = s"$dir/v1"
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    val assigned = Similarity.withNorm(e)
      .withColumn("cell", (col("vec_id") % 4).cast("int"))
    assigned.select(col("vec_id"), col("v"), col("norm"), col("cell"))
      .write.partitionBy("cell").parquet(s"$root/vectors")
    Similarity.withNorm(e).filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("v"), x => x.cast("double")).as("cvec"))
      .write.parquet(s"$root/centroids")
    new java.io.File(root, "_COMMITTED").createNewFile()
    def mustRefuse(body: => Any): Unit = {
      val err = intercept[IllegalArgumentException](body)
      assert(err.getMessage.contains("rebuild required"),
        s"wrong refusal: ${err.getMessage}")
    }
    mustRefuse(IvfIndex.append(e.limit(5), dir, "day1"))
    mustRefuse(IvfIndex.stats(spark, dir))
    mustRefuse(IvfIndex.compact(spark, dir))
    // QUERIES refuse too (round 16): a pre-_META root predates the
    // unit-sphere quantizer, so ranking normalized queries against its
    // raw-space centroids would silently lose partial-probe recall —
    // the geometry gate turns that into the same loud rebuild story
    val q = e.limit(2).select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    mustRefuse(IvfIndex.query(spark, dir, q, k = 1, nProbe = 4).count())
    // and save() IS the migration: a fresh version commits layout v2
    // (+ the geometry convention) beside the legacy one, and both
    // maintenance and queries work again
    IvfIndex.save(e, dir, nCells = 4)
    IvfIndex.append(e.limit(0), dir, "day1")
    val s = IvfIndex.stats(spark, dir).head()
    assert(s.getString(s.fieldIndex("layout")) == "2")
    assert(IvfIndex.query(spark, dir, q, k = 1, nProbe = 4).count() > 0)
  }

  test("a mismatched _META geometry refuses queries and maintenance (rebuild required)") {
    // a committed root whose _META names a DIFFERENT quantizer
    // convention: the forward-compat half of the geometry gate — a
    // future convention change must refuse by string mismatch, never
    // silently rank against centroids fitted under another rule
    val e = graft.engine.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = tmpDir("geom_drift")
    IvfIndex.save(e, dir, nCells = 4)
    val root = StoreVersioning.requireRoot(spark, dir)
    val meta = StoreVersioning.metaOf(spark, root)
    assert(meta.get("geometry").contains(
      StoreVersioning.UnitSphereGeometry), meta.toString)
    StoreVersioning.writeMeta(spark, root,
      (meta + ("geometry" -> "raw-space-0")).toSeq.sortBy(_._1))
    def mustRefuse(body: => Any): Unit = {
      val err = intercept[IllegalArgumentException](body)
      assert(err.getMessage.contains("rebuild required") &&
        err.getMessage.contains("raw-space-0"),
        s"wrong refusal: ${err.getMessage}")
    }
    val q = e.limit(2).select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    mustRefuse(IvfIndex.query(spark, dir, q, k = 1, nProbe = 4).count())
    mustRefuse(IvfIndex.stats(spark, dir))
    mustRefuse(IvfIndex.append(e.limit(1), dir, "day1"))
    // restore for hygiene (tmp dir, but keep the fixture consistent)
    StoreVersioning.writeMeta(spark, root, meta.toSeq.sortBy(_._1))
    assert(IvfIndex.query(spark, dir, q, k = 1, nProbe = 4).count() > 0)
  }
}
