package graft.cli

import java.nio.file.{Files, Path}
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The `kind: stream` drain is a single-writer seam end to end — the
  * Structured-Streaming checkpoint, the delta-mirror landing, and the
  * `_graft_landed_max` sidecar read-modify-write — and production
  * schedulers overrun: a cron tick that outlives its interval hands
  * two drivers one checkpoint and a sidecar race (r17 verdict item 1).
  * The whole drain therefore runs under the maintainer lease keyed on
  * the stage's durable checkpoint dir: two racing drains → exactly one
  * proceeds and the loser's refusal NAMES the lock; a crashed drain's
  * lease self-expires; and the mirror invariant (already-landed files
  * byte-untouched) holds across the race.
  */
class StreamDrainLeaseSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import MirrorFiles.fileSnapshot

  test("two racing drains: exactly one proceeds, the loser names the lock, " +
      "the mirror survives byte-untouched") {
    val sp = spark
    val dir = Files.createTempDirectory("drain_lease")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse")
    val mirror = warehouse.resolve("incoming_preds")
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val ckpt = dir.resolve("ckpt")
    val docs = graft.engine.Tables.table(sp, sf, "documents")
    def batchDf(lo: Long, hi: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), col("text"))
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: score_incoming
         |    kind: stream
         |    stream: classify
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: $ckpt
         |    out_dir: ${dir.resolve("preds")}
         |    dest_table: incoming_preds
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse.toString))

    // drain 1 lands normally and takes+releases the lease on the way
    batchDf(0, 30).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    val run1Files = fileSnapshot(mirror)
    val mark1 = Files.readString(mirror.resolve("_graft_landed_max"))
    assert(run1Files.nonEmpty)
    assert(!Files.exists(ckpt.resolve("_MAINTAINER_LOCK")),
      "a completed drain must release its lease")

    // an overrunning tick: a live drain holds the lease while the next
    // scheduled run fires — the second drain must refuse (stage counted
    // failed), not double-drain the checkpoint or move the sidecar
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() =>
      graft.ops.StoreMaintenance.withLease(sp, ckpt.toString,
        "spec.live-drain") { held.countDown(); release.await() })
    holder.start()
    held.await()
    batchDf(30, 40).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 1,
      "a drain racing a live lease must fail its stage loudly")
    // the loser's refusal names the lock (the direct-lease probe shows
    // the exact message Main logs for the failed stage)
    val e = intercept[RuntimeException] {
      graft.ops.StoreMaintenance.withLease(sp, ckpt.toString,
        "spec.second-drain")(())
    }
    assert(e.getMessage.contains("_MAINTAINER_LOCK") &&
      e.getMessage.contains("spec.second-drain"))
    // nothing moved under the race: mirror files, sidecar, checkpoint
    // all exactly as drain 1 left them
    assert(fileSnapshot(mirror) == run1Files,
      "the losing drain must not touch the mirror")
    assert(Files.readString(mirror.resolve("_graft_landed_max")) == mark1,
      "the losing drain must not move the sidecar")
    release.countDown()
    holder.join()

    // the overrun resolved (holder finished): the next tick drains the
    // queued batch and every run-1 file is STILL byte-untouched — the
    // mirror delta invariant re-pinned under the race
    assert(Main.run(args, sp) == 0)
    val run3Files = fileSnapshot(mirror)
    run1Files.foreach { case (name, mtime) =>
      assert(run3Files.get(name).contains(mtime),
        s"run-1 file $name was rewritten by the post-race catch-up drain")
    }
    assert(sp.read.parquet(mirror.toString).count() == 40)
    assert(!Files.exists(ckpt.resolve("_MAINTAINER_LOCK")))
  }

  test("a crashed drain's lease self-expires: the next scheduled tick steals " +
      "the debris and drains") {
    val sp = spark
    val dir = Files.createTempDirectory("drain_lease_crash")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse")
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val ckpt = Files.createDirectories(dir.resolve("ckpt"))
    val docs = graft.engine.Tables.table(sp, sf, "documents")
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: score_incoming
         |    kind: stream
         |    stream: classify
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: $ckpt
         |    out_dir: ${dir.resolve("preds")}
         |    dest_table: incoming_preds
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse.toString))
    docs.filter(col("doc_id") < 20).select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(srcDir)

    // the debris of a crashed drain: a lock file older than the lease
    // horizon (2h >> 30min) — the next tick must steal it and proceed
    val lock = ckpt.resolve("_MAINTAINER_LOCK")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    assert(Main.run(args, sp) == 0,
      "an expired lease must not brick the scheduled drain")
    assert(sp.read.parquet(warehouse.resolve("incoming_preds").toString)
      .count() == 20)
    assert(!Files.exists(lock), "the stolen-then-released lease must be gone")
  }

  test("a healthy drain stops its own query: no 'Failed to cancel job group' " +
      "WARN, and max_files_per_trigger still cuts one batch per file") {
    val sp = spark
    val dir = Files.createTempDirectory("drain_quiet")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse")
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val preds = dir.resolve("preds")
    val docs = graft.engine.Tables.table(sp, sf, "documents")
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: score_incoming
         |    kind: stream
         |    stream: classify
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: ${dir.resolve("ckpt")}
         |    out_dir: $preds
         |    dest_table: incoming_preds
         |    max_files_per_trigger: 1
         |""".stripMargin)
    Seq((0L, 10L), (10L, 20L), (20L, 30L)).foreach { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val (failed, warns) = graft.LogCapture(
        org.apache.logging.log4j.Level.WARN)(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse.toString)), sp))
    assert(failed == 0)
    assert(!warns.exists(_.contains("Failed to cancel job group")),
      warns.mkString(" | "))
    val landed = sp.read.parquet(warehouse.resolve("incoming_preds").toString)
    assert(landed.count() == 30)
    assert(landed.select("graft_batch").distinct().count() == 3,
      "one micro-batch per source file")
  }
}
