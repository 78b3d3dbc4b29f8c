package etlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.Main
import graft.engine.Sessions

/** The benchmark's JVM entry point; see etlbench/README.md.
  *
  * {{{
  * BenchMain --workload NAME --seed N --seconds S --trace 0|1
  *           --work DIR --goldens FILE
  * BenchMain --record-goldens --work DIR --goldens FILE
  * }}}
  *
  * A closed loop with one client: each pipeline run starts when the
  * previous one returned. Prints `name value unit` lines, then one JSON
  * object with every metric it measured as its last line; exits 1 when
  * a module or stage failed or a landed table differs from its expected
  * digest.
  */
object BenchMain {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: Path = Paths.get("work"),
      goldens: Path = Paths.get("goldens.tsv"), recordGoldens: Boolean = false)

  private def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--goldens" :: v :: t => parse(t, o.copy(goldens = Paths.get(v)))
    case "--record-goldens" :: t => parse(t, o.copy(recordGoldens = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }

  /** Set-ups per measuring run; `setup_s` is their median. The first
    * starts Spark in a cold JVM and the next few are still JIT-warming,
    * so the median needs this many to sit among the warm ones.
    */
  private val SetupRepeats = 9
  /** Run counts per process: enough warm-up and samples for a median,
    * few enough that one process ends in about a minute on 4 cores (an
    * ETL run takes ~3 s warm, an analytics run ~15 s, and the cold
    * first run 2-5x that). ETL runs keep speeding up for several runs
    * after the cold one, so timed runs start after three warm-ups; every
    * process runs the same schedule, so each times about the same
    * stretch of that curve.
    */
  private final case class Policy(warmups: Int, minRuns: Int, minTraced: Int)
  private def policy(workload: String): Policy =
    if (workload == "analytics_refit") Policy(warmups = 0, minRuns = 1, minTraced = 1)
    else Policy(warmups = 3, minRuns = 4, minTraced = 2)
  /** Fixed analytics stage names, so every workload prints one set. */
  private val StageNames = Seq("knn_ivf", "embedding_pq", "ngram_prefix", "pq_rebuild")

  private val cores = Runtime.getRuntime.availableProcessors

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Sized to this machine: `local[nproc]`, nproc shuffle partitions;
    * Spark's scratch space stays under the work directory.
    */
  private def newSession(work: Path): SparkSession = {
    val spark = Sessions.configure(SparkSession.builder()
      .master(s"local[$cores]").appName("etlbench")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("spark-warehouse").toAbsolutePath.toString), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Full collection, a pause for Spark's ContextCleaner to drop the
    * shuffle and broadcast state it frees, and a second collection:
    * every run starts from the same heap, not from its predecessor's
    * garbage.
    */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }

  /** Old-generation occupancy right after a full collection: the live
    * set, not a pre-collection peak.
    */
  private def liveHeapMb(): Double = {
    settle()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unitAndValue: (String, Double)): Unit =
      values(name) = (unitAndValue._2, unitAndValue._1)
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    if (o.recordGoldens) recordGoldens(o)
    else {
      val (correct, attempted, failed, m) = measure(o)
      m.values.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6f $u") }
      println(json(correct, attempted, failed, m))
      System.out.flush()
      if (!correct) sys.exit(1)
    }
  }

  private def json(correct: Boolean, attempted: Long, failed: Long, m: Metrics): String = {
    val ms = m.values.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  private def measure(o: Opts): (Boolean, Long, Long, Metrics) = {
    require(Workloads.Names.contains(o.workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    val dir = o.work.resolve(o.workload)
    var spark: SparkSession = null
    var w: Workload = null
    val setups = (1 to (if (o.trace) 1 else SetupRepeats)).map { _ =>
      if (w != null) { w.close(); stopSession(spark) }
      // the previous set-up's garbage is not this one's cost
      System.gc()
      val t0 = System.nanoTime()
      spark = newSession(o.work)
      w = Workloads.setup(o.workload, dir, o.seed, spark, cores, o.goldens)
      val dt = secondsSince(t0)
      System.err.println(f"[etlbench] ${o.workload} setup: $dt%.3f s")
      dt
    }
    val counters = new SparkCounters(spark)
    var attempted, failed, landed = 0L
    var runs = 0
    /** One pipeline run; its landed tables are checked unless it is a
      * cold or warm-up run (those only count failed modules/stages).
      * Every run but a warm-up starts from a settled heap.
      */
    def oneRun(checked: Boolean, settled: Boolean = true)(body: => Int): Double = {
      w.beforeRun()
      if (settled) settle()
      val t0 = System.nanoTime()
      val f = body
      val dt = secondsSince(t0)
      runs += 1
      System.err.println(f"[etlbench] ${o.workload} run $runs: $dt%.3f s")
      val bad = if (!checked) 0 else {
        val (rows, bad) = w.check(spark)
        landed = rows
        bad
      }
      attempted += w.units
      failed += f + bad
      dt
    }
    def cliRun(checked: Boolean = true, settled: Boolean = true): Double =
      oneRun(checked, settled)(Main.run(w.args, spark))

    val m = new Metrics
    try {
      val codegen0 = counters.codegenSeconds
      val first = cliRun(checked = false)
      val firstCodegen = counters.codegenSeconds - codegen0
      (1 to policy(o.workload).warmups).foreach(_ =>
        cliRun(checked = false, settled = false))
      if (!o.trace) {
        val times = mutable.ArrayBuffer.empty[Double]
        while (times.sum < o.seconds || times.size < policy(o.workload).minRuns)
          times += cliRun()
        val heap = liveHeapMb()
        val runS = median(times.toSeq)
        m("setup_s") = "s" -> median(setups)
        m("run_s") = "s" -> runS
        m("run_samples") = "count" -> times.size.toDouble
        m("rows_per_s") = "1/s" -> ratio(landed, runS)
        m("live_heap_mb") = "MB" -> heap
      } else {
        val tr = new Tracer(spark)
        val untraced = mutable.ArrayBuffer.empty[Double]
        val perRun = mutable.ArrayBuffer.empty[Seq[(String, (Double, String))]]
        var elapsed = 0.0
        while (elapsed < o.seconds || perRun.size < policy(o.workload).minTraced) {
          val u = cliRun()
          untraced += u
          tr.run += 1
          val t = oneRun(checked = true) {
            counters.drained()
            val before = counters.total
            val plan0 = counters.planSeconds
            val cg0 = counters.codegenSeconds
            val c = tr.span("cli.run") { w.traced(spark, tr) }
            counters.drained()
            perRun += layerMetrics(tr, counters, c, counters.total - before,
              counters.planSeconds - plan0, counters.codegenSeconds - cg0, spark)
            0
          }
          elapsed += u + t
        }
        val tracedS = tr.spans.filter(_.parent == -1).map(_.seconds).toSeq
        perRun.head.zipWithIndex.foreach { case ((k, (_, unit)), i) =>
          m(k) = unit -> median(perRun.map(_(i)._2._1).toSeq)
        }
        m("engine.codegen_first_s") = "s" -> firstCodegen
        m("cli.first_run_s") = "s" -> first
        m("trace.runs") = "count" -> perRun.size.toDouble
        m("trace.overhead_frac") = "1" ->
          (ratio(median(tracedS), median(untraced.toSeq)) - 1)
        Files.writeString(o.work.resolve(s"spans-${o.workload}-seed${o.seed}.json"),
          tr.spansJson)
      }
      m("failed_frac") = "1" -> ratio(failed, attempted)
    } finally {
      w.close()
      stopSession(spark)
    }
    (failed == 0, attempted, failed, m)
  }

  /** Every per-layer metric of one traced run, by name. */
  private def layerMetrics(tr: Tracer, counters: SparkCounters, c: LayerCounts,
      work: Work, planS: Double, codegenS: Double,
      spark: SparkSession): Seq[(String, (Double, String))] = {
    val self = tr.selfSeconds(tr.run)
    def s(n: String) = self.getOrElse(n, 0.0)
    val stages = StageNames.flatMap { n =>
      val wk = tr.work(tr.run, s"stage.$n", counters)
      Seq(s"stage.$n.s" -> (s(s"stage.$n"), "s"),
        s"stage.$n.jobs" -> (wk.jobs.toDouble, "count"),
        s"stage.$n.tasks" -> (wk.tasks.toDouble, "count"))
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    (Seq(
      "config.s" -> (s("config"), "s"),
      "template.s" -> (s("template"), "s"),
      "http.fetch_s" -> (s("http"), "s"),
      "http.req_per_s" -> (ratio(c.httpRequests, s("http")), "1/s"),
      "http.max_inflight" -> (c.httpMaxInflight.toDouble, "count"),
      "http.requests" -> (c.httpRequests.toDouble, "count"),
      "http.pages" -> (c.httpPages.toDouble, "count"),
      "http.retries" -> (c.httpRetries.toDouble, "count"),
      "http.fetch_ratio" -> (ratio(c.httpPages, c.httpRequests), "1"),
      "http.mb" -> (c.httpBytes / 1e6, "MB"),
      "http.server_s" -> (c.httpServerS, "s"),
      "infer.s" -> (s("infer"), "s"),
      "infer.rows_per_s" -> (ratio(c.inferRows, s("infer")), "1/s"),
      "infer.jobs" -> (tr.work(tr.run, "infer", counters).jobs.toDouble, "count"),
      "engine.sql_s" -> (s("engine"), "s"),
      "engine.plan_s" -> (planS, "s"),
      "engine.codegen_s" -> (codegenS, "s"),
      "writer.s" -> (s("writer"), "s"),
      "writer.rows" -> (c.writerRows.toDouble, "count"),
      "writer.rows_per_s" -> (ratio(c.writerRows, s("writer")), "1/s"),
      "writer.files" -> (c.writerFiles.toDouble, "count"),
      "writer.mb" -> (c.writerBytes / 1e6, "MB")) ++ stages ++ Seq(
      "spark.jobs" -> (work.jobs.toDouble, "count"),
      "spark.tasks" -> (work.tasks.toDouble, "count"),
      "spark.task_cpu_s" -> (work.cpuNs / 1e9, "s"),
      "spark.gc_s" -> (work.gcMs / 1e3, "s"),
      "spark.shuffle_mb" -> (work.shuffleBytes / 1e6, "MB"),
      "spark.spill_mb" -> (work.spillBytes / 1e6, "MB"),
      "spark.cached_mb_end" -> (cachedMb, "MB"),
      "unattributed_s" -> (s("cli.run"), "s")))
  }

  /** Runs `analytics_refit` twice on every corpus variant and writes the
    * stage digests as goldens, refusing if the two runs disagree.
    */
  private def recordGoldens(o: Opts): Unit = {
    val spark = newSession(o.work)
    val lines = mutable.ArrayBuffer("# variant\tstage\tdigest")
    try (0 until Workloads.Analytics.Variants).foreach { v =>
      val w = Workloads.setup("analytics_refit", o.work.resolve(s"goldens-$v"), v,
        spark, cores, Paths.get("none")).asInstanceOf[Workloads.Analytics]
      val runs = (1 to 2).map { _ =>
        w.beforeRun()
        require(Main.run(w.args, spark) == 0, s"variant $v: a stage failed")
        w.digests(spark)
      }
      require(runs(0) == runs(1), s"variant $v: two runs landed different digests")
      runs(0).foreach { case (s, d) => lines += s"$v\t$s\t${d.render}" }
    } finally stopSession(spark)
    Files.writeString(o.goldens, lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size - 1} goldens to ${o.goldens}")
  }
}
