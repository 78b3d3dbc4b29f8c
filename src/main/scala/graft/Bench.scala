package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints the full per-query
  * JSON line (also written to SPARK_GRAFT_BENCH_OUT, default
  * `bench_out.json`, so the artifact survives stdout log interleaving)
  * followed by a compact ≤200-byte summary line LAST — the summary is
  * what fits the driver's stdout-tail window (`renderSummary`).
  *
  * Honesty contract (round-7 rework, round-9 interleave):
  *   - a query that THROWS is reported in an `"errors"` object and the
  *     process exits nonzero — a broken query can never masquerade as
  *     a fast one;
  *   - timings are median-of-3 with the reps PASS-INTERLEAVED across
  *     the whole suite (see `runAll`) — robust both to one GC pause
  *     per query and to a single multi-minute host transient, which
  *     back-to-back reps let poison a whole contiguous query block
  *     (the round-8 artifact's `x_embed_quantize`→`x_fingerprint*`
  *     7–13× ghost regression);
  *   - SPARK_GRAFT_BENCH_ACTION=materialize drives each plan with a
  *     noop-datasource write instead of count(): count() lets Spark
  *     prune a grouping-less aggregate's real work (an agg-only query
  *     can satisfy count()=1 without computing the aggregates), the
  *     noop write forces every output column to be evaluated.
  *
  * Reading the numbers: legs share the session's memos, which
  * persist across passes. The medians of `x_dedup_ngram_jaccard` and
  * `x_dedup_source_matrix` therefore time a hit in `Dedup.pairCache`
  * (the verified near-dup pair set that an earlier leg or pass
  * computed), not the cost of those queries run alone. Compare them
  * across rounds only as memo-hit legs.
  *
  * Warm legs now reuse more of the generated classes earlier passes
  * compiled: [[graft.engine.Sessions.configure]] sizes Spark's codegen
  * cache to 512 classes (Spark's default is 100). One pass over every
  * leg still needs more than 512, so part of each leg's classes is
  * evicted before its next pass: at sf0.001 on 4 vCPUs a warm pass
  * compiled ~1,420 classes, against ~2,000 at the default. A
  * `tools/bench_diff.py` comparison against an artifact recorded
  * before that (`BENCH_r20.json` and earlier) therefore moves warm
  * medians for a reason outside the operators.
  */
object Bench {

  /** One benched query: median wall seconds over `reps` successful
    * runs, or the failure message of the first throwing run. `passes`
    * keeps the raw per-pass vector (run order): the round-12 artifact
    * published a 15 s median for a 3 s-warm query and the single
    * median made cold-fit/churn contamination invisible — the vector
    * is the evidence that lets a later reader attribute it.
    */
  final case class QResult(name: String, secs: Option[Double], err: Option[String],
      passes: Vector[Double] = Vector.empty)

  /** Drive the full plan with every output column evaluated: a
    * noop-datasource write consumes each row's columns on the
    * executors with no sink cost and no driver transfer.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Lower-median: the middle run for odd sizes, the BETTER of the
    * two middles for even sizes — so reps=2 degrades to the old
    * min-of-2 behavior rather than reporting the worse run.
    */
  private def median(xs: Seq[Double]): Double =
    xs.sorted.apply((xs.size - 1) / 2)

  /** A JSON string literal from an arbitrary (exception) message:
    * truncate the RAW text first so no escape pair is ever split,
    * then escape backslash/quote and strip control characters
    * (tabs/CRs in JVM messages are illegal inside JSON strings).
    */
  private def jsonString(raw: String): String =
    "\"" + raw.take(300)
      .map {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => " "
        case c => c.toString
      }.mkString + "\""

  /** Time one query: `reps` timed runs, median. The FIRST exception
    * aborts the query's remaining reps and is reported verbatim —
    * never swallowed (a bench-only breakage, e.g. an OOM at a larger
    * SF than CORRECTNESS runs, must turn the bench red).
    */
  def runOne(name: String, reps: Int, action: DataFrame => Unit)(
      build: => DataFrame): QResult =
    try {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        action(build)
        (System.nanoTime() - t0) / 1e9
      }
      QResult(name, Some(median(times)), None, times.toVector)
    } catch {
      case e: Throwable =>
        QResult(name, None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }

  /** The interleaved core: `reps` full passes over the thunk list in
    * the GIVEN order, each leg's median taken ACROSS passes.
    * Back-to-back per-leg reps (the pre-round-9 shape) let a single
    * multi-minute host transient poison all reps of a contiguous
    * block — median-of-3 cannot reject a transient longer than one
    * leg's reps. With passes minutes apart, a transient inflates at
    * most one of each leg's samples and the median holds. The
    * round-10 change routes EVERY timed leg through here — including
    * the headline pipeline leg, whose 3 back-to-back reps the round-9
    * artifact let one late transient poison into a 31× phantom.
    *
    * A leg that throws in ANY pass is reported as an error (no
    * timing) and skipped in the remaining passes — a broken leg can
    * never masquerade as fast.
    */
  def runThunks(thunks: Seq[(String, () => Unit)], reps: Int): Seq[QResult] = {
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val errs = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to reps; (name, fn) <- thunks if !errs.contains(name))
      try {
        val t0 = System.nanoTime()
        fn()
        times.update(name,
          times.getOrElse(name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          errs(name) = s"${e.getClass.getName}: ${e.getMessage}"
      }
    thunks.map { case (name, _) =>
      errs.get(name) match {
        case Some(m) => QResult(name, None, Some(m))
        case None    => QResult(name, Some(median(times(name))), None, times(name))
      }
    }
  }

  /** Run a query map (name-sorted) through the interleaved core; pure
    * over the inputs so the error path is spec-testable without a
    * full bench.
    */
  def runAll(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int, action: DataFrame => Unit): Seq[QResult] =
    runThunks(
      queries.sortBy(_._1).map { case (name, fn) =>
        name -> (() => action(fn(spark, sfDir)))
      }, reps)

  /** Suite cold total: each leg's FIRST pass summed — what a fresh
    * JVM pays once (fits, file listing, codegen), the number host-
    * noise attribution compares against `totalWarm` without a manual
    * tail parse.
    */
  def totalCold(results: Seq[QResult]): Double =
    results.flatMap(_.passes.headOption).sum

  /** Suite warm total: each leg's best post-first pass summed (the
    * steady-state cost; a leg with a single pass contributes that
    * pass).
    */
  def totalWarm(results: Seq[QResult]): Double =
    results.map(r => r.passes.drop(1) match {
      case rest if rest.nonEmpty => rest.min
      case _                     => r.passes.headOption.getOrElse(0.0)
    }).sum

  /** The one JSON line. Field layout is upward-compatible with prior
    * rounds (`metric/value/unit/queries/sf/pipeline_*`); adds
    * `"action"`, `"errors"`, `"status"`, (round 13) `"passes"` —
    * the raw per-pass time vector per query, run order, so the
    * published median can always be audited for cold-fit or
    * cross-query cache-churn contamination (the r12
    * `x_dedup_embedding_pq` 15 s-median / 3 s-warm incident) — and
    * (round 14) `"total_cold"`/`"total_warm"`, the parsed split of
    * that attribution.
    */
  def renderJson(results: Seq[QResult], sfDir: String, actionName: String,
      pipelineRows: Long, pipelineSec: Double): String = {
    val ok = results.filter(_.secs.isDefined)
    val qs = ok.map { r => "\"" + r.name + "\":" + f"${r.secs.get}%.3f" }
      .mkString("{", ",", "}")
    val passes = ok.map { r =>
      "\"" + r.name + "\":" + r.passes.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.flatMap(r => r.err.map(m =>
        "\"" + r.name + "\":" + jsonString(m)))
      .mkString("{", ",", "}")
    val total = ok.flatMap(_.secs).sum
    val status = if (results.exists(_.err.isDefined)) "error" else "ok"
    val rowsPerSec =
      if (pipelineSec > 0) (pipelineRows / pipelineSec).round else 0L
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","action":"$actionName","status":"$status","total_cold":${totalCold(ok)}%.3f,"total_warm":${totalWarm(ok)}%.3f,"queries":$qs,"passes":$passes,"errors":$errs,"sf":"$sfDir","pipeline_rows":$pipelineRows,"pipeline_rows_per_sec":$rowsPerSec}"""
  }

  /** A compact (≤200-byte) summary of the same run, printed LAST.
    *
    * The full JSON line above is ~3 kB but the driver keeps only a
    * ~2.2 kB stdout tail, so for 8 rounds the line's head
    * (`"metric":"total",...`) was always truncated and the driver
    * recorded `parsed: null`. Printing this headline-only object as
    * the final stdout line guarantees the tail window always contains
    * one complete parseable JSON object; the full per-query map still
    * lands in the `SPARK_GRAFT_BENCH_OUT` file artifact.
    */
  def renderSummary(results: Seq[QResult], pipelineRowsPerSec: Long): String = {
    val ok = results.filter(_.secs.isDefined)
    val total = ok.flatMap(_.secs).sum
    val status = if (results.exists(_.err.isDefined)) "error" else "ok"
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","status":"$status","total_warm":${totalWarm(ok)}%.3f,"n_queries":${results.size},"n_errors":${results.size - ok.size},"pipeline_rows_per_sec":$pipelineRowsPerSec}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val actionName = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")
    val action: DataFrame => Unit = actionName match {
      case "materialize" => materialize
      case _             => df => { df.count(); () }
    }
    val spark = graft.engine.Sessions.local()
    // warm the JVM + file-listing/codegen paths so the first measured
    // query reflects steady-state, not session startup
    graft.engine.Tables.names.foreach(n =>
      graft.engine.Tables.table(spark, sfDir, n).count())

    // headline BASELINE comparison: ingest -> SQL transform -> sink
    // load of the 100k-row (at sf0.1) events table, the analog of the
    // reference's "100K+ rows end-to-end" metric (BASELINE.md)
    val events = graft.engine.Tables.table(spark, sfDir, "events")
    @volatile var pipelineRows = 0L
    def pipelineOnce(): Unit = {
      val sinkDir = java.nio.file.Files.createTempDirectory("bench-sink").toString
      pipelineRows = graft.engine.Engine.withSqlOver(spark, events, "events",
        """SELECT event_id, user_id, event_type, value,
          |  get_json_object(props, '$.k') AS k_val FROM events""".stripMargin) { out =>
        new graft.writer.FileWriter(s"$sinkDir/events_out")
          .write(out, graft.writer.WriteMode.Append).rowsWritten
      }
    }
    // fixed-cost REFERENCE leg (the noise normalizer): a constant
    // local-relation aggregate — independent of the corpus, of every
    // graft operator, and of any code this repo changes round to
    // round — so its cross-round ratio measures HOST noise alone.
    // tools/bench_diff.py divides every common-leg ratio by this
    // leg's ratio, making the documented ~10% uniform ambient-noise
    // window on this VM read as 1.0x machine-decidably, instead of
    // needing hand-run repeat attribution. Sized ~0.5 s: long enough
    // to sample the noise mode, too short to distort totals.
    def refFixed(): DataFrame = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64}
      spark.range(0L, 20L * 1000 * 1000, 1L, 32)
        .select((org.apache.spark.sql.functions.pmod(col("id"), org.apache.spark.sql.functions.lit(8192L))).as("b"),
          xxhash64(col("id")).as("h"))
        .groupBy(col("b")).agg(sum(col("h")).as("s"))
    }
    // IO-shaped REFERENCE leg (round 18): the r17 close-out caught a
    // host-noise mode the CPU-bound zz_ref_fixed cannot see —
    // shuffle-heavy legs inflated ~1.1x across repeats while the
    // range-based reference held 0.98x. This is the missing probe: a
    // fixed FULL-COLUMN parquet scan (real bytes off the warehouse,
    // no pruning) pushed through ONE wide shuffle of the whole
    // relation, so its cross-round ratio tracks the disk/shuffle-IO
    // noise mode specifically. Like zz_ref_fixed it goes nowhere near
    // a graft operator: both sides of a round diff run the identical
    // plan over the identical driver-generated parquet, so no repo
    // change can move it — only the host can. bench_diff.py reports
    // each leg normalized by BOTH references and gates on the
    // geometric mean of the clamped factors (per-leg best-match
    // would mask a real regression behind the mismatched reference's
    // noise — see the bench_diff docstring), closing the "CPU ref
    // holds 1.0x while every IO leg inflates" blind spot.
    def refScan(): DataFrame = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      // the aggregate consumes a hash over EVERY column, computed
      // ABOVE the repartition: column pruning therefore cannot shrink
      // either the scan (all columns reach the hash) or the shuffle
      // (the exchange sits directly over the scan, carrying full
      // rows) — a count(1) here let Catalyst prune the probe down to
      // one INT64 column and the leg stopped measuring real bytes
      li.repartition(32, col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(xxhash64(li.columns.map(col): _*)).as("s"))
    }
    // the pipeline leg runs INSIDE the interleaved pass loop — its 3
    // reps land minutes apart like every query's, so one late host
    // transient can no longer poison all of them (the round-9
    // artifact's 17.6 s-for-a-0.6 s-pipeline phantom); it reports
    // through the same honesty contract (errors object, nonzero exit)
    val thunks = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => name -> (() => action(fn(spark, sfDir)))
    } :+ ("x_pipeline_100k_load" -> (() => pipelineOnce())) :+
      ("zz_ref_fixed" -> (() => action(refFixed()))) :+
      ("zz_ref_scan" -> (() => action(refScan())))
    val withPipeline = runThunks(thunks, reps = 3)
    val pipelineResult =
      withPipeline.find(_.name == "x_pipeline_100k_load").get
    // a leg that errored in any pass must not report a prior pass's
    // row count next to its error — zero the rows like the timing
    val loaded = if (pipelineResult.err.isDefined) 0L else pipelineRows
    val pipelineSec = pipelineResult.secs.getOrElse(0.0)
    val line = renderJson(withPipeline, sfDir, actionName, loaded, pipelineSec)
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    val rowsPerSec =
      if (pipelineSec > 0) (loaded / pipelineSec).round else 0L
    val failed = withPipeline.count(_.err.isDefined)
    // stop BEFORE the summary: Spark's shutdown chatter must not land
    // after the compact line, so a bounded combined-output tail always
    // ends with one complete JSON object (see renderSummary)
    spark.stop()
    if (failed > 0)
      System.err.println(s"bench: $failed quer${if (failed == 1) "y" else "ies"} failed")
    println(renderSummary(withPipeline, rowsPerSec))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
