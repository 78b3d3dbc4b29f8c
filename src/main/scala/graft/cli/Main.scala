package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.config.PipelineConfig
import graft.engine.{Engine, Sessions}
import graft.http.HttpJsonSource
import graft.template.Templates
import graft.writer.{DataWriter, TargetSink, WriteMode}

/** Pipeline orchestrator CLI (SURVEY A30-A33).
  *
  * Mirrors the reference's `apitap -m DIR -y FILE` flow
  * (/root/reference/src/cmd/mod.rs:22-201): discover modules, render
  * templates (capturing sink + source), resolve config, fetch the HTTP
  * source, run the module SQL, load into the target. Targets resolve
  * through [[graft.writer.TargetSink]]; `--warehouse DIR` swaps in a
  * parquet sink per dest-table for driverless/local runs.
  */
object Main {

  private val log = LoggerFactory.getLogger(getClass)

  final case class Args(
      modulesDir: String = "",
      configPath: String = "",
      warehouse: Option[String] = None,
      warehouseFormat: String = "parquet",
      writeMode: WriteMode = WriteMode.Append,
      truncateFirst: Boolean = false,
      pgCopy: Boolean = false,
      logJson: Boolean = false,
      logLevel: Option[String] = None,
      pageSize: Long = 100,
      templateVars: Map[String, Any] = Map.empty,
      master: Option[String] = None)

  private[cli] def parseArgs(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case ("-m" | "--modules") :: v :: t => loop(a.copy(modulesDir = v), t)
      case ("-y" | "--yaml-config") :: v :: t => loop(a.copy(configPath = v), t)
      case "--warehouse" :: v :: t => loop(a.copy(warehouse = Some(v)), t)
      case "--warehouse-format" :: v :: t =>
        loop(a.copy(warehouseFormat = v), t)
      case "--write-mode" :: v :: t =>
        loop(a.copy(writeMode = WriteMode.parse(v)), t)
      case "--truncate-first" :: t => loop(a.copy(truncateFirst = true), t)
      // PG bulk fast path: append-mode flushes go through
      // COPY ... FROM STDIN instead of multi-row INSERT (same coercion
      // lattice, ~3x the live ingest rate; merge/upsert keep their
      // statement forms)
      case "--pg-copy" :: t => loop(a.copy(pgCopy = true), t)
      case "--log-json" :: t => loop(a.copy(logJson = true), t)
      case "--log-level" :: v :: t => loop(a.copy(logLevel = Some(v)), t)
      case "--page-size" :: v :: t => loop(a.copy(pageSize = v.toLong), t)
      // cluster deployment: same jar, master from flag/env instead of
      // the hard-coded local session (Sessions.resolveMaster)
      case "--master" :: v :: t => loop(a.copy(master = Some(v)), t)
      // template context for the module expression subset: repeated
      // --var k=v flags become {{ k }} / {% if k %} bindings ("true"/
      // "false" parse to booleans so truthiness branches work)
      case "--var" :: v :: t =>
        val (k, raw) = v.span(_ != '=')
        require(raw.startsWith("="), s"--var expects key=value, got '$v'")
        val value: Any = raw.drop(1) match {
          case "true" => true
          case "false" => false
          case other => other
        }
        loop(a.copy(templateVars = a.templateVars + (k -> value)), t)
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument '$other'")
    }
    val a = loop(Args(), argv.toList)
    require(a.modulesDir.nonEmpty, "--modules is required")
    require(a.configPath.nonEmpty, "--yaml-config is required")
    require(a.pageSize > 0, s"--page-size must be positive, got ${a.pageSize}")
    a
  }

  private def makeWriter(sink: Option[TargetSink], destTable: String,
      primaryKey: Seq[String], args: Args,
      schemaEvolution: Boolean = false): DataWriter =
    args.warehouse match {
      case Some(dir) =>
        new graft.writer.FileWriter(s"$dir/$destTable", args.warehouseFormat)
      case None =>
        sink.getOrElse(throw new IllegalArgumentException(
          s"no target resolved for '$destTable' and no --warehouse fallback"))
          .writer(destTable, primaryKey, schemaEvolution, args.pgCopy)
    }

  /** Delta landing for relation-producing stream stages on the
    * parquet file warehouse (replace semantics at append cost): the
    * stream's output relation is CUMULATIVE and its `graft_batch`
    * partitions are immutable once drained, so a mirror that already
    * landed batches 0..k only needs the batches AFTER k —
    * re-overwriting the whole history each scheduled run made the
    * sink work O(total season) per drain.
    *
    * EXTERNAL-READ CONTRACT (r18): `graft_batch` is a stable BIGINT
    * DATA column inside the mirror's parquet files — a cold reader
    * (fresh session, plain `spark.read.parquet`, any warehouse
    * consumer) sees exactly the type the stream relation carries and
    * a chained stage consumes. The landing MECHANISM is the separate
    * [[MirrorPartCol]] partition column (`graft_batch_part=<id>/`
    * dirs, value equal to `graft_batch`): partition-value inference
    * types it INT, but it exists only to give the delta landing
    * whole-partition overwrite targets — external readers ignore it,
    * chained reads drop it ([[run]]'s priorOutput). The previous
    * layout partitioned by `graft_batch` itself, which let partition
    * inference retype the RELATION's own column INT32 for external
    * readers while chained consumers saw LONG.
    *
    * Correctness over the optimization, structurally:
    *
    *  - The mirror is laid out in `graft_batch_part=<id>/` partition
    *    dirs and every landing writes WHOLE partitions (the
    *    BatchedParquetSink convention), so a replayed landing — a
    *    crash after the data committed but before the sidecar moved —
    *    rewrites identical partitions instead of appending
    *    duplicates. There is no state in which a re-run compounds
    *    rows.
    *  - The `_graft_landed_max` sidecar (an underscore file,
    *    invisible to parquet readers) carries a layout version, the
    *    high-water mark AND a GENERATION fingerprint: the file
    *    listing of the stream relation's lowest batch partition,
    *    which is immutable under appends and changes on ANY rebuild
    *    of the stream's outDir (fresh part files). A rebuilt stream
    *    whose new batch ids reach past the old mark therefore cannot
    *    silently leave old-generation partitions in the mirror — the
    *    fingerprint mismatch forces a full replace, as does a
    *    missing sidecar, a max batch below the mark, or a
    *    previous-version sidecar (so a legacy `graft_batch=`-laid
    *    mirror migrates to this layout through one static overwrite,
    *    never a mixed hybrid).
    */
  private[cli] val MirrorPartCol = "graft_batch_part"
  private[cli] def landStreamDelta(dest: String,
      out: org.apache.spark.sql.DataFrame): graft.writer.WriteStats = {
    import org.apache.spark.sql.functions.{col, max}
    val spark = out.sparkSession
    val batchCol = graft.streaming.BatchedParquetSink.BatchCol
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markPath = new org.apache.hadoop.fs.Path(s"$dest/_graft_landed_max")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val batchRe = (batchCol + "=(\\d+)").r
    def batchOf(p: String): Option[Long] =
      batchRe.findFirstMatchIn(p).map(_.group(1).toLong)
    val srcFiles = out.inputFiles
    val genFp: Option[String] =
      srcFiles.flatMap(batchOf).minOption.map { mb =>
        val listing = srcFiles.filter(f => batchOf(f).contains(mb)).sorted
        f"${java.util.Arrays.hashCode(listing.asInstanceOf[Array[AnyRef]])}%08x"
      }
    val srcMaxRow = out.agg(max(col("graft_batch"))).head()
    val srcMax = if (srcMaxRow.isNullAt(0)) None else Some(srcMaxRow.getLong(0))
    // the mark is honored ONLY when the generation fingerprint still
    // matches; anything else (missing sidecar, legacy single-token
    // sidecar, rebuilt stream) reconciles with a full replace
    val landedMax: Option[Long] =
      if (!fs.exists(markPath)) None
      else {
        val in = fs.open(markPath)
        val s = try new String(in.readAllBytes(), utf8).trim finally in.close()
        // "2 <hi> <fp>" is this layout's sidecar; anything else
        // (missing, corrupt, or the r17 two-token form whose mirror
        // is partitioned by graft_batch itself) reconciles in full —
        // the static overwrite is also what migrates a legacy layout
        s.split(' ') match {
          case Array("2", hi, fp) if genFp.contains(fp) => hi.toLongOption
          case _ => None
        }
      }
    def landPartitioned(df: org.apache.spark.sql.DataFrame,
        mode: String, obsName: String): graft.writer.WriteStats = {
      val obs = new org.apache.spark.sql.Observation(obsName)
      df
        // graft_batch stays IN the files (the external-read
        // contract); the duplicate under MirrorPartCol is what
        // partitionBy consumes as the overwrite key
        .withColumn(MirrorPartCol, col(batchCol))
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode("overwrite")
        // the mode is PINNED per write, never inherited from the
        // session (the DedupStore convention): a cluster-wide
        // `dynamic` default would turn the fingerprint-forced full
        // reconcile into a partial one that leaves old-generation
        // partitions alive, and a `static` default would turn the
        // delta into a full truncate
        .option("partitionOverwriteMode", mode)
        .partitionBy(MirrorPartCol).parquet(dest)
      graft.writer.WriteStats(obs.get("rows").asInstanceOf[Long])
    }
    val stats = (landedMax, srcMax) match {
      case (Some(lo), Some(hi)) if hi >= lo =>
        // only the new batch partitions move (partition pruning keeps
        // the outDir read to exactly those files), as ONE dynamic
        // partition-overwrite job — whole partitions rewrite, so a
        // replayed landing is idempotent, and an N-batch catch-up
        // after scheduler downtime is still a single job
        landPartitioned(out.filter(col(batchCol) > lo), "dynamic",
          "graft.delta.inc")
      case (_, Some(_)) =>
        // full mirror (re)build, in the same batch-partitioned layout
        // — ONE static overwrite job, no truncate window
        landPartitioned(out, "static", "graft.delta.full")
      case (_, None) =>
        // EMPTY relation (the no-op drain racing a not-yet-producing
        // source): a partitioned write of zero rows lands no
        // schema-carrying file at all and the mirror becomes
        // unreadable — write the flat empty parquet instead, which
        // keeps the full schema in its footer; the first real landing
        // rebuilds the partitioned layout with a full overwrite
        out.write.mode("overwrite").parquet(dest)
        graft.writer.WriteStats(0L)
    }
    (srcMax, genFp) match {
      case (Some(hi), Some(fp)) =>
        val o = fs.create(markPath, true)
        try o.write(s"2 $hi $fp".getBytes(utf8)) finally o.close()
      case _ => if (fs.exists(markPath)) { fs.delete(markPath, false); () }
    }
    stats
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    Logging.configure(args.logJson, args.logLevel)
    val spark: SparkSession = Sessions.deployment(args.master)
    val failed = run(args, spark)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Orchestrator loop; returns the number of failed modules.
    *
    * `getenv` resolves `username_env`/`password_env` credential
    * indirection; the default overlays a `.env` from the working
    * directory under the real environment, mirroring the reference
    * CLI's `dotenvy::dotenv()` startup (main.rs:11).
    */
  /** `syncStateOverride` is the test seam for incremental sync: the
    * default is the module target's own backend
    * ([[graft.writer.TargetSink.syncState]]); tests inject a
    * [[graft.writer.FileSyncState]] so the watermark round-trip runs
    * without a JDBC driver (the live suite pins the PG state SQL text
    * separately, via psql — the writer convention).
    */
  def run(args: Args, spark: SparkSession,
      getenv: String => Option[String] = graft.config.DotEnv.resolver(),
      syncStateOverride: Option[graft.writer.SyncState] = None): Int = {
    val cfg = PipelineConfig.loadFromPath(args.configPath)
    // one resolved sink per target name, so credentials resolve once
    val sinks = scala.collection.mutable.Map.empty[String, TargetSink]
    def sinkOf(name: String): TargetSink =
      sinks.getOrElseUpdate(name, TargetSink(cfg.target(name), getenv))

    // ---- startup validation: the YAML and the CLI args are BOTH known
    // right here, so every config hole they jointly create fails before
    // any module fetches or any stage computes — not after upstream
    // stages have already done their work.
    val chainedUpstreams = cfg.stages.flatMap(_.inputStage).toSet
    def isRelationStream(s: PipelineConfig.Stage): Boolean =
      s.kind == "stream" && StageRunner.streamLandsRelation(s.stream.get)
    def isRelationOutput(s: PipelineConfig.Stage): Boolean =
      s.kind == "query" || isRelationStream(s) ||
        (s.kind == "store" && s.action.contains("dedup"))
    val fileWh = args.warehouse.isDefined
    // a replace is SAFE (no empty-destination window on failure)
    // exactly when the writer path is transactional/atomic: the file
    // warehouse's single commit-protocol overwrite job, or a target
    // whose TargetSink.atomicReplace holds. An unknown sink name
    // resolves false here (no silent replace) and fails loudly when
    // its stage runs.
    def safeReplaceSink(s: PipelineConfig.Stage): Boolean = fileWh ||
      s.sink.exists(n => cfg.targets.exists(_.name == n) && sinkOf(n).atomicReplace)
    def resolvesReplace(s: PipelineConfig.Stage): Boolean =
      s.primaryKey.isEmpty && (
        s.writeMode.contains("replace") ||
          (s.writeMode.isEmpty && safeReplaceSink(s) && isRelationOutput(s) &&
            (chainedUpstreams.contains(s.name) || isRelationStream(s))))
    // chaining reads the upstream's landed relation back from the file
    // warehouse — enforced at startup, not when the consumer finally
    // runs (by then every upstream already did its work)
    cfg.stages.flatMap(_.inputStage).headOption.foreach { ref =>
      require(args.warehouse.isDefined,
        s"config declares input_stage '$ref' but no --warehouse is set: " +
          "chaining reads the upstream stage's landed relation from the " +
          "file warehouse")
      require(args.warehouseFormat == "parquet",
        s"config declares input_stage '$ref' but --warehouse-format is " +
          s"'${args.warehouseFormat}': chaining reads the landed " +
          "relation back, and only parquet preserves its schema")
    }
    // duplicate dest_table across stages is benign while every collider
    // appends (two maintenance stages sharing one audit-trail table);
    // the moment ANY collider resolves to replace, each of its runs
    // silently deletes whatever its siblings landed — refuse up front.
    // Collision is per PHYSICAL destination: with the file warehouse
    // every stage lands there; otherwise two stages collide exactly
    // when their sinks resolve to the same (kind, host, port,
    // database) — keying on the sink NAME alone would let two target
    // entries for the same database (different credentials/roles)
    // clobber each other right past the check
    def destKey(s: PipelineConfig.Stage): (String, String) = {
      val sink =
        if (fileWh) "warehouse"
        else s.sink.flatMap(n => cfg.targets.find(_.name == n))
          .map(t => s"${t.kind}|${t.host}|${t.port}|${t.database}")
          .getOrElse(s.sink.getOrElse(""))
      (sink, s.destTable)
    }
    cfg.stages.groupBy(destKey).foreach { case ((_, t), group) =>
      if (group.size > 1 && group.exists(resolvesReplace))
        throw new IllegalArgumentException(
          s"stages '${group.map(_.name).mkString("', '")}' all land on " +
            s"dest_table '$t' and at least one resolves to write_mode " +
            "replace, which would overwrite the others' rows on every " +
            "run — give each stage its own dest_table, or declare " +
            "write_mode append on all of them")
    }

    val t0 = System.nanoTime()
    var ok, failed = 0

    Templates.listSqlModules(args.modulesDir).foreach { module =>
      val mt0 = System.nanoTime()
      try {
        val text = Files.readString(Paths.get(s"${args.modulesDir}/$module"))
        val rendered = Templates.render(module, text, args.templateVars)
        val sourceName = rendered.source.getOrElse(
          throw new IllegalArgumentException(
            s"module $module declares no {{ use_source(...) }}"))
        val source = graft.http.OAuth2.applyAuth(cfg.source(sourceName), getenv)
        val sink = rendered.sink.map(sinkOf)
        val destTable = source.destTable

        log.info("module name={} source={} dest={}", module, sourceName, destTable)

        // incremental sync: read the stored high-water mark and thread
        // it into the request as the configured `since` parameter, so
        // a steady-state run fetches only the delta. File sinks are
        // refused here, not silently degraded: FileWriter maps Merge
        // to overwrite, which would replace the table with the delta.
        val incState = source.incremental.map { inc =>
          val st: graft.writer.SyncState = syncStateOverride.getOrElse {
            require(args.warehouse.isEmpty,
              s"source '${source.name}': incremental sync requires a keyed " +
                "warehouse target — the file warehouse overwrites on merge")
            sink.getOrElse(throw new IllegalArgumentException(
              s"no target resolved for incremental source '${source.name}'"))
              .syncState()
          }
          (st, inc, st.get(source.name))
        }
        val fetchSource = incState match {
          case Some((_, inc, Some(w))) =>
            log.info("incremental.since source={} {}={}", source.name,
              inc.sinceParam, w)
            source.copy(queryParams =
              source.queryParams :+ (inc.sinceParam -> w))
          case _ => source
        }

        // fetch once, cache: the SQL below may drive several actions —
        // the Spark analog of the reference's buffered replay channel
        // (fetcher.rs:653-727). Page size + TotalHint come from the
        // source config (page_size / total_*_pointer), CLI default
        // otherwise. The schema comes from the first 100 rows and every
        // row is parsed strictly against it: a row that does not fit
        // fails this module's first action, logged as [datatype] below.
        val sourceDf = HttpJsonSource.load(spark, fetchSource, args.pageSize).cache()
        try {
          val writer = makeWriter(sink, destTable, source.primaryKeyInDest.toSeq,
            args, source.schemaEvolution)
          if (args.truncateFirst) {
            log.info("sql.execute statement=truncate table={}", destTable)
            writer.truncate()
          }
          val mode = if (source.primaryKeyInDest.isDefined) WriteMode.Merge
            else args.writeMode
          val stats = Engine.runModule(spark, sourceDf, sourceName, destTable,
              rendered.sql) { out =>
            log.debug("sql.execute statement=module table={}", destTable)
            writer.write(out, mode)
          }
          // advance the watermark ONLY after the write landed: a
          // failed load must leave the old mark so the next run
          // re-fetches the same delta (at-least-once + keyed MERGE =
          // exactly-once landing). The new mark is the typed max of
          // (fetched cursor values, old mark) — `greatest` in the
          // column's own type, so numeric cursors never compare
          // lexicographically; an empty delta keeps the old mark.
          incState.foreach { case (st, inc, old) =>
            require(sourceDf.columns.contains(inc.cursorField),
              s"source '${source.name}': cursor_field '${inc.cursorField}' " +
                s"not in fetched columns ${sourceDf.columns.mkString(", ")}")
            import org.apache.spark.sql.functions.{greatest, lit, max}
            val c = org.apache.spark.sql.functions.col(inc.cursorField)
            val dt = sourceDf.schema(inc.cursorField).dataType
            val tracked = old
              .map(o => greatest(c, lit(o).cast(dt))).getOrElse(c)
            val row = sourceDf.agg(max(tracked).cast("string").as("w")).head()
            if (!row.isNullAt(0)) {
              st.put(source.name, row.getString(0))
              log.info("incremental.watermark source={} {}={}", source.name,
                inc.cursorField, row.getString(0))
            }
          }
          ok += 1
          log.info("module {} loaded {} rows into {} in {}ms", module,
            stats.rowsWritten.toString, destTable,
            ((System.nanoTime() - mt0) / 1e6).round.toString)
        } finally sourceDf.unpersist()
      } catch {
        case e: Exception =>
          failed += 1
          val classified = graft.errors.GraftError.from(e)
          log.error(s"module $module failed [${classified.category}]: ${e.getMessage}", e)
      }
    }
    // declarative analytics stages (dedup/curation/store lifecycle) —
    // run AFTER the HTTP→SQL modules in YAML order, through the same
    // writer stack and failure accounting, so one `apitap -m … -y …`
    // invocation carries a whole curation pipeline: ingest modules
    // land raw tables, stages clean/score/index them, every result
    // (including the stores' maintenance audit rows) lands on a
    // declared sink with MERGE idempotence when a primary key is set
    // `input_stage:` chaining resolver: a prior stage's landed output
    // is its file-warehouse relation — config validation already pins
    // the reference to an earlier stage, so the read sees data this
    // run landed (or a prior run's, for warm-started pipelines). JDBC
    // sinks have no readable path without a driver jar; refuse loudly.
    val stageByName = cfg.stages.map(s => s.name -> s).toMap
    val failedStages = scala.collection.mutable.Set.empty[String]
    def priorOutput(name: String): org.apache.spark.sql.DataFrame = {
      val prior = stageByName(name)
      // a failed upstream must poison its consumers: the warehouse may
      // still hold a PRIOR run's landed output, and silently feeding
      // stale upstream data downstream is worse than failing the chain
      require(!failedStages.contains(name),
        s"input_stage '$name' failed earlier in this run — refusing to " +
          "chain from its stale warehouse output")
      // with --warehouse set EVERY stage lands in the file warehouse
      // (makeWriter ignores sinks then), so a sinked upstream is still
      // readable here; chaining without a warehouse has no path at all
      val wh = args.warehouse.getOrElse(throw new IllegalArgumentException(
        s"input_stage '$name' requires the file warehouse (--warehouse)"))
      // chaining needs a SELF-DESCRIBING landed format: csv reads back
      // header-as-data with _c0.._cn string columns and json re-infers
      // (and can widen) types — either would silently feed the
      // downstream operator a differently-shaped relation than the
      // upstream computed
      require(args.warehouseFormat == "parquet",
        s"input_stage '$name' requires --warehouse-format parquet " +
          s"(got '${args.warehouseFormat}'): chaining reads the landed " +
          "relation back and only parquet preserves its schema")
      val df = spark.read.parquet(s"$wh/${prior.destTable}")
      // a relation-stream mirror carries graft_batch as a stable
      // BIGINT data column (the landStreamDelta external-read
      // contract); the MirrorPartCol partition column is the landing
      // mechanism only — drop it so chained consumers see exactly the
      // relation the stream computed. The cast branch remains for a
      // pre-r18 mirror (partitioned by graft_batch itself, inferred
      // INT) read before its first migrating landing.
      val batchCol = graft.streaming.BatchedParquetSink.BatchCol
      val noMech =
        if (df.columns.contains(MirrorPartCol)) df.drop(MirrorPartCol) else df
      if (noMech.columns.contains(batchCol))
        noMech.withColumn(batchCol, org.apache.spark.sql.functions
          .col(batchCol).cast("long"))
      else noMech
    }
    cfg.stages.foreach { stage =>
      val st0 = System.nanoTime()
      try {
        log.info("stage name={} kind={}", stage.name, stage.kind)
        // write-mode resolution (see Stage.writeMode and
        // resolvesReplace above): keyed stages MERGE; `replace` keeps
        // the destination a MIRROR of this run's relation, DEFAULTING
        // exactly where appending would compound (relation-producing
        // streams, chained relation outputs) and only onto sinks whose
        // replace path has no empty-destination window — the file
        // warehouse's single overwrite job or a staged swap. Audit/
        // advisory TRAIL stages never flip implicitly: the consumer of
        // a trail wants the trail. Elsewhere replace is truncate-then-
        // load, so a relation stream landing there must make the
        // choice explicit instead of compounding duplicates silently.
        if (isRelationStream(stage) && !safeReplaceSink(stage) &&
            stage.writeMode.isEmpty && stage.primaryKey.isEmpty)
          throw new IllegalArgumentException(
            s"stage '${stage.name}': a relation-producing stream landing " +
              s"on sink '${stage.sink.getOrElse("")}', whose replace is not " +
              "atomic, needs an explicit " +
              "'write_mode' (replace = truncate-then-load each run; " +
              "append = trail, duplicates across runs) or a " +
              "'primary_key' for MERGE idempotence")
        val replace = resolvesReplace(stage)
        // the guard above ran BEFORE the stage does any work: a
        // config hole must not cost a full drain first
        def runAndLand(): graft.writer.WriteStats = {
          val out = StageRunner.run(spark, stage, priorOutput)
          val writer = makeWriter(stage.sink.map(sinkOf), stage.destTable,
            stage.primaryKey.toSeq, args)
          if (replace && fileWh && args.warehouseFormat == "parquet" &&
              isRelationStream(stage) && out.columns.contains("graft_batch"))
            // mirror semantics at delta cost — see landStreamDelta
            // (parquet-only: the landing writes batch partition dirs
            // directly; a csv/json warehouse keeps the full replace)
            landStreamDelta(s"${args.warehouse.get}/${stage.destTable}", out)
          else if (replace) writer.replace(out)
          else {
            val mode = if (stage.primaryKey.isDefined) WriteMode.Merge
              else args.writeMode
            writer.write(out, mode)
          }
        }
        // a `kind: stream` stage is a single-writer seam end to end —
        // the Structured-Streaming checkpoint, the delta-mirror
        // landing, and the `_graft_landed_max` sidecar read-modify-
        // write are all per-stage mutable state — so the WHOLE drain
        // runs under the maintainer lease, keyed on the stage's
        // durable checkpoint dir (parse-time required, and unique per
        // stage: dest_table collisions are refused at startup). An
        // overrunning scheduled tick therefore fails loudly naming
        // the lock instead of double-draining one checkpoint or
        // racing the sidecar; a crashed drain's lease self-expires.
        val stats =
          if (stage.kind == "stream")
            graft.ops.StoreMaintenance.withLease(spark, stage.checkpoint.get,
              s"stage '${stage.name}' stream drain")(runAndLand())
          else runAndLand()
        ok += 1
        log.info("stage {} loaded {} rows into {} in {}ms", stage.name,
          stats.rowsWritten.toString, stage.destTable,
          ((System.nanoTime() - st0) / 1e6).round.toString)
      } catch {
        case e: Exception =>
          failed += 1
          failedStages += stage.name
          val classified = graft.errors.GraftError.from(e)
          log.error(
            s"stage ${stage.name} failed [${classified.category}]: ${e.getMessage}", e)
      }
    }

    log.info("pipeline done: {} ok, {} failed in {}ms", ok.toString,
      failed.toString, ((System.nanoTime() - t0) / 1e6).round.toString)
    failed
  }
}
