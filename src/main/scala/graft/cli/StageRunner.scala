package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.config.PipelineConfig.Stage
import graft.ops.{AfpStore, Classify, DedupStore, IvfIndex, IvfPqStore,
  PhashStore, PqStore, StoreMaintenance, VersionedStore}

/** Executes one declarative analytics stage
  * ([[graft.config.PipelineConfig.Stage]]) and returns the DataFrame
  * the orchestrator lands on the stage's sink — the analytics analog
  * of a module's SQL result, flowing through the SAME writer stack
  * (parquet warehouse / postgres / clickhouse / bigquery, MERGE when
  * a primary key is declared).
  *
  *  - `kind: query` resolves the operator from the
  *    [[graft.queries.Extensions.queries]] registry and runs it
  *    against the stage's `input_dir` — the whole operator surface
  *    (dedup, curation, text quality, ANN, corpus stats, …) is
  *    YAML-orchestratable with no per-operator glue, and the result
  *    relation is exactly the gate-verified one. `columns:` /
  *    `table:` / `table_as:` adapt a NON-fixture corpus into the
  *    operator's expected shape (plan-level renames — pruning and
  *    pushdown reach the real scan), and `input_stage:` chains the
  *    stage onto a PRIOR stage's landed output.
  *  - `kind: store` drives the persisted-store lifecycle. Build /
  *    rebuild / append / compact / maintain run the maintenance op
  *    (under the store's maintainer lease, loud on a second
  *    maintainer — the library contract rides through unchanged), and
  *    the stage's OUTPUT is the store's post-action stats relation
  *    tagged with (stage, action, compacted): the run's audit row, so
  *    a season of scheduled pipeline runs leaves a queryable
  *    maintenance history in the warehouse instead of a log trail.
  *    `action: recommend` lands the rebuild-vs-compact-vs-ok ADVISORY
  *    row for ANY of the six stores, judged at the stage's own
  *    `margin`/`min_cosine`/threshold knobs; `action: rebuild` ACTS
  *    on it — a fresh save() from the stage's current corpus under
  *    the maintainer lease, so a fingerprint-drifted store goes
  *    recommend("rebuild") → rebuild → recommend("ok") from YAML
  *    alone.
  *  - `kind: stream` drives the streaming modules
  *    ([[graft.streaming.StreamingIndexIngest]] /
  *    [[graft.streaming.StreamingEmbeddingDedup]] /
  *    [[graft.streaming.StreamingStoreDedup]] /
  *    [[graft.streaming.StreamingClassify]]) as an INCREMENTAL DRAIN:
  *    start the stream over `source_dir`, process everything
  *    available, stop. The REQUIRED durable `checkpoint:` is what
  *    makes successive scheduled CLI runs exactly-once — a restart
  *    resumes at the unprocessed files, and replayed micro-batches
  *    land idempotently (ingest-keyed store appends, batch-keyed
  *    output partitions). This is the reference's scheduled
  *    incremental-pull premise, carried to the store/dedup surface.
  */
object StageRunner {

  /** `priorOutput` resolves an `input_stage:` name to that stage's
    * landed relation (the orchestrator passes the warehouse read);
    * the default refuses loudly for direct library callers.
    */
  def run(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame = noChain): DataFrame =
    stage.kind match {
      case "query" => runQuery(spark, stage, priorOutput)
      case "store" => runStore(spark, stage, priorOutput)
      case "stream" => runStream(spark, stage, priorOutput)
      case other =>
        // unreachable after config validation; loud anyway
        throw new IllegalArgumentException(
          s"stage '${stage.name}': unknown kind '$other'")
    }

  private def noChain(name: String): DataFrame =
    throw new IllegalArgumentException(
      s"input_stage '$name' needs an orchestrator-provided resolver " +
        "(run the stage through the CLI with a file warehouse)")

  /** The stage's adapted input relation, when the stage declares one:
    * a prior stage's landed output (`input_stage:`) or a named parquet
    * table under `input_dir` (`table:`), with `columns:` renamed from
    * the source schema into the operator's expected names — loudly on
    * a missing source column (withColumnRenamed would silently no-op,
    * and a typo'd mapping must not quietly run the operator on the
    * wrong column).
    */
  private def adaptedInput(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame, default: String): Option[DataFrame] = {
    val declared = stage.inputStage.isDefined || stage.table.isDefined ||
      stage.columns.nonEmpty || stage.tableAs.isDefined
    if (!declared) None
    else {
      // with no explicit `table:`, a declared `table_as:` names BOTH
      // the overlay target and the source table — a stage adapting an
      // embeddings-shaped corpus must not silently read documents
      val src = stage.inputStage.map(priorOutput).getOrElse(
        graft.engine.Tables.table(spark, stage.inputDir,
          stage.table.getOrElse(stage.tableAs.getOrElse(default))))
      Some(stage.columns.foldLeft(src) { case (df, (expected, source)) =>
        require(df.columns.contains(source),
          s"stage '${stage.name}': columns maps '$expected' from " +
            s"'$source', which is not in the input " +
            s"(${df.columns.mkString(", ")})")
        // withColumnRenamed onto an already-present name would yield
        // DUPLICATE columns and an ambiguous-reference error deep in
        // the operator's plan — refuse here with the stage named
        require(expected == source || !df.columns.contains(expected),
          s"stage '${stage.name}': columns maps '$expected' from " +
            s"'$source', but the input already has a '$expected' " +
            "column — renaming would create duplicates")
        df.withColumnRenamed(source, expected)
      })
    }
  }

  private def runQuery(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame): DataFrame = {
    val name = stage.query.get
    val q = graft.queries.Extensions.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"stage '${stage.name}': unknown operator '$name' — " +
          "not in the Extensions registry"))
    adaptedInput(spark, stage, priorOutput, default = "documents") match {
      case None => q(spark, stage.inputDir)
      case Some(adapted) =>
        // the operator reads its tables by NAME: overlay the adapted
        // relation under the name it expects (default `documents`;
        // `table_as: embeddings` for the vector operators). The plan
        // is BUILT inside the scope, so the substitution sticks.
        val as = stage.tableAs.getOrElse("documents")
        graft.engine.Tables.withOverlay(Map(as -> adapted))(
          q(spark, stage.inputDir))
    }
  }

  /** A persisted store as the YAML `store:` name sees it: the stage
    * input its build/append read by default, and its save/append at
    * the library defaults. Every other verb is the store's own.
    */
  private final case class StoreVerbs(store: VersionedStore, corpus: String,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String, String) => Unit)

  private val stores: Map[String, StoreVerbs] = Map(
    "dedup" -> StoreVerbs(DedupStore, "documents",
      DedupStore.save(_, _), DedupStore.append(_, _, _)),
    // the image/audio fingerprint stores: decode paid once at
    // build/append, never again
    "phash" -> StoreVerbs(PhashStore, "documents",
      PhashStore.save(_, _), PhashStore.append(_, _, _)),
    "afp" -> StoreVerbs(AfpStore, "documents",
      AfpStore.save(_, _), AfpStore.append(_, _, _)),
    "ivf" -> StoreVerbs(IvfIndex, "embeddings",
      IvfIndex.save(_, _), IvfIndex.append(_, _, _)),
    "pq" -> StoreVerbs(PqStore, "embeddings",
      PqStore.save(_, _), PqStore.append(_, _, _)),
    "ivfpq" -> StoreVerbs(IvfPqStore, "embeddings",
      IvfPqStore.save(_, _), IvfPqStore.append(_, _, _)))

  private def runStore(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame): DataFrame = {
    val dir = stage.dir.get
    val name = stage.store.get
    val action = stage.action.get
    def input(default: String): DataFrame =
      adaptedInput(spark, stage, priorOutput, default)
        .getOrElse(graft.engine.Tables.table(spark, stage.inputDir, default))
    // the classifier model is a store too (build once, score many):
    // `build`/`rebuild` train from the stage's (adaptable) corpus and
    // commit a fresh version — the labels come from the corpus' `lang`
    // column, so a differently-labeled corpus maps it via `columns:`
    if (name == "classifier") {
      action match {
        case "build" | "rebuild" => Classify.saveModel(input("documents"), dir)
        case "stats" =>
        case other => throw new IllegalArgumentException(
          s"stage '${stage.name}': unsupported ${(name, other)}")
      }
      return statsAudit(spark, stage, name, dir, action, compacted = false)
    }
    val verbs = stores(name)
    val store = verbs.store
    def corpus: DataFrame = input(verbs.corpus)
    // advisory/dedup knobs: the stage's own bar, else the ONE shared
    // set of library defaults (StoreMaintenance.Default*) — an
    // advisory judged at a margin the deployment does not run is the
    // "silent knob" class the round-15 certification work exists to
    // kill, and a default retune must reach YAML and library callers
    // together
    val margin = stage.margin.getOrElse(StoreMaintenance.DefaultMargin)
    val minCosine =
      stage.minCosine.getOrElse(StoreMaintenance.DefaultMinCosine)
    val maxTombstoneRatio = stage.maxTombstoneRatio
      .getOrElse(StoreMaintenance.DefaultMaxTombstoneRatio)
    val maxIngests =
      stage.maxIngests.getOrElse(StoreMaintenance.DefaultMaxIngests)
    // `recommend` lands the maintenance ADVISORY row (rebuild vs
    // compact vs ok, from stats + lineage + the sampled margin gap) —
    // a scheduled pipeline run leaves the decision trail in the
    // warehouse next to the stats audit rows. The stage's corpus rides
    // in for the lineage-drift check, the stage's knobs set the bar.
    def advice: DataFrame = StoreMaintenance.recommend(store, spark, dir,
      Some(corpus), margin, minCosine, maxTombstoneRatio, maxIngests)
    // `auto` closes the whole loop in ONE scheduled stage: compute the
    // advisory, then ACT on it — ok → nothing, compact → compact,
    // rebuild → a fresh save() from the current corpus — and land the
    // advisory row tagged with what was done. The nightly maintenance
    // cron becomes one YAML stage whose audit trail shows both the
    // decision and the action taken.
    if (action == "auto") {
      val advised = advice
      val head = advised.head()
      val verdict = head.getString(head.fieldIndex("recommendation"))
      verdict match {
        case "rebuild" => verbs.save(corpus, dir)
        case "compact" => store.compact(spark, dir)
        case _ => // ok: nothing to do
      }
      return advised.withColumn("stage", lit(stage.name))
        .withColumn("acted", lit(verdict != "ok"))
    }
    if (action == "recommend")
      return advice.withColumn("stage", lit(stage.name))
    // `delete` files tombstones from a declared takedown relation (a
    // GDPR erasure / license takedown batch, from YAML): retraction is
    // immediate (queries anti-join the ids out), physical reclaim is
    // the next compact/maintain — the library lifecycle, declared. The
    // ids come from the stage's input (default table `takedowns`,
    // adaptable via table/columns/input_stage); malformed ids refuse
    // loudly through requireLongIds, never a silent non-retraction.
    if (action == "delete") {
      val idCol = if (verbs.corpus == "documents") "doc_id" else "vec_id"
      val rel = input("takedowns")
      require(rel.columns.contains(idCol),
        s"stage '${stage.name}': action 'delete' needs column '$idCol' " +
          s"in the takedown relation (${rel.columns.mkString(", ")}) — " +
          "map it via 'columns:'")
      store.delete(rel.select(col(idCol)), dir)
      return statsAudit(spark, stage, name, dir, "delete",
        compacted = false)
    }
    // `dedup` is the one action whose OUTPUT is the operator relation
    // (flagged near-duplicates of the incoming batch against the
    // persisted history), not the stats audit row — the incremental
    // step of a declarative curation pipeline: yesterday's store,
    // today's batch, flags to the sink
    if (action == "dedup") return name match {
      case "dedup" => DedupStore.dedupAgainst(spark, corpus, dir)
      // the incremental image/audio step: decode TODAY'S batch only,
      // flag it against the stored fingerprints — the corpus never
      // re-decodes
      case "phash" => PhashStore.dedupAgainst(spark, corpus, dir)
      case "afp" => AfpStore.dedupAgainst(spark, corpus, dir)
      case "ivfpq" => IvfPqStore.dedupAgainst(spark, dir,
        corpus.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")),
        minCosine = minCosine, margin = margin)
      case other => throw new IllegalArgumentException(
        s"stage '${stage.name}': action 'dedup' supports the dedup, " +
          s"phash, afp and ivfpq stores, not '$other'")
    }
    var compacted = false
    action match {
      // `rebuild` IS save(): a fresh version root re-fit from the
      // stage's CURRENT corpus, committed by marker under the
      // maintainer lease — the ACT half of the recommend advisory
      // (geometry re-fits, lineage re-fingerprints, tombstones and
      // fragmentation reset with the fresh build)
      case "build" | "rebuild" => verbs.save(corpus, dir)
      case "append" => verbs.append(corpus, dir, stage.ingestId.get)
      case "compact" => store.compact(spark, dir)
      case "maintain" => compacted = StoreMaintenance.maintain(store,
        spark, dir, maxTombstoneRatio, maxIngests)
      case "stats" => // introspection only, no maintenance op
      case other => throw new IllegalArgumentException(
        s"stage '${stage.name}': unsupported ${(name, other)}")
    }
    statsAudit(spark, stage, name, dir, action, compacted)
  }

  private def statsAudit(spark: SparkSession, stage: Stage, store: String,
      dir: String, action: String, compacted: Boolean): DataFrame = {
    val stats =
      if (store == "classifier") Classify.modelStats(spark, dir)
      else stores(store).store.stats(spark, dir)
    val statCols = stats.columns.toSeq
    stats
      .withColumn("stage", lit(stage.name))
      .withColumn("action", lit(action))
      .withColumn("compacted", lit(compacted))
      .select((Seq("stage", "action", "compacted") ++ statCols).map(col): _*)
  }

  /** Drain-what's-available streaming: start, processAllAvailable,
    * stop. With the stage's durable checkpoint this is the scheduled
    * incremental regime — each CLI run picks up exactly the source
    * files that arrived since the last one.
    */
  private def runStream(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame): DataFrame = {
    val sourceDir = stage.sourceDir.get
    val checkpoint = stage.checkpoint.get
    val throttle = stage.maxFilesPerTrigger.getOrElse(0)
    // a scheduled run may legitimately fire before the source has
    // produced its first drop (the nightly pipeline racing the
    // crawler): that's a NO-OP drain, not an error — schema inference
    // on an empty dir would throw, so gate the drain on data existing
    val srcReady = hasDataFiles(spark, sourceDir)
    // the file stream needs an explicit schema: one metadata-only
    // batch read of the source dir provides it (schema inference off
    // a dir the stage DECLARES, not a guess)
    def schema = spark.read.parquet(sourceDir).schema
    // every stream that reads or grows a persisted store must find a
    // COMMITTED version: the first scheduled run legitimately races
    // both the crawler AND the initial build, and surfacing that as a
    // requireRoot stack out of the post-drain audit read (or a wrapped
    // streaming exception mid-drain) buries the fix — refuse up front
    // with the action that unblocks it (r16 ADVICE)
    def requireStore(dir: String, what: String): Unit =
      require(StoreMaintenance.storeExists(spark, dir),
        s"stage '${stage.name}': $what at '$dir' has no committed " +
          "version yet — build it first with a 'kind: store' stage " +
          "(action: build); stream stages only read or grow an " +
          "existing store")
    stage.stream.get match {
      case "index_ingest" =>
        val dir = stage.dir.get
        requireStore(dir, s"${stage.store.get} store")
        if (srcReady) {
          val q = stage.store.get match {
            case "ivf" => graft.streaming.StreamingIndexIngest.intoIvf(
              spark, sourceDir, schema, dir, throttle, Some(checkpoint))
            case "pq" => graft.streaming.StreamingIndexIngest.intoPq(
              spark, sourceDir, schema, dir, throttle, Some(checkpoint))
            case "ivfpq" => graft.streaming.StreamingIndexIngest.intoIvfPq(
              spark, sourceDir, schema, dir, throttle, Some(checkpoint))
          }
          drain(q)
        }
        statsAudit(spark, stage, stage.store.get, dir, "stream_ingest",
          compacted = false)
      case "embedding_dedup" =>
        val outDir = stage.outDir.get
        requireStore(stage.dir.get, "ivfpq store")
        if (srcReady) {
          val q = graft.streaming.StreamingEmbeddingDedup
            .streamingDedupAgainstStore(spark, sourceDir, schema,
              stage.dir.get, outDir,
              minCosine = stage.minCosine
                .getOrElse(StoreMaintenance.DefaultMinCosine),
              margin = stage.margin
                .getOrElse(StoreMaintenance.DefaultMargin),
              maxFilesPerTrigger = throttle, checkpoint = Some(checkpoint))
          drain(q)
        }
        // the stage lands the accumulated flag relation (all batches);
        // empty-schema'd when nothing has ever landed
        readOrEmpty(spark, outDir,
          "query_id BIGINT, corpus_id BIGINT, cosine DOUBLE, graft_batch BIGINT")
      case "image_dedup" =>
        // the IMAGE-side analogue of store_dedup: incoming image
        // batches decoded once and flagged against the persisted
        // fingerprint store, per micro-batch — the corpus never
        // re-decodes
        val outDir = stage.outDir.get
        requireStore(stage.dir.get, "phash store")
        if (srcReady) {
          val q = graft.streaming.StreamingImageDedup
            .streamingDedupAgainstStore(spark, sourceDir, schema,
              stage.dir.get, outDir,
              maxFilesPerTrigger = throttle, checkpoint = Some(checkpoint))
          drain(q)
        }
        readOrEmpty(spark, outDir,
          "inc_id BIGINT, corpus_id BIGINT, hamming BIGINT, graft_batch BIGINT")
      case "audio_dedup" =>
        // the AUDIO twin of image_dedup: incoming clips decoded once
        // and flagged against the persisted afp store
        val outDir = stage.outDir.get
        requireStore(stage.dir.get, "afp store")
        if (srcReady) {
          val q = graft.streaming.StreamingAudioDedup
            .streamingDedupAgainstStore(spark, sourceDir, schema,
              stage.dir.get, outDir,
              maxFilesPerTrigger = throttle, checkpoint = Some(checkpoint))
          drain(q)
        }
        readOrEmpty(spark, outDir,
          "inc_id BIGINT, corpus_id BIGINT, hamming BIGINT, graft_batch BIGINT")
      case "store_dedup" =>
        // the TEXT-side analogue of embedding_dedup: incoming document
        // batches flagged against the persisted gram store, per
        // micro-batch, history never re-read
        val outDir = stage.outDir.get
        requireStore(stage.dir.get, "dedup gram store")
        if (srcReady) {
          val q = graft.streaming.StreamingStoreDedup
            .streamingDedupAgainstStore(spark, sourceDir, schema,
              stage.dir.get, outDir,
              maxFilesPerTrigger = throttle, checkpoint = Some(checkpoint))
          drain(q)
        }
        readOrEmpty(spark, outDir,
          "inc_id BIGINT, corpus_id BIGINT, jaccard DOUBLE, graft_batch BIGINT")
      case "classify" =>
        val outDir = stage.outDir.get
        // with `model_dir:` the gate applies whether or not the source
        // has data — a misconfigured model path must not lie dormant
        // until the first real batch arrives
        stage.modelDir.foreach(requireStore(_, "classifier model"))
        if (srcReady) {
          // the scoring model, frozen for this drain. `model_dir:`
          // loads the COMMITTED persisted model (trained by its own
          // `store: classifier` stage — each drain pays a model read,
          // not an O(corpus) training job); without it the model is
          // trained from the stage's HISTORICAL corpus — the adapted
          // input when declared (table/columns/input_stage, like every
          // other stage kind), else input_dir documents — and the next
          // scheduled run retrains from the then-current corpus
          val model = stage.modelDir match {
            case Some(md) => Classify.loadModel(spark, md)
            case None =>
              val docs = adaptedInput(spark, stage, priorOutput,
                default = "documents").getOrElse(
                graft.engine.Tables.table(spark, stage.inputDir, "documents"))
              Classify.tokenClassifierModel(docs)
          }
          val q = graft.streaming.StreamingClassify.streamingPredictToDir(
            spark, sourceDir, schema, model, outDir,
            maxFilesPerTrigger = throttle, checkpoint = Some(checkpoint))
          drain(q)
        }
        readOrEmpty(spark, outDir,
          "doc_id BIGINT, predicted STRING, score BIGINT, graft_batch BIGINT")
    }
  }

  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify the base so the relative-component check below compares
    // against the SAME absolute form fs.listFiles returns — a relative
    // YAML path must not make the walk judge the launch directory's
    // own ancestors (a '.'-prefixed checkout dir would hide everything)
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val basePath = {
      val p = base.toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    // hidden/temporary filtering must apply to EVERY path component
    // UNDER the base, not just the leaf: a writer mid-commit holds its
    // part files under _temporary/, and counting those as data would
    // race the schema inference this gate exists to protect
    def visible(p: org.apache.hadoop.fs.Path): Boolean = {
      val rel = p.toUri.getPath.stripPrefix(basePath)
      rel.split('/').forall(n =>
        !n.startsWith("_") && !n.startsWith("."))
    }
    fs.exists(base) && {
      val it = fs.listFiles(base, true)
      var found = false
      while (!found && it.hasNext) {
        if (visible(it.next().getPath)) found = true
      }
      found
    }
  }

  private def readOrEmpty(spark: SparkSession, dir: String,
      ddl: String): DataFrame =
    if (hasDataFiles(spark, dir))
      // partition-value inference types `graft_batch=<id>` as INT;
      // the empty schema (and any warehouse landing) wants one stable
      // type across runs — cast to the declared BIGINT
      spark.read.parquet(dir).withColumn("graft_batch",
        col("graft_batch").cast("long"))
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Drain everything available, then stop — without letting the
    * shutdown mask the real failure or fail a drain that succeeded:
    * if processAllAvailable threw, stop()/awaitTermination() errors
    * are suppressed (the PRIMARY exception is the diagnosis); if the
    * drain succeeded, a stop hiccup is swallowed too — every batch
    * already landed idempotently, and poisoning downstream consumers
    * over a teardown timeout would fail landed work.
    */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    var primary: Throwable = null
    try q.processAllAvailable()
    catch { case scala.util.control.NonFatal(e) => primary = e }
    finally {
      try { q.stop(); q.awaitTermination() }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    if (primary != null) throw primary
  }
}
