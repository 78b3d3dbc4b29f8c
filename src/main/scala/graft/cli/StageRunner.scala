package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.collection.immutable.ListMap

import graft.config.PipelineConfig.Stage
import graft.ops.{AfpStore, Classify, Dedup, DedupStore, FingerprintStore,
  IvfIndex, IvfPqStore, PhashStore, PqStore, StoreMaintenance,
  VersionedStore}
import graft.streaming.BatchedParquetSink

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
  *  - `kind: stream` runs ONE store verb per micro-batch of
  *    `source_dir` as an INCREMENTAL DRAIN: start the stream, process
  *    everything available, stop. `index_ingest` is the store's
  *    `append` (ivf | pq | ivfpq, ingest id `stream_<batchId>`);
  *    `embedding_dedup` / `store_dedup` / `image_dedup` /
  *    `audio_dedup` are the ivfpq / dedup / phash / afp store's
  *    `dedup`, each batch's flags landed through
  *    [[graft.streaming.BatchedParquetSink.landBatch]]; `classify`
  *    scores through [[graft.streaming.StreamingClassify]]. The
  *    REQUIRED durable `checkpoint:` is what makes successive
  *    scheduled CLI runs exactly-once — a restart resumes at the
  *    unprocessed files, and replayed micro-batches land
  *    idempotently (ingest-keyed store appends, batch-keyed output
  *    partitions). This is the reference's scheduled
  *    incremental-pull premise, carried to the store/dedup surface.
  *
  * The stage vocabulary — which stores exist, which actions each
  * allows, which streams run which verb on which store — is declared
  * once, in [[stores]] and [[streams]]; config validation
  * ([[checkStore]], [[checkStream]]) and the CLI's landing policy
  * ([[streamLandsRelation]]) read the same tables this runner dispatches on.
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

  /** A store's `dedup` verb. `flags` is the DDL of the flag relation
    * it lands; `corpus` flags the stage's corpus (`action: dedup`);
    * `batch` flags one micro-batch of a stream's source and hands the
    * flags to `land` inside the call, so a store that caches the
    * batch's prepared side releases it only after the landing read it.
    */
  private[graft] final case class DedupVerb(flags: String,
      corpus: (SparkSession, DataFrame, String, Stage) => DataFrame,
      batch: (SparkSession, DataFrame, String, Stage,
        DataFrame => Unit) => Unit)

  /** A YAML `store:` name: the stage input its build/append read by
    * default, what a refusal calls it, its save and stats at the
    * library defaults, and — where it has them — its versioned
    * lifecycle, ingest-keyed append and dedup. The actions a stage
    * may run on it are exactly the verbs it has.
    */
  private[graft] final case class StoreVerbs(corpus: String, noun: String,
      save: (DataFrame, String) => Unit,
      stats: (SparkSession, String) => DataFrame,
      lifecycle: Option[VersionedStore] = None,
      append: Option[(DataFrame, String, String) => Unit] = None,
      dedup: Option[DedupVerb] = None) {
    def actions: Seq[String] = Seq("build", "rebuild", "stats") ++
      lifecycle.fold(Seq.empty[String])(_ =>
        Seq("compact", "maintain", "recommend", "auto", "delete")) ++
      append.map(_ => "append") ++ dedup.map(_ => "dedup")
  }

  private def versioned(store: VersionedStore, corpus: String,
      noun: String, save: (DataFrame, String) => Unit,
      append: (DataFrame, String, String) => Unit,
      dedup: Option[DedupVerb] = None): StoreVerbs =
    StoreVerbs(corpus, noun, save, store.stats(_, _), Some(store),
      Some(append), dedup)

  // advisory/dedup knobs: the stage's own bar, else the ONE shared
  // set of library defaults (StoreMaintenance.Default*) — an
  // advisory judged at a margin the deployment does not run is the
  // "silent knob" class the round-15 certification work exists to
  // kill, and a default retune must reach YAML and library callers
  // together
  private def stageMargin(stage: Stage): Double =
    stage.margin.getOrElse(StoreMaintenance.DefaultMargin)
  private def stageMinCosine(stage: Stage): Double =
    stage.minCosine.getOrElse(StoreMaintenance.DefaultMinCosine)

  /** The image/audio stores' dedup: decode the incoming side only (the
    * corpus never re-decodes), banded Hamming join at radius 3 over 4
    * bands.
    */
  private def fingerprintDedup(store: FingerprintStore): DedupVerb = {
    def flags(spark: SparkSession, docs: DataFrame, dir: String) =
      store.dedupAgainst(spark, docs, dir, maxDist = 3, nBands = 4)
    DedupVerb("inc_id BIGINT, corpus_id BIGINT, hamming BIGINT",
      (spark, docs, dir, _) => flags(spark, docs, dir),
      (spark, batch, dir, _, land) => land(flags(spark, batch, dir)))
  }

  /** The ivfpq store's dedup at 4 probed cells and the stage's
    * `min_cosine`/`margin`. A stream's source is already probe-shaped
    * (query_id, qv); a stage's corpus is embeddings and remaps to it.
    */
  private val ivfpqDedup: DedupVerb = {
    def flags(spark: SparkSession, probe: DataFrame, dir: String,
        stage: Stage) =
      IvfPqStore.dedupAgainst(spark, dir, probe, stageMinCosine(stage),
        nProbe = 4, stageMargin(stage))
    DedupVerb("query_id BIGINT, corpus_id BIGINT, cosine DOUBLE",
      (spark, emb, dir, stage) => flags(spark,
        emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        dir, stage),
      (spark, batch, dir, stage, land) => land(flags(spark, batch, dir, stage)))
  }

  /** The gram store's dedup. A stage's corpus goes through the
    * memoized [[DedupStore.dedupAgainst]]; a micro-batch bypasses the
    * plan-hash-keyed shingle memo (every batch's plan is distinct and
    * would thrash the bounded cache) — its shingles persist for the
    * join's two traversals (gram explode + per-doc sizes) until the
    * flags have landed.
    */
  private val gramDedup = DedupVerb(
    "inc_id BIGINT, corpus_id BIGINT, jaccard DOUBLE",
    (spark, docs, dir, _) => DedupStore.dedupAgainst(spark, docs, dir),
    (spark, batch, dir, _, land) => {
      val sh = Dedup.shingled(batch).persist()
      try land(DedupStore.dedupShingled(spark, sh, dir))
      finally { sh.unpersist(); () }
    })

  /** The stores, by YAML `store:` name. */
  private[graft] val stores: ListMap[String, StoreVerbs] = ListMap(
    "dedup" -> versioned(DedupStore, "documents", "dedup gram store",
      DedupStore.save(_, _), DedupStore.append(_, _, _), Some(gramDedup)),
    "phash" -> versioned(PhashStore, "documents", "phash store",
      PhashStore.save(_, _), PhashStore.append(_, _, _),
      Some(fingerprintDedup(PhashStore))),
    "afp" -> versioned(AfpStore, "documents", "afp store",
      AfpStore.save(_, _), AfpStore.append(_, _, _),
      Some(fingerprintDedup(AfpStore))),
    "ivf" -> versioned(IvfIndex, "embeddings", "ivf store",
      IvfIndex.save(_, _), IvfIndex.append(_, _, _)),
    "pq" -> versioned(PqStore, "embeddings", "pq store",
      PqStore.save(_, _), PqStore.append(_, _, _)),
    "ivfpq" -> versioned(IvfPqStore, "embeddings", "ivfpq store",
      IvfPqStore.save(_, _), IvfPqStore.append(_, _, _), Some(ivfpqDedup)),
    // the classifier model is a store too (build once, score many):
    // build/rebuild train from the stage's (adaptable) corpus and
    // commit a fresh version — the labels come from the corpus' `lang`
    // column, so a differently-labeled corpus maps it via `columns:`.
    // It has no tombstones, ingests or geometry probe, so the
    // maintenance and advisory actions have nothing to act on.
    "classifier" -> StoreVerbs("documents", "classifier model",
      Classify.saveModel(_, _), Classify.modelStats(_, _)))

  /** A store-backed `stream:` name: the store verb it runs per
    * micro-batch of `source_dir`, on `store` — or, when `None`, on
    * the stage's `store:`, any embeddings store that has the verb.
    * `classify` scores through a model, not a store verb, and is
    * handled on its own.
    */
  private[graft] final case class StreamVerb(verb: String,
      store: Option[String] = None)

  private[graft] val streams: ListMap[String, StreamVerb] = ListMap(
    "index_ingest" -> StreamVerb("append"),
    "embedding_dedup" -> StreamVerb("dedup", Some("ivfpq")),
    "store_dedup" -> StreamVerb("dedup", Some("dedup")),
    "image_dedup" -> StreamVerb("dedup", Some("phash")),
    "audio_dedup" -> StreamVerb("dedup", Some("afp")))

  private def streamStores(v: StreamVerb): Seq[String] = v.store.fold(
    stores.collect { case (n, s) if s.corpus == "embeddings" &&
      s.actions.contains(v.verb) => n }.toSeq)(Seq(_))

  /** Whether stream `name` lands a relation under `out_dir` (dedup
    * flags, classify predictions) rather than its store's audit row.
    */
  private[graft] def streamLandsRelation(name: String): Boolean =
    !streams.get(name).exists(_.verb == "append")

  private def refuse(stage: Stage, why: String): Nothing =
    throw new IllegalArgumentException(s"stage '${stage.name}': $why")

  /** Refuse a `kind: store` stage whose store or action is not in the
    * vocabulary, or whose store does not have the action.
    */
  private[graft] def checkStore(stage: Stage): Unit = {
    val name = stage.store.get
    val action = stage.action.get
    val verbs = stores.getOrElse(name, refuse(stage, s"unknown store '$name'"))
    if (!stores.values.exists(_.actions.contains(action)))
      refuse(stage, s"unknown action '$action'")
    if (!verbs.actions.contains(action))
      refuse(stage, s"store '$name' supports actions " +
        s"${verbs.actions.mkString(" | ")}, not '$action'")
  }

  /** Refuse a store-backed `kind: stream` stage whose stream is not in
    * the vocabulary, that misses the store fields its verb needs, or
    * that names a store the stream does not run on.
    */
  private[graft] def checkStream(stage: Stage): Unit = {
    val name = stage.stream.get
    val v = streams.getOrElse(name, refuse(stage, s"unknown stream " +
      s"'$name' (${(streams.keys.toSeq :+ "classify").mkString(" | ")})"))
    val on = streamStores(v)
    v.store match {
      case Some(store) =>
        if (stage.dir.isEmpty || stage.outDir.isEmpty)
          refuse(stage, s"stream '$name' requires 'dir' (the " +
            s"${stores(store).noun}) and 'out_dir'")
      case None =>
        if (stage.store.isEmpty || stage.dir.isEmpty)
          refuse(stage, s"stream '$name' requires 'store' " +
            s"(${on.mkString(" | ")}) and 'dir'")
        if (!on.contains(stage.store.get))
          refuse(stage, s"stream '$name' runs '${v.verb}' on the " +
            s"${on.mkString(" | ")} stores, not '${stage.store.get}'")
    }
  }

  private def runStore(spark: SparkSession, stage: Stage,
      priorOutput: String => DataFrame): DataFrame = {
    checkStore(stage)
    val dir = stage.dir.get
    val name = stage.store.get
    val action = stage.action.get
    val verbs = stores(name)
    // checkStore admits the lifecycle actions only where there is one
    def store: VersionedStore = verbs.lifecycle.get
    def input(default: String): DataFrame =
      adaptedInput(spark, stage, priorOutput, default)
        .getOrElse(graft.engine.Tables.table(spark, stage.inputDir, default))
    def corpus: DataFrame = input(verbs.corpus)
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
      Some(corpus), stageMargin(stage), stageMinCosine(stage),
      maxTombstoneRatio, maxIngests)
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
    if (action == "dedup")
      return verbs.dedup.get.corpus(spark, corpus, dir, stage)
    var compacted = false
    action match {
      // `rebuild` IS save(): a fresh version root re-fit from the
      // stage's CURRENT corpus, committed by marker under the
      // maintainer lease — the ACT half of the recommend advisory
      // (geometry re-fits, lineage re-fingerprints, tombstones and
      // fragmentation reset with the fresh build)
      case "build" | "rebuild" => verbs.save(corpus, dir)
      case "append" => verbs.append.get(corpus, dir, stage.ingestId.get)
      case "compact" => store.compact(spark, dir)
      case "maintain" => compacted = StoreMaintenance.maintain(store,
        spark, dir, maxTombstoneRatio, maxIngests)
      case _ => // stats: introspection only, no maintenance op
    }
    statsAudit(spark, stage, name, dir, action, compacted)
  }

  private def statsAudit(spark: SparkSession, stage: Stage, store: String,
      dir: String, action: String, compacted: Boolean): DataFrame = {
    val stats = stores(store).stats(spark, dir)
    val statCols = stats.columns.toSeq
    stats
      .withColumn("stage", lit(stage.name))
      .withColumn("action", lit(action))
      .withColumn("compacted", lit(compacted))
      .select((Seq("stage", "action", "compacted") ++ statCols).map(col): _*)
  }

  /** The per-micro-batch body of store-backed stream `stage`: its
    * store verb, landed idempotently — an append under the ingest id
    * `stream_<batchId>` (a store append dynamically overwrites exactly
    * that ingest's subtree), or the dedup flags into `out_dir`'s own
    * `graft_batch=<batchId>` partition. Either way a replayed batch
    * replaces its earlier output instead of duplicating it.
    */
  private[graft] def streamBatch(spark: SparkSession,
      stage: Stage): (DataFrame, Long) => Unit = {
    val v = streams(stage.stream.get)
    val verbs = stores(v.store.getOrElse(stage.store.get))
    val dir = stage.dir.get
    v.verb match {
      case "append" => (batch, batchId) =>
        verbs.append.get(batch, dir, s"stream_$batchId")
      case "dedup" => (batch, batchId) =>
        verbs.dedup.get.batch(spark, batch, dir, stage,
          BatchedParquetSink.landBatch(_, stage.outDir.get, batchId))
    }
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
          "doc_id BIGINT, predicted STRING, score BIGINT")
      case name =>
        checkStream(stage)
        val v = streams(name)
        val store = v.store.getOrElse(stage.store.get)
        val verbs = stores(store)
        val dir = stage.dir.get
        requireStore(dir, verbs.noun)
        if (srcReady)
          drain(BatchedParquetSink.start(spark, sourceDir, schema, throttle,
            Some(checkpoint))(streamBatch(spark, stage)))
        // an ingest lands its store's audit row; a dedup lands the
        // accumulated flag relation (all batches), empty-schema'd when
        // nothing has ever landed
        if (v.verb == "append")
          statsAudit(spark, stage, store, dir, "stream_ingest",
            compacted = false)
        else readOrEmpty(spark, stage.outDir.get, verbs.dedup.get.flags)
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

  /** The relation a stream landed under `dir`, or — before its first
    * batch — an empty one typed `ddl` plus the batch column.
    */
  private def readOrEmpty(spark: SparkSession, dir: String,
      ddl: String): DataFrame =
    if (hasDataFiles(spark, dir))
      // partition-value inference types `graft_batch=<id>` as INT;
      // the empty schema (and any warehouse landing) wants one stable
      // type across runs — cast to the declared BIGINT
      spark.read.parquet(dir).withColumn(BatchedParquetSink.BatchCol,
        col(BatchedParquetSink.BatchCol).cast("long"))
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        s"$ddl, ${BatchedParquetSink.BatchCol} BIGINT"))

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
