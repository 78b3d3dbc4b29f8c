package graft.config

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** YAML pipeline config (SURVEY A29) — mirrors the reference's
  * `Config{sources, targets}` (/root/reference/src/pipeline/mod.rs:33-66)
  * including duplicate-name rejection and env-var credential
  * indirection with empty-value rejection (mod.rs:193-261).
  *
  * Parsed with snakeyaml (ships in /opt/spark/jars) into case classes
  * by hand — no reflection modules needed.
  */
object PipelineConfig {

  final case class Retry(maxAttempts: Int, maxDelaySecs: Long, minDelaySecs: Long)

  sealed trait Pagination
  object Pagination {
    final case class LimitOffset(limitParam: String, offsetParam: String) extends Pagination
    /** `total_items_pointer` / `total_pages_pointer` (RFC-6901, read
      * off the first page) resolve the page count up front so pages
      * 2..N can be fetched in parallel on executors — the repo's
      * upgrade over the reference CLI, which never passes a TotalHint
      * (run.rs:93).
      */
    final case class PageNumber(pageParam: String, perPageParam: String,
        totalItemsPointer: Option[String] = None,
        totalPagesPointer: Option[String] = None) extends Pagination
    final case class PageOnly(pageParam: String) extends Pagination
    final case class Cursor(cursorParam: String, pageSizeParam: Option[String]) extends Pagination
    case object Default extends Pagination
  }

  final case class Source(
      name: String,
      url: String,
      tableDestinationName: Option[String],
      headers: Seq[(String, String)],
      queryParams: Seq[(String, String)],
      pagination: Option[Pagination],
      dataPath: Option[String],
      retry: Retry,
      primaryKeyInDest: Option[String],
      pageSize: Option[Long] = None,
      /** `bearer_token` — sent as `Authorization: Bearer …`, the
        * reference's `Http::bearer_auth` surfaced in YAML (the
        * reference builder has it but never wires it from config).
        */
      bearerToken: Option[String] = None,
      /** `bearer_token_env` — env-var indirection for the token, the
        * same credential model as the postgres `username_env`/
        * `password_env` (secrets stay out of committed YAML).
        */
      bearerTokenEnv: Option[String] = None,
      /** `oauth2:` — client-credentials grant against `token_url`;
        * the fetched access token becomes the request bearer. The
        * reference lists OAuth2 as planned and unimplemented
        * (/root/reference/README.md:121-124); this is the natural
        * landing spot its config dialect implies. Mutually exclusive
        * with a static bearer token (the token WOULD silently win
        * otherwise — rejected at parse instead).
        */
      oauth2: Option[OAuth2Conf] = None,
      /** `incremental:` — per-source delta sync: the stored
        * high-water mark of `cursor_field` threads into each request
        * as the `since_param` query parameter, and the new maximum
        * persists after a successful load (state via
        * [[graft.writer.SyncState]]). Requires `primary_key_in_dest`:
        * delta windows overlap by design, and only a keyed MERGE
        * lands the overlap idempotently.
        */
      incremental: Option[Incremental] = None,
      /** `schema_evolution: true` — between runs, diff the
        * destination's live columns against the batch and ALTER the
        * drift in (add new columns; widen types along the inference
        * lattice). Additive only — never drops or narrows. The
        * reference lists this as planned and unimplemented
        * (/root/reference/README.md:125).
        */
      schemaEvolution: Boolean = false) {
    def destTable: String = tableDestinationName.getOrElse(name)

    /** Resolve `bearer_token_env` (preferred over an inline
      * `bearer_token`) by the [[credential]] rule.
      */
    def withBearerResolved(getenv: String => Option[String] = sys.env.get): Source =
      copy(bearerToken = credential("bearer token", bearerTokenEnv, bearerToken, getenv))
  }

  /** The env-indirection rule every credential follows
    * (mod.rs:84-130): a declared env variable is preferred over the
    * inline value, and a missing or empty one is a config error
    * naming `label`.
    */
  private def credential(label: String, env: Option[String],
      inline: Option[String], getenv: String => Option[String]): Option[String] =
    env.map { e =>
      val v = getenv(e).getOrElse(throw new IllegalArgumentException(
        s"environment variable '$e' for $label is not set"))
      if (v.trim.isEmpty) throw new IllegalArgumentException(
        s"environment variable '$e' for $label is empty")
      v
    }.orElse(inline)

  /** [[credential]] for a credential that must be given in one form. */
  private def requiredCredential(label: String, env: Option[String],
      inline: Option[String], getenv: String => Option[String]): String =
    credential(label, env, inline, getenv).getOrElse(
      throw new IllegalArgumentException(s"$label not provided"))

  /** OAuth2 client-credentials config: `token_url` plus a client id
    * and secret, each required and resolved by the [[credential]]
    * rule.
    */
  final case class OAuth2Conf(
      tokenUrl: String,
      clientId: Option[String], clientIdEnv: Option[String],
      clientSecret: Option[String], clientSecretEnv: Option[String],
      scope: Option[String]) {
    def resolvedClientId(getenv: String => Option[String] = sys.env.get): String =
      requiredCredential("oauth2 client_id", clientIdEnv, clientId, getenv)
    def resolvedClientSecret(getenv: String => Option[String] = sys.env.get): String =
      requiredCredential("oauth2 client_secret", clientSecretEnv, clientSecret, getenv)
  }

  final case class PostgresAuth(
      username: Option[String], password: Option[String],
      usernameEnv: Option[String], passwordEnv: Option[String]) {
    def resolvedUsername(getenv: String => Option[String] = sys.env.get): String =
      requiredCredential("postgres username", usernameEnv, username, getenv)
    def resolvedPassword(getenv: String => Option[String] = sys.env.get): String =
      requiredCredential("postgres password", passwordEnv, password, getenv)
  }

  final case class Target(
      name: String,
      kind: String, // "postgres" | "clickhouse" | "bigquery"
      host: String,
      port: Int,
      database: String,
      auth: PostgresAuth,
      /** `project` — BigQuery only: the GCP project the `jobs.query`
        * REST path addresses. For bigquery targets `host` is the API
        * endpoint (scheme optional, https assumed), `database` is the
        * dataset, and `auth.password(_env)` carries the bearer token
        * under the same env-indirection rules as every credential.
        */
      project: Option[String] = None) {
    /** Postgres JDBC URL. */
    def jdbcUrl: String = s"jdbc:postgresql://$host:$port/$database"

    /** BigQuery REST endpoint: a bare host assumes https. */
    def bqEndpoint: String =
      if (host.contains("://")) host else s"https://$host"

    /** ClickHouse SQL-over-HTTP URL: a bare host means
      * `http://host:port` (8123 by default, ClickHouse's HTTP port); a
      * host carrying a scheme is used as-is — ONE derivation for the
      * writer and the sync-state backend, so they can never land on
      * different databases.
      */
    def chUrl: String = {
      val server = if (host.contains("://")) host else s"http://$host:$port"
      s"$server/?database=$database"
    }
  }

  /** A declarative ANALYTICS stage (`stages:` in pipelines.yaml) —
    * the round-15 extension of the reference's module pipeline
    * (/root/reference/src/cmd/mod.rs:73-201) to the library's
    * dedup/curation/store operators, so the pipelines a data operator
    * actually runs (corpus clean → sink, dedup-store build/append,
    * index maintain, curation verdict → warehouse) are driven from
    * the SAME YAML + CLI + writer stack as the HTTP→SQL modules —
    * same targets, same MERGE idempotence, same failure accounting.
    *
    * Three kinds:
    *  - `kind: query` — run a registered analytics operator
    *    ([[graft.queries.Extensions.queries]]) against `input_dir`
    *    (a directory of the engine's parquet tables) and land the
    *    result on the sink. EVERY registry operator is orchestratable
    *    with zero per-operator glue; `table:`/`table_as:`/`columns:`
    *    adapt non-fixture schemas and `input_stage:` chains onto a
    *    prior stage's landed output.
    *  - `kind: store` — drive a persisted store's lifecycle (`store:`
    *    dedup | phash | afp | ivf | pq | ivfpq | classifier;
    *    `action:` build | rebuild | append | compact | maintain |
    *    stats | recommend | auto | dedup | delete) at `dir:`, landing
    *    the store's STATS relation on the sink as the run's audit row
    *    (the maintenance-loop contract: decisions read stats,
    *    pipelines record them). Exceptions to the stats-audit output:
    *    `action: dedup` (dedup/phash/afp/ivfpq) lands the OPERATOR
    *    relation — the incoming batch's flagged near-duplicates
    *    against the persisted history — `action: recommend` (all six
    *    versioned stores) lands the rebuild-vs-compact-vs-ok ADVISORY
    *    row, judged at the stage's own `margin`/`min_cosine`/threshold
    *    knobs, and `action: auto` lands that row after acting on it.
    *    `action: rebuild` acts on the advisory (a fresh save() from
    *    the stage's current corpus under the maintainer lease);
    *    `action: delete` files tombstones from a declared takedown
    *    relation. The classifier model store takes build | rebuild |
    *    stats only.
    *  - `kind: stream` — run one store verb per micro-batch (`stream:`
    *    index_ingest = append into `store:` ivf | pq | ivfpq;
    *    embedding_dedup | store_dedup | image_dedup | audio_dedup =
    *    dedup against the ivfpq | dedup | phash | afp store at `dir:`)
    *    or score with a classifier (`stream: classify`) as a
    *    CHECKPOINTED INCREMENTAL DRAIN of `source_dir`: each scheduled
    *    run processes exactly the files that arrived since the last
    *    one, replays land idempotently, and a not-yet-producing source
    *    is a no-op, not an error.
    *
    * Which stores, actions and streams exist, and which go together,
    * is declared once in [[graft.cli.StageRunner]]'s vocabulary tables;
    * the parse-time refusals read them.
    */
  final case class Stage(
      name: String,
      kind: String,
      inputDir: String,
      sink: Option[String],
      destTable: String,
      primaryKey: Option[String],
      query: Option[String],
      store: Option[String],
      action: Option[String],
      table: Option[String],
      dir: Option[String],
      ingestId: Option[String],
      /** `input_stage:` — consume a PRIOR stage's landed output (the
        * parquet warehouse relation) instead of a fixture table under
        * `input_dir`: clean → dedup → mix pipelines compose in one
        * YAML without hand-wiring paths. Resolved by the orchestrator
        * to the named stage's warehouse directory; requires the file
        * warehouse (a JDBC-landed stage has no readable path) and the
        * named stage must be declared EARLIER in the file.
        */
      inputStage: Option[String] = None,
      /** `table_as:` — which engine table name the stage's input
        * relation impersonates for the operator (default `documents`;
        * use `embeddings` for vector operators). The operator surface
        * reads named tables; this is the adapter seam.
        */
      tableAs: Option[String] = None,
      /** `columns: {doc_id: my_id, text: body}` — rename the stage's
        * input columns (operator-expected name -> source column) so a
        * `kind: query` operator runs on non-fixture schemas. Renames
        * are plan-level `select`s: pruning and pushdown flow through
        * to the source scan untouched.
        */
      columns: Seq[(String, String)] = Seq.empty,
      /** Advisory/dedup knobs (`margin`, `min_cosine`,
        * `max_tombstone_ratio`, `max_ingests`) — a deployment running
        * dedup at a non-default margin must get its advisory judged
        * against THAT bar, not the library default.
        */
      margin: Option[Double] = None,
      minCosine: Option[Double] = None,
      maxTombstoneRatio: Option[Double] = None,
      maxIngests: Option[Long] = None,
      /** `kind: stream` fields: the stream to drive (`stream:`
        * index_ingest | embedding_dedup | store_dedup | image_dedup |
        * audio_dedup | classify), its parquet source (`source_dir:`), the durable checkpoint
        * (`checkpoint:` — REQUIRED: it is what makes successive
        * scheduled runs incremental and exactly-once), the landing
        * directory for relation-producing streams (`out_dir:`), and
        * the micro-batch throttle (`max_files_per_trigger:`).
        */
      stream: Option[String] = None,
      sourceDir: Option[String] = None,
      checkpoint: Option[String] = None,
      outDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      /** `model_dir:` (stream `classify` only) — score each drain
        * against the COMMITTED persisted model at this directory
        * (built by a `store: classifier` stage) instead of retraining
        * from the stage's corpus every scheduled run: the r16
        * verdict's amortization (train once as its own stage, each
        * drain pays a model read, not an O(corpus) training job).
        */
      modelDir: Option[String] = None,
      /** `write_mode: append | replace` — how the stage's output lands
        * on its destination across RUNS. `append` accumulates (the
        * audit-trail shape: one stats/advisory row per scheduled run);
        * `replace` makes the destination mirror this run's relation.
        * Defaults — on sinks whose replace path has NO
        * empty-destination window (the file warehouse's single
        * overwrite job; the postgres staged swap — staging table +
        * one-transaction move; the clickhouse staged swap — staging
        * table + one atomic EXCHANGE TABLES): `replace` for
        * relation-OUTPUT stages another stage chains from (an
        * appending upstream would feed N runs' worth of duplicated
        * rows downstream) and for relation-producing stream stages
        * (their output relation is already cumulative — re-appending
        * it each run would land k copies of old batches); `append`
        * otherwise, and audit/advisory trails never flip implicitly.
        * On bigquery sinks replace is still truncate-then-load (an
        * empty-table window on failure), so it never defaults there:
        * a relation-producing stream on a bigquery sink must declare
        * write_mode or a primary_key explicitly. A `primary_key`
        * overrides all of this with MERGE idempotence.
        */
      writeMode: Option[String] = None)

  final case class Config(sources: Seq[Source], targets: Seq[Target],
      stages: Seq[Stage] = Seq.empty) {
    private val sourceIx = sources.map(s => s.name -> s).toMap
    private val targetIx = targets.map(t => t.name -> t).toMap
    def source(name: String): Source = sourceIx.getOrElse(name,
      throw new NoSuchElementException(s"unknown source '$name'"))
    def target(name: String): Target = targetIx.getOrElse(name,
      throw new NoSuchElementException(s"unknown target '$name'"))
  }

  def loadFromPath(path: String): Config =
    parse(Files.readString(Paths.get(path)))

  def parse(yamlText: String): Config = {
    val root = asMap(new Yaml().load[Any](yamlText),
      "top-level config must be a mapping")
    val sources = seqOfMaps(root.get("sources")).map(parseSource)
    val targets = seqOfMaps(root.get("targets")).map(parseTarget)
    val stages = seqOfMaps(root.get("stages")).map(parseStage)
    rejectDuplicates("source", sources.map(_.name))
    rejectDuplicates("target", targets.map(_.name))
    rejectDuplicates("stage", stages.map(_.name))
    // a chained stage consumes a PRIOR stage's landed output — forward
    // or dangling references are config errors, not runtime surprises
    stages.zipWithIndex.foreach { case (st, i) =>
      st.inputStage.foreach { ref =>
        if (!stages.take(i).exists(_.name == ref))
          throw new IllegalArgumentException(
            s"stage '${st.name}': input_stage '$ref' must name a stage " +
              "declared EARLIER in the file (stages run in YAML order)")
      }
    }
    Config(sources, targets, stages)
  }

  private def parseStage(m: Map[String, Any]): Stage = {
    val s = Stage(
      name = str(m, "name"),
      kind = str(m, "kind"),
      inputDir = str(m, "input_dir"),
      sink = optStr(m, "sink"),
      destTable = optStr(m, "dest_table").getOrElse(str(m, "name")),
      primaryKey = optStr(m, "primary_key"),
      query = optStr(m, "query"),
      store = optStr(m, "store"),
      action = optStr(m, "action"),
      table = optStr(m, "table"),
      dir = optStr(m, "dir"),
      ingestId = optStr(m, "ingest_id"),
      inputStage = optStr(m, "input_stage"),
      tableAs = optStr(m, "table_as"),
      columns = m.get("columns").filter(_ != null).map(
        asMap(_, "columns must be a mapping of expected -> source")
          .map { case (k, v) => k -> v.toString }.toSeq.sortBy(_._1))
        .getOrElse(Seq.empty),
      margin = optStr(m, "margin").map(_.toDouble),
      minCosine = optStr(m, "min_cosine").map(_.toDouble),
      maxTombstoneRatio = optStr(m, "max_tombstone_ratio").map(_.toDouble),
      maxIngests = optStr(m, "max_ingests").map(_.toLong),
      stream = optStr(m, "stream"),
      sourceDir = optStr(m, "source_dir"),
      checkpoint = optStr(m, "checkpoint"),
      outDir = optStr(m, "out_dir"),
      maxFilesPerTrigger = optStr(m, "max_files_per_trigger").map(_.toInt),
      modelDir = optStr(m, "model_dir"),
      writeMode = optStr(m, "write_mode"))
    s.writeMode.foreach { wm =>
      if (!Set("append", "replace")(wm))
        throw new IllegalArgumentException(
          s"stage '${s.name}': write_mode must be append or replace, " +
            s"got '$wm' (keyed MERGE comes from primary_key)")
    }
    // two input declarations would have a silent winner — refuse the
    // ambiguity (the repo's loud-knob rule)
    if (s.inputStage.isDefined && s.table.isDefined)
      throw new IllegalArgumentException(
        s"stage '${s.name}': 'input_stage' and 'table' both name the " +
          "stage input — declare one")
    s.kind match {
      case "query" =>
        if (s.query.isEmpty) throw new IllegalArgumentException(
          s"stage '${s.name}': kind 'query' requires 'query' " +
            "(a registered operator name)")
      case "store" =>
        if (s.store.isEmpty || s.action.isEmpty || s.dir.isEmpty)
          throw new IllegalArgumentException(
            s"stage '${s.name}': kind 'store' requires 'store', " +
              "'action' and 'dir'")
        graft.cli.StageRunner.checkStore(s)
        if (s.action.contains("append") && s.ingestId.isEmpty)
          throw new IllegalArgumentException(
            s"stage '${s.name}': action 'append' requires 'ingest_id' " +
              "(idempotent-retry key)")
      case "stream" =>
        if (s.stream.isEmpty || s.sourceDir.isEmpty || s.checkpoint.isEmpty)
          throw new IllegalArgumentException(
            s"stage '${s.name}': kind 'stream' requires 'stream', " +
              "'source_dir' and 'checkpoint' (the checkpoint is what " +
              "makes scheduled runs incremental and exactly-once)")
        // stream input comes from source_dir; only `classify` reads an
        // adaptable TRAINING corpus — an adapter on the other streams
        // would parse fine and then be silently ignored (the exact
        // silent-knob class the loud-config rule refuses)
        if (!s.stream.contains("classify") &&
            (s.table.isDefined || s.tableAs.isDefined ||
              s.columns.nonEmpty || s.inputStage.isDefined))
          throw new IllegalArgumentException(
            s"stage '${s.name}': table/table_as/columns/input_stage " +
              s"have no effect on stream '${s.stream.get}' — its input " +
              "is 'source_dir' (only 'classify' adapts a training corpus)")
        s.stream.get match {
          case "classify" =>
            if (s.outDir.isEmpty)
              throw new IllegalArgumentException(
                s"stage '${s.name}': stream 'classify' requires 'out_dir'")
            // the adapters adapt the TRAINING corpus; with a persisted
            // model there is no training in the drain, so they would
            // parse fine and be silently ignored — refuse the ambiguity
            if (s.modelDir.isDefined &&
                (s.table.isDefined || s.tableAs.isDefined ||
                  s.columns.nonEmpty || s.inputStage.isDefined))
              throw new IllegalArgumentException(
                s"stage '${s.name}': model_dir scores against the " +
                  "persisted model, so table/table_as/columns/" +
                  "input_stage (training-corpus adapters) have no " +
                  "effect — drop them, or drop model_dir to retrain " +
                  "per drain")
          case _ => graft.cli.StageRunner.checkStream(s)
        }
      case other => throw new IllegalArgumentException(
        s"stage '${s.name}': unknown kind '$other' (query | store | stream)")
    }
    // model_dir means ONE thing — score the classify stream against a
    // persisted model; on any other stage it would parse and be
    // silently ignored (the loud-knob rule)
    if (s.modelDir.isDefined && !s.stream.contains("classify"))
      throw new IllegalArgumentException(
        s"stage '${s.name}': model_dir only applies to 'stream: " +
          "classify' stages")
    s
  }

  private def rejectDuplicates(what: String, names: Seq[String]): Unit =
    names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
      .headOption.foreach { n =>
        throw new IllegalArgumentException(s"duplicate $what name '$n'")
      }

  // ---- untyped-YAML helpers -------------------------------------------------

  private def asMap(v: Any, err: String): Map[String, Any] = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, value) => k.toString -> value }.toMap
    case _ => throw new IllegalArgumentException(s"$err (got: $v)")
  }

  private def seqOfMaps(v: Option[Any]): Seq[Map[String, Any]] = v match {
    case Some(l: java.util.List[_]) =>
      l.asScala.toSeq.map(asMap(_, "expected a mapping"))
    case _ => Seq.empty
  }

  private def str(m: Map[String, Any], k: String): String =
    m.get(k).map(_.toString).getOrElse(
      throw new IllegalArgumentException(s"missing required field '$k'"))

  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).filter(_ != null).map(_.toString)

  private def kvPairs(v: Option[Any]): Seq[(String, String)] = v match {
    case Some(l: java.util.List[_]) =>
      l.asScala.toSeq.map { e =>
        val m = asMap(e, "expected {key, value} mapping")
        str(m, "key") -> str(m, "value")
      }
    case _ => Seq.empty
  }

  private def parseRetry(v: Option[Any]): Retry = v match {
    case Some(m0) =>
      val m = asMap(m0, "retry must be a mapping")
      Retry(
        maxAttempts = optStr(m, "max_attempts").map(_.toInt).getOrElse(3),
        maxDelaySecs = optStr(m, "max_delay_secs").map(_.toLong).getOrElse(5L),
        minDelaySecs = optStr(m, "min_delay_secs").map(_.toLong).getOrElse(1L))
    case None => Retry(maxAttempts = 3, maxDelaySecs = 5, minDelaySecs = 1)
  }

  private def parsePagination(v: Option[Any]): Option[Pagination] = v.map { p0 =>
    val m = asMap(p0, "pagination must be a mapping")
    str(m, "kind") match {
      case "limit_offset" =>
        Pagination.LimitOffset(str(m, "limit_param"), str(m, "offset_param"))
      case "page_number" =>
        val items = optStr(m, "total_items_pointer")
        val pages = optStr(m, "total_pages_pointer")
        if (items.isDefined && pages.isDefined)
          throw new IllegalArgumentException(
            "page_number: set at most one of total_items_pointer / total_pages_pointer")
        Pagination.PageNumber(str(m, "page_param"), str(m, "per_page_param"),
          items, pages)
      case "page_only" => Pagination.PageOnly(str(m, "page_param"))
      case "cursor" =>
        Pagination.Cursor(str(m, "cursor_param"), optStr(m, "page_size_param"))
      case "default" => Pagination.Default
      case other =>
        throw new IllegalArgumentException(s"unknown pagination kind '$other'")
    }
  }

  /** Incremental-sync config: which fetched column is the cursor and
    * which query parameter carries the stored watermark upstream.
    */
  final case class Incremental(cursorField: String, sinceParam: String)

  private def parseIncremental(v: Option[Any]): Option[Incremental] =
    v.map { i0 =>
      val m = asMap(i0, "incremental must be a mapping")
      Incremental(
        cursorField = str(m, "cursor_field"),
        sinceParam = optStr(m, "since_param").getOrElse("since"))
    }

  private def parseOAuth2(v: Option[Any]): Option[OAuth2Conf] = v.map { o0 =>
    val m = asMap(o0, "oauth2 must be a mapping")
    OAuth2Conf(
      tokenUrl = str(m, "token_url"),
      clientId = optStr(m, "client_id"),
      clientIdEnv = optStr(m, "client_id_env"),
      clientSecret = optStr(m, "client_secret"),
      clientSecretEnv = optStr(m, "client_secret_env"),
      scope = optStr(m, "scope"))
  }

  private def parseSource(m: Map[String, Any]): Source = {
    val s = Source(
      name = str(m, "name"),
      url = str(m, "url"),
      tableDestinationName = optStr(m, "table_destination_name"),
      headers = kvPairs(m.get("headers")),
      queryParams = kvPairs(m.get("query_params")),
      pagination = parsePagination(m.get("pagination")),
      dataPath = optStr(m, "data_path"),
      retry = parseRetry(m.get("retry")),
      primaryKeyInDest = optStr(m, "primary_key_in_dest"),
      pageSize = optStr(m, "page_size").map(_.toLong),
      bearerToken = optStr(m, "bearer_token"),
      bearerTokenEnv = optStr(m, "bearer_token_env"),
      oauth2 = parseOAuth2(m.get("oauth2")),
      incremental = parseIncremental(m.get("incremental")),
      schemaEvolution = m.get("schema_evolution").exists {
        case b: java.lang.Boolean => b
        case "true" => true
        case "false" => false
        // a typo'd value must not silently disable evolution
        case other => throw new IllegalArgumentException(
          s"schema_evolution must be a boolean, got '$other'")
      })
    if (s.pageSize.exists(_ <= 0)) throw new IllegalArgumentException(
      s"source '${s.name}': page_size must be positive, got ${s.pageSize.get}")
    if (s.oauth2.isDefined && (s.bearerToken.isDefined || s.bearerTokenEnv.isDefined))
      throw new IllegalArgumentException(
        s"source '${s.name}': oauth2 and bearer_token(_env) are mutually exclusive")
    if (s.incremental.isDefined && s.primaryKeyInDest.isEmpty)
      throw new IllegalArgumentException(
        s"source '${s.name}': incremental sync requires primary_key_in_dest " +
          "(delta windows overlap; only a keyed MERGE lands them idempotently)")
    s
  }

  private def parseTarget(m: Map[String, Any]): Target = {
    val kind = optStr(m, "type").getOrElse("postgres")
    if (!Set("postgres", "clickhouse", "bigquery")(kind))
      throw new IllegalArgumentException(s"unknown target type '$kind'")
    if (kind == "bigquery" && optStr(m, "project").isEmpty)
      throw new IllegalArgumentException(
        s"bigquery target '${optStr(m, "name").getOrElse("?")}' requires 'project'")
    val auth = m.get("auth").map(asMap(_, "auth must be a mapping"))
      .getOrElse(Map.empty[String, Any])
    Target(
      name = str(m, "name"),
      kind = kind,
      host = str(m, "host"),
      port = optStr(m, "port").map(_.toInt)
        .getOrElse(if (kind == "clickhouse") 8123 else 5432),
      project = optStr(m, "project"),
      database = str(m, "database"),
      auth = PostgresAuth(
        username = optStr(auth, "username"),
        password = optStr(auth, "password"),
        usernameEnv = optStr(auth, "username_env"),
        passwordEnv = optStr(auth, "password_env")))
  }
}
