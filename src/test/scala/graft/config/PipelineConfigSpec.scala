package graft.config

import org.scalatest.funsuite.AnyFunSuite

import PipelineConfig._

/** Mirrors /root/reference/tests/pipeline/config_tests.rs and
  * src/config/tests.rs.
  */
class PipelineConfigSpec extends AnyFunSuite {

  private val yaml =
    """sources:
      |  - name: employees
      |    url: https://api.example.com/employees
      |    table_destination_name: employees
      |    primary_key_in_dest: id
      |    data_path: /data
      |    headers:
      |      - key: X-API-KEY
      |        value: secret
      |    query_params:
      |      - key: status
      |        value: active
      |    pagination:
      |      kind: page_number
      |      page_param: page
      |      per_page_param: per_page
      |    retry:
      |      max_attempts: 3
      |      max_delay_secs: 5
      |      min_delay_secs: 1
      |  - name: content
      |    url: https://api.example.com/search
      |    pagination:
      |      kind: limit_offset
      |      limit_param: limit
      |      offset_param: start
      |targets:
      |  - name: pg
      |    type: postgres
      |    host: localhost
      |    database: apitap
      |    auth:
      |      username: postgres
      |      password: postgres
      |""".stripMargin

  test("bearer_token YAML key reaches the source spec") {
    val cfg = PipelineConfig.parse(
      """sources:
        |  - name: s
        |    url: https://api.example.com/x
        |    bearer_token: tok-abc
        |""".stripMargin)
    assert(cfg.source("s").bearerToken.contains("tok-abc"))
    // absent key stays None
    assert(PipelineConfig.parse(yaml).source("employees").bearerToken.isEmpty)
  }

  test("bearer_token_env resolves via env indirection, preferred over inline") {
    val cfg = PipelineConfig.parse(
      """sources:
        |  - name: s
        |    url: https://api.example.com/x
        |    bearer_token: inline-tok
        |    bearer_token_env: API_TOKEN
        |""".stripMargin)
    val s = cfg.source("s")
    assert(s.withBearerResolved(Map("API_TOKEN" -> "env-tok").get)
      .bearerToken.contains("env-tok"))
    intercept[IllegalArgumentException] {
      s.withBearerResolved(Map.empty[String, String].get)
    }
    intercept[IllegalArgumentException] {
      s.withBearerResolved(Map("API_TOKEN" -> "  ").get)
    }
    // no env indirection declared → untouched
    val plain = PipelineConfig.parse(
      """sources:
        |  - name: p
        |    url: https://api.example.com/y
        |    bearer_token: tok
        |""".stripMargin).source("p")
    assert(plain.withBearerResolved(Map.empty[String, String].get)
      .bearerToken.contains("tok"))
  }

  test("parse reference-shaped YAML") {
    val cfg = PipelineConfig.parse(yaml)
    val s = cfg.source("employees")
    assert(s.url == "https://api.example.com/employees")
    assert(s.dataPath.contains("/data"))
    assert(s.headers == Seq("X-API-KEY" -> "secret"))
    assert(s.queryParams == Seq("status" -> "active"))
    assert(s.pagination.contains(Pagination.PageNumber("page", "per_page")))
    assert(s.retry == Retry(3, 5, 1))
    assert(s.primaryKeyInDest.contains("id"))
    assert(cfg.source("content").pagination
      .contains(Pagination.LimitOffset("limit", "start")))
  }

  test("default postgres port 5432 (config_tests.rs:158-205)") {
    assert(PipelineConfig.parse(yaml).target("pg").port == 5432)
    assert(PipelineConfig.parse(yaml).target("pg").jdbcUrl ==
      "jdbc:postgresql://localhost:5432/apitap")
  }

  test("duplicate names rejected (config_tests.rs:80-126)") {
    val dup = yaml.replace("name: content", "name: employees")
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(dup))
    assert(e.getMessage.contains("duplicate source name"))
  }

  test("unknown source/target lookups fail") {
    val cfg = PipelineConfig.parse(yaml)
    intercept[NoSuchElementException](cfg.source("nope"))
    intercept[NoSuchElementException](cfg.target("nope"))
  }

  test("env credential indirection: present, missing, empty (src/config/tests.rs:15-56)") {
    val auth = PostgresAuth(None, None, Some("PG_USER"), Some("PG_PASS"))
    assert(auth.resolvedUsername(Map("PG_USER" -> "svc").get) == "svc")
    val missing = intercept[IllegalArgumentException](
      auth.resolvedUsername(Map.empty[String, String].get))
    assert(missing.getMessage.contains("not set"))
    val empty = intercept[IllegalArgumentException](
      auth.resolvedPassword(Map("PG_PASS" -> "  ").get))
    assert(empty.getMessage.contains("empty"))
  }

  test("inline credentials used when no env indirection") {
    val auth = PostgresAuth(Some("u"), Some("p"), None, None)
    assert(auth.resolvedUsername() == "u")
    assert(auth.resolvedPassword() == "p")
    intercept[IllegalArgumentException](
      PostgresAuth(None, None, None, None).resolvedUsername())
  }

  test("unknown pagination kind rejected") {
    val bad = yaml.replace("kind: page_number", "kind: zigzag")
    intercept[IllegalArgumentException](PipelineConfig.parse(bad))
  }

  test("page_number total pointers and page_size parse into the source") {
    val withHints = yaml.replace(
      "      per_page_param: per_page",
      """      per_page_param: per_page
        |      total_items_pointer: /meta/total
        |""".stripMargin.stripLineEnd)
      .replace("    data_path: /data", "    data_path: /data\n    page_size: 25")
    val s = PipelineConfig.parse(withHints).source("employees")
    assert(s.pagination.contains(
      Pagination.PageNumber("page", "per_page", Some("/meta/total"), None)))
    assert(s.pageSize.contains(25L))
  }

  test("page_size must be positive") {
    for (bad <- Seq("0", "-5")) {
      val e = intercept[IllegalArgumentException](PipelineConfig.parse(
        yaml.replace("    data_path: /data", s"    data_path: /data\n    page_size: $bad")))
      assert(e.getMessage ==
        s"source 'employees': page_size must be positive, got $bad")
    }
  }

  test("page_number rejects both total pointers at once") {
    val both = yaml.replace(
      "      per_page_param: per_page",
      """      per_page_param: per_page
        |      total_items_pointer: /total
        |      total_pages_pointer: /pages
        |""".stripMargin.stripLineEnd)
    intercept[IllegalArgumentException](PipelineConfig.parse(both))
  }

  test("schema_evolution flag parses; non-boolean rejected") {
    val cfg = PipelineConfig.parse(
      """sources:
        |  - name: s
        |    url: https://api.example.com/x
        |    schema_evolution: true
        |""".stripMargin)
    assert(cfg.source("s").schemaEvolution)
    // absent → off (evolution is opt-in: an unexpected ALTER on a
    // shared table is worse than a failed insert)
    assert(!PipelineConfig.parse(yaml).source("employees").schemaEvolution)
    val err = intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        """sources:
          |  - name: s
          |    url: https://api.example.com/x
          |    schema_evolution: maybe
          |""".stripMargin)
    }
    assert(err.getMessage.contains("schema_evolution"))
  }

  test("clickhouse target parses with its own default port and HTTP url") {
    val cfg = PipelineConfig.parse(
      """sources:
        |  - name: s
        |    url: https://api.example.com/x
        |targets:
        |  - name: ch
        |    type: clickhouse
        |    host: ch.example.com
        |    database: analytics
        |    auth:
        |      username: graft
        |      password: pw
        |""".stripMargin)
    val t = cfg.targets.head
    assert(t.kind == "clickhouse")
    assert(t.port == 8123)
    // a bare host means ClickHouse's HTTP interface on that port
    assert(t.chUrl == "http://ch.example.com:8123/?database=analytics")
    // a scheme-carrying host (https, stub servers) is used as-is
    assert(t.copy(host = "https://ch.example.com:8443").chUrl ==
      "https://ch.example.com:8443/?database=analytics")
    // unknown kinds still rejected at parse
    val err = intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        """sources: []
          |targets:
          |  - name: t
          |    type: bigtable
          |    host: h
          |    database: d
          |""".stripMargin)
    }
    assert(err.getMessage.contains("unknown target type"))
  }

  test("bigquery target: project required, endpoint + token env rules") {
    val cfg = PipelineConfig.parse(
      """sources: []
        |targets:
        |  - name: bq
        |    type: bigquery
        |    host: bigquery.googleapis.com
        |    project: my-proj
        |    database: analytics
        |    auth:
        |      password_env: BQ_TOKEN
        |""".stripMargin)
    val t = cfg.targets.head
    assert(t.kind == "bigquery")
    assert(t.project.contains("my-proj"))
    assert(t.bqEndpoint == "https://bigquery.googleapis.com")
    assert(t.auth.resolvedPassword(Map("BQ_TOKEN" -> "tok").get) == "tok")
    // a scheme-carrying host (stub servers) passes through verbatim
    assert(t.copy(host = "http://127.0.0.1:9999").bqEndpoint ==
      "http://127.0.0.1:9999")
    val err = intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        """sources: []
          |targets:
          |  - name: bq
          |    type: bigquery
          |    host: h
          |    database: d
          |""".stripMargin)
    }
    assert(err.getMessage.contains("requires 'project'"))
  }

  test("stage vocabulary: every valid store action and stream parses; every refusal is loud at parse") {
    def stage(fields: String*): String =
      ("stages:\n  - name: s\n    input_dir: /x\n" +:
        fields.map(f => s"    $f\n")).mkString
    def store(st: String, action: String, extra: String*): String =
      stage(Seq("kind: store", s"store: $st", s"action: $action",
        "dir: /d") ++ extra: _*)
    def stream(name: String, extra: String*): String =
      stage(Seq("kind: stream", s"stream: $name", "source_dir: /in",
        "checkpoint: /ck") ++ extra: _*)

    val lifecycle = Seq("build", "rebuild", "compact", "maintain", "stats",
      "recommend", "auto", "delete")
    val accepted: Seq[String] =
      (for {
        st <- Seq("dedup", "phash", "afp", "ivf", "pq", "ivfpq")
        a <- lifecycle
      } yield store(st, a)) ++
        Seq("dedup", "phash", "afp", "ivf", "pq", "ivfpq")
          .map(store(_, "append", "ingest_id: i1")) ++
        Seq("dedup", "phash", "afp", "ivfpq").map(store(_, "dedup")) ++
        Seq("build", "rebuild", "stats").map(store("classifier", _)) ++
        Seq("ivf", "pq", "ivfpq").map(st =>
          stream("index_ingest", s"store: $st", "dir: /d")) ++
        Seq("embedding_dedup", "store_dedup", "image_dedup", "audio_dedup")
          .map(stream(_, "dir: /d", "out_dir: /o")) ++
        Seq(stream("classify", "out_dir: /o"),
          stream("classify", "out_dir: /o", "model_dir: /m"),
          stream("classify", "out_dir: /o", "table: docs"))
    accepted.foreach { yaml =>
      val st = PipelineConfig.parse(yaml).stages.head
      assert(st.kind == "store" || st.kind == "stream", yaml)
    }

    val refused: Seq[(String, String)] = Seq(
      "unknown store" -> store("nope", "build"),
      "unknown action" -> store("ivf", "nope"),
      "classifier maintain" -> store("classifier", "maintain"),
      "classifier recommend" -> store("classifier", "recommend"),
      "classifier append" -> store("classifier", "append", "ingest_id: i1"),
      "classifier dedup" -> store("classifier", "dedup"),
      "dedup on ivf" -> store("ivf", "dedup"),
      "dedup on pq" -> store("pq", "dedup"),
      "append without ingest_id" -> store("ivfpq", "append"),
      "store without dir" -> stage("kind: store", "store: ivf",
        "action: build"),
      "index_ingest without dir" -> stream("index_ingest", "store: ivf"),
      "index_ingest without store" -> stream("index_ingest", "dir: /d"),
      "index_ingest on dedup" -> stream("index_ingest", "store: dedup",
        "dir: /d"),
      "index_ingest on phash" -> stream("index_ingest", "store: phash",
        "dir: /d"),
      "index_ingest on classifier" -> stream("index_ingest",
        "store: classifier", "dir: /d"),
      "unknown stream" -> stream("nope", "dir: /d", "out_dir: /o"),
      "stream without checkpoint" -> stage("kind: stream",
        "stream: store_dedup", "source_dir: /in", "dir: /d", "out_dir: /o"),
      "classify without out_dir" -> stream("classify"),
      "model_dir on a store stage" -> store("ivf", "build", "model_dir: /m"),
      "model_dir on index_ingest" -> stream("index_ingest", "store: ivf",
        "dir: /d", "model_dir: /m"),
      "model_dir with adapters" -> stream("classify", "out_dir: /o",
        "model_dir: /m", "table: docs"),
      "adapters on a store-backed stream" -> stream("image_dedup",
        "dir: /d", "out_dir: /o", "table: docs")) ++
      Seq("embedding_dedup", "store_dedup", "image_dedup", "audio_dedup")
        .flatMap(n => Seq(
          s"$n without dir" -> stream(n, "out_dir: /o"),
          s"$n without out_dir" -> stream(n, "dir: /d")))
    refused.foreach { case (what, yaml) =>
      val e = intercept[IllegalArgumentException](PipelineConfig.parse(yaml))
      assert(e.getMessage.contains("stage 's'"), s"$what: ${e.getMessage}")
    }
  }
}
