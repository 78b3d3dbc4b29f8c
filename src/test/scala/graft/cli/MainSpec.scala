package graft.cli

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §7.4 minimum slice, end-to-end: a module selecting from a
  * stubbed limit_offset source must render, capture sink+source, fetch
  * two pages, infer the schema, execute the WHERE/projection SQL, and
  * land the expected parquet rows — the Spark re-creation of the
  * reference's Quick Start (/root/reference/README.md:185-288).
  */
class MainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val pagedRequests = new java.util.concurrent.atomic.AtomicInteger(0)

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/paged", (ex: HttpExchange) => {
      pagedRequests.incrementAndGet()
      val params = graft.HttpStub.qparams(ex)
      val page = params.getOrElse("page", "1").toInt
      val per = params.getOrElse("per_page", "100").toInt
      val all = (1 to 8).map(i => s"""{"id": $i, "v": "p$i"}""")
      val slice = all.slice((page - 1) * per, (page - 1) * per + per)
      graft.HttpStub.respond(ex,
        s"""{"meta": {"total": 8}, "data": [${slice.mkString(",")}]}""")
    })
    server.createContext("/posts", (ex: HttpExchange) => {
      val params = graft.HttpStub.qparams(ex)
      val start = params.getOrElse("start", "0").toInt
      val limit = params.getOrElse("limit", "100").toInt
      val all = (1 to 8).map(i =>
        s"""{"userId": ${i % 4 * 3}, "id": $i, "title": "t$i", "body": "b$i"}""")
      val page = all.slice(start, start + limit)
      graft.HttpStub.respond(ex, s"""{"data": [${page.mkString(",")}]}""")
    })
    // bearer-gated endpoint: 403 unless the exact Authorization header
    // arrives — exercises the bearer_token_env → .env → header wiring
    server.createContext("/secure", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val (status, body) =
        if (auth.contains("Bearer env-tok-7")) (200, """{"data": [{"id": 1}]}""")
        else (403, """{"data": []}""")
      graft.HttpStub.respond(ex, body, status = status)
    })
    // 150 page_number rows, 10 a page, whose `v` turns fractional at
    // row 125 — past the 100-row schema sample
    server.createContext("/drift", (ex: HttpExchange) => {
      val params = graft.HttpStub.qparams(ex)
      val page = params("page").toInt
      val per = params("per_page").toInt
      val all = (1 to 150).map(i =>
        s"""{"id": $i, "v": ${if (i == 125) "125.5" else i.toString}}""")
      val slice = all.slice((page - 1) * per, (page - 1) * per + per)
      graft.HttpStub.respond(ex,
        s"""{"meta": {"total": 150}, "data": [${slice.mkString(",")}]}""")
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = server.stop(0)

  test("pipeline run: render → fetch (2 pages) → SQL → parquet sink") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id, userId AS user_id, title, body
        |FROM {{ use_source("json_placeholder_posts") }}
        |WHERE userId > 5""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: json_placeholder_posts
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |    pagination:
         |      kind: limit_offset
         |      limit_param: limit
         |      offset_param: start
         |    retry:
         |      max_attempts: 2
         |      max_delay_secs: 1
         |      min_delay_secs: 0
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)

    val failed = Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), spark)
    assert(failed == 0)

    // userId ∈ {0,3,6,9}; > 5 keeps userId 6 (ids 2,6) and 9 (ids 3,7)
    val out = spark.read.parquet(s"$warehouse/posts")
    assert(out.schema.fieldNames.sorted.toSeq == Seq("body", "id", "title", "user_id"))
    val got = out.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("user_id")))
    assert(got.toSeq == Seq((2L, 6L), (3L, 9L), (6L, 6L), (7L, 9L)))
  }

  test("--var bindings drive {% if %} branches in a module end-to-end") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline-vars")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id{% if wide %}, userId AS user_id, title{% endif %}
        |FROM {{ use_source("json_placeholder_posts") }}
        |WHERE userId > {{ min_user }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: json_placeholder_posts
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |    pagination:
         |      kind: limit_offset
         |      limit_param: limit
         |      offset_param: start
         |    retry:
         |      max_attempts: 2
         |      max_delay_secs: 1
         |      min_delay_secs: 0
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)

    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse),
      templateVars = Map("wide" -> false, "min_user" -> "5"))
    assert(Main.run(args, spark) == 0)
    val out = spark.read.parquet(s"$warehouse/posts")
    // the falsy branch dropped the wide columns; the var filled the filter
    assert(out.schema.fieldNames.toSeq == Seq("id"))
    assert(out.count() == 4)
  }

  /** Runs one module over the stubbed 8-item `page_number` source with
    * a YAML `total_items_pointer`, into a parquet warehouse; returns the
    * landed table's directory.
    */
  private def runPaged(pageSize: Int): String = {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline-paged")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(modules.resolve("paged.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id, v FROM {{ use_source("paged_src") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: paged_src
         |    url: $base/paged
         |    table_destination_name: paged
         |    data_path: /data
         |    page_size: $pageSize
         |    pagination:
         |      kind: page_number
         |      page_param: page
         |      per_page_param: per_page
         |      total_items_pointer: /meta/total
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)

    pagedRequests.set(0)
    val failed = Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), spark)
    assert(failed == 0)
    s"$warehouse/paged"
  }

  test("page_number with YAML total_items_pointer fans out without an empty-page probe") {
    val out = graft.SparkTestSession.spark.read.parquet(runPaged(pageSize = 3))
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 8L))
    // ceil(8/3) = 3 pages: the known-total path fetches exactly 3
    // requests (page 1 + parallel 2..3); the sequential fallback would
    // need a 4th, empty-page probe to stop
    assert(pagedRequests.get == 3,
      s"expected exactly 3 page fetches, saw ${pagedRequests.get}")
  }

  test("page_number fan-out lands one data file per task, not per page") {
    val spark = graft.SparkTestSession.spark
    // one item per page: 8 pages against defaultParallelism 4
    val table = runPaged(pageSize = 1)
    val ids = spark.read.parquet(table).select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (1L to 8L))
    assert(pagedRequests.get == 8,
      s"expected exactly 8 page fetches, saw ${pagedRequests.get}")
    // page 1 is one task and pages 2..8 at most one task per core
    val files = new java.io.File(table).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val bound = 1 + spark.sparkContext.defaultParallelism
    assert(files >= 1 && files <= bound,
      s"expected at most $bound data files, saw $files")
  }

  test("--truncate-first drops the prior sink contents before loading") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline-trunc")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id FROM {{ use_source("src") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: src
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)

    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse),
      truncateFirst = true)
    assert(Main.run(args, spark) == 0)
    assert(Main.run(args, spark) == 0)
    // without truncate the second append would double the rows
    assert(spark.read.parquet(s"$warehouse/posts").count() == 8)
  }

  test("bearer_token_env resolves through a .env file end-to-end") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline-bearer")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(dir.resolve(".env"), "SECURE_API_TOKEN=env-tok-7\n")
    Files.writeString(modules.resolve("secure.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id FROM {{ use_source("secure_api") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: secure_api
         |    url: $base/secure
         |    table_destination_name: secure
         |    data_path: /data
         |    bearer_token_env: SECURE_API_TOKEN
         |    retry:
         |      max_attempts: 2
         |      max_delay_secs: 1
         |      min_delay_secs: 0
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    // the .env next to the config supplies the token (the process env
    // does not carry SECURE_API_TOKEN)
    assert(Main.run(args, spark,
      graft.config.DotEnv.resolver(dir.toString)) == 0)
    assert(spark.read.parquet(s"$warehouse/secure").count() == 1)
    // without the .env overlay the env indirection is a config error
    // and the module fails (the endpoint would 403 anyway)
    assert(Main.run(args, spark, (_: String) => None) == 1)
  }

  test("--pg-copy CLI flag lands in the parsed args") {
    assert(Main.parseArgs(Array(
      "-m", "mods", "-y", "cfg.yaml", "--pg-copy")).pgCopy)
    assert(!Main.parseArgs(Array("-m", "mods", "-y", "cfg.yaml")).pgCopy)
  }

  test("--page-size must be positive") {
    def parse(v: String) =
      Main.parseArgs(Array("-m", "mods", "-y", "cfg.yaml", "--page-size", v))
    assert(parse("7").pageSize == 7L)
    for (bad <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException](parse(bad))
      assert(e.getMessage.contains(s"--page-size must be positive, got $bad"))
    }
  }

  test("--master CLI flag lands in the parsed args") {
    val args = Main.parseArgs(Array(
      "-m", "mods", "-y", "cfg.yaml", "--master", "spark://m:7077"))
    assert(args.master.contains("spark://m:7077"))
    assert(Main.parseArgs(Array("-m", "mods", "-y", "cfg.yaml")).master.isEmpty)
  }

  test("bigquery target end-to-end: config -> factory -> REST writes land") {
    val spark = graft.SparkTestSession.spark
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    server.createContext("/bigquery/v2/projects/p1/queries", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      queries.add(mapper.readTree(body).get("query").asText())
      graft.HttpStub.respond(ex, """{"jobComplete": true}""")
    })

    val dir = Files.createTempDirectory("pipeline-bq")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="bq") }}
        |SELECT id, title FROM {{ use_source("posts_api") }} WHERE id <= 2""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: posts_api
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |    retry:
         |      max_attempts: 2
         |      max_delay_secs: 1
         |      min_delay_secs: 0
         |targets:
         |  - name: bq
         |    type: bigquery
         |    host: $base
         |    project: p1
         |    database: ds
         |    auth:
         |      username: unused
         |      password: stub-token
         |""".stripMargin)

    val failed = Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString), spark)
    assert(failed == 0)

    import scala.jdk.CollectionConverters._
    val qs = queries.asScala.toList
    assert(qs.exists(_.startsWith(
      "CREATE TABLE IF NOT EXISTS `ds.posts` (`id` INT64, `title` STRING)")), qs)
    val inserted = qs.filter(_.startsWith("INSERT INTO `ds.posts` (`id`, `title`) VALUES "))
    assert(inserted.flatMap(q =>
      "\\((\\d+), '(t\\d+)'\\)".r.findAllMatchIn(q)
        .map(m => (m.group(1).toLong, m.group(2)))).sorted ==
      List((1L, "t1"), (2L, "t2")))
  }

  test("clickhouse target with a scheme-carrying host wires the HTTP transport e2e") {
    val spark = graft.SparkTestSession.spark
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/ch", (ex: HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      graft.HttpStub.respond(ex, "")
    })
    val dir = Files.createTempDirectory("pipeline-ch-http")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="ch") }}
        |SELECT id, title FROM {{ use_source("posts_api") }} WHERE id <= 2""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: posts_api
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |targets:
         |  - name: ch
         |    type: clickhouse
         |    host: $base/ch
         |    database: db
         |    auth:
         |      username: u1
         |      password: p1
         |""".stripMargin)
    val failed = Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString), spark)
    assert(failed == 0)
    import scala.jdk.CollectionConverters._
    val qs = bodies.asScala.toList
    assert(qs.exists(_.startsWith("CREATE TABLE IF NOT EXISTS `posts`")), qs)
    val rows = qs.filter(_.startsWith("INSERT INTO `posts`"))
      .flatMap(_.linesIterator.drop(1)).filter(_.nonEmpty).sorted
    assert(rows == List("""{"id":1,"title":"t1"}""", """{"id":2,"title":"t2"}"""))
  }

  test("clickhouse target with a bare host lands rows over HTTP on host:port") {
    val spark = graft.SparkTestSession.spark
    // a bare host is ClickHouse's HTTP interface on `port` — the stub
    // answers at the server root, where `http://host:port/` points
    val ch = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val databases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    ch.createContext("/", (ex: HttpExchange) => {
      databases.add(ex.getRequestURI.getQuery)
      bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      graft.HttpStub.respond(ex, "")
    })
    ch.start()
    try {
      val dir = Files.createTempDirectory("pipeline-ch-bare")
      val modules = Files.createDirectories(dir.resolve("modules"))
      Files.writeString(modules.resolve("posts.sql"),
        """{{ sink(name="ch") }}
          |SELECT id, title FROM {{ use_source("posts_api") }} WHERE id <= 2""".stripMargin)
      Files.writeString(dir.resolve("pipelines.yaml"),
        s"""sources:
           |  - name: posts_api
           |    url: $base/posts
           |    table_destination_name: posts
           |    data_path: /data
           |targets:
           |  - name: ch
           |    type: clickhouse
           |    host: 127.0.0.1
           |    port: ${ch.getAddress.getPort}
           |    database: db
           |    auth:
           |      username: u1
           |      password: p1
           |""".stripMargin)
      val failed = Main.run(Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString), spark)
      assert(failed == 0)
      import scala.jdk.CollectionConverters._
      val qs = bodies.asScala.toList
      assert(databases.asScala.toSet == Set("database=db"))
      val rows = qs.filter(_.startsWith("INSERT INTO `posts` (`id`, `title`) FORMAT JSONEachRow"))
        .flatMap(_.linesIterator.drop(1)).filter(_.nonEmpty).sorted
      assert(rows == List("""{"id":1,"title":"t1"}""", """{"id":2,"title":"t2"}"""), qs)
    } finally ch.stop(0)
  }

  test("schema_evolution + bigquery target is rejected loudly, not silently ignored") {
    val spark = graft.SparkTestSession.spark
    val bqCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/bigquery/v2/projects/pse/queries", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      bqCalls.incrementAndGet()
      graft.HttpStub.respond(ex, """{"jobComplete": true}""")
    })
    val dir = Files.createTempDirectory("pipeline-bq-evo")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="bq") }}
        |SELECT id, title FROM {{ use_source("posts_api") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: posts_api
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |    schema_evolution: true
         |targets:
         |  - name: bq
         |    type: bigquery
         |    host: $base
         |    project: pse
         |    database: ds
         |    auth:
         |      username: unused
         |      password: stub-token
         |""".stripMargin)
    val failed = Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString), spark)
    // the module FAILS at wiring — the writer has no evolution
    // support, so nothing may reach the API (unlike a silent drop)
    assert(failed == 1)
    assert(bqCalls.get() == 0)
  }

  // the two modules land in different tables, so they run as two
  // concurrent lanes: one lane's [datatype] failure does not stop the
  // other, and run counts it once
  test("a row that does not fit its sampled schema fails its module as " +
      "[datatype]; a sibling module still lands") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("pipeline-drift")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(modules.resolve("drift.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id, v FROM {{ use_source("drift_src") }}""".stripMargin)
    Files.writeString(modules.resolve("posts.sql"),
      """{{ sink(name="sink1") }}
        |SELECT id FROM {{ use_source("posts_src") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: drift_src
         |    url: $base/drift
         |    table_destination_name: drifted
         |    data_path: /data
         |    page_size: 10
         |    pagination:
         |      kind: page_number
         |      page_param: page
         |      per_page_param: per_page
         |      total_items_pointer: /meta/total
         |  - name: posts_src
         |    url: $base/posts
         |    table_destination_name: posts
         |    data_path: /data
         |targets:
         |  - name: sink1
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)

    val (failed, errors) = graft.LogCapture(
        org.apache.logging.log4j.Level.ERROR)(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), spark))
    assert(failed == 1)
    assert(errors.exists(_.startsWith("module drift.sql failed [datatype]")),
      s"no [datatype] failure logged: ${errors.mkString(" | ")}")
    assert(spark.read.parquet(s"$warehouse/posts").count() == 8)
  }
}
