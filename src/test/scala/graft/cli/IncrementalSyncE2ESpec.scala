package graft.cli

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.writer.{FileSyncState, PgSql, PgSyncState, PgTestServer}

/** Incremental sync end-to-end: run 1 fetches everything and stores
  * the high-water mark; the upstream then changes; run 2 carries
  * `since=<watermark>` and fetches ONLY the delta; the watermark
  * advances; a steady-state run 3 re-fetches just the boundary row
  * (the stub filters `updated_at >= since`, the common API contract)
  * and the mark holds. The PG leg pins the state table's generated
  * DDL/upsert and the keyed MERGE landing the overlapping delta
  * idempotently against a live server — the StreamingPgLive
  * convention (SQL text via psql; pgjdbc is not on this classpath).
  */
class IncrementalSyncE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  // (since param if any) per request, in order
  private val sinceSeen = new CopyOnWriteArrayList[Option[String]]()
  // upstream table: (id, name, updated_at); mutable between "days"
  @volatile private var upstream: Seq[(Long, String, String)] = Seq.empty

  private val pg = new PgTestServer
  private var pgUp = false

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/items", (ex: HttpExchange) => {
      val params = graft.HttpStub.qparams(ex)
      val since = params.get("since")
      sinceSeen.add(since)
      val rows = upstream
        .filter { case (_, _, ts) => since.forall(ts >= _) }
        .map { case (id, name, ts) =>
          s"""{"id": $id, "name": "$name", "updated_at": "$ts"}"""
        }
      graft.HttpStub.respond(ex, s"""{"data": [${rows.mkString(",")}]}""")
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    pgUp = pg.start()
    if (!pgUp) info(s"live PG unavailable, PG leg cancelled:\n${pg.lastBootLog}")
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (pgUp) pg.stop()
  }

  test("watermark round-trip: full fetch, then since-filtered deltas only") {
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("inc-sync")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("items.sql"),
      """{{ sink(name="pg_sink") }}
        |SELECT id, name, updated_at
        |FROM {{ use_source("items_api") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: items_api
         |    url: $base/items
         |    table_destination_name: items
         |    data_path: /data
         |    primary_key_in_dest: id
         |    incremental:
         |      cursor_field: updated_at
         |targets:
         |  - name: pg_sink
         |    type: postgres
         |    host: localhost
         |    database: unused
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)
    val state = new FileSyncState(dir.resolve("state.json").toString)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(dir.resolve("warehouse").toString))
    def run(): Int =
      Main.run(args, spark, Map.empty[String, String].get,
        syncStateOverride = Some(state))

    // day 1: four rows exist upstream
    upstream = Seq(
      (1L, "a", "2026-08-01T00:00:01"), (2L, "b", "2026-08-01T00:00:02"),
      (3L, "c", "2026-08-01T00:00:03"), (4L, "d", "2026-08-01T00:00:04"))
    sinceSeen.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 && sinceSeen.get(0).isEmpty,
      "run 1 has no stored watermark, so no since param")
    assert(state.get("items_api").contains("2026-08-01T00:00:04"))

    // day 2: row 2 is updated, row 5 arrives
    upstream = Seq(
      (1L, "a", "2026-08-01T00:00:01"),
      (2L, "b-renamed", "2026-08-01T00:00:05"),
      (3L, "c", "2026-08-01T00:00:03"), (4L, "d", "2026-08-01T00:00:04"),
      (5L, "e", "2026-08-01T00:00:06"))
    sinceSeen.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 &&
      sinceSeen.get(0).contains("2026-08-01T00:00:04"),
      s"run 2 must ask for the delta: $sinceSeen")
    // only the boundary row + the two changed rows came back —
    // proven by what run 2 wrote (file sink holds exactly the fetch)
    val delta = spark.read
      .parquet(s"${args.warehouse.get}/items")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(delta == Set(2L, 4L, 5L), s"delta fetch was $delta")
    assert(state.get("items_api").contains("2026-08-01T00:00:06"))

    // day 3 (steady state, nothing changed): only the boundary row
    // re-fetches and the mark holds — the >= contract keeps the
    // fetch non-empty, and MERGE absorbs the repeat idempotently
    sinceSeen.clear()
    assert(run() == 0)
    assert(sinceSeen.get(0).contains("2026-08-01T00:00:06"))
    assert(state.get("items_api").contains("2026-08-01T00:00:06"))
  }

  test("bigquery target: watermark lives in the dataset via jobs.query; deltas only") {
    val spark = graft.SparkTestSession.spark
    // stub warehouse: answers the state CREATE/SELECT/MERGE and the
    // data statements; remembers the MERGEd watermark like a real
    // dataset would
    @volatile var storedMark: Option[String] = None
    val statements = new CopyOnWriteArrayList[String]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    server.createContext("/bigquery/v2/projects/pi/queries", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val q = mapper.readTree(body).get("query").asText()
      statements.add(q)
      if (q.startsWith("SELECT `watermark` FROM `ds.graft_sync_state`")) {
        val rows = storedMark
          .map(w => s""","rows":[{"f":[{"v":"$w"}]}]""").getOrElse("")
        graft.HttpStub.respond(ex, s"""{"jobComplete": true$rows}""")
      } else {
        if (q.startsWith("MERGE `ds.graft_sync_state`"))
          storedMark = "'([^']*)' AS `watermark`".r
            .findFirstMatchIn(q).map(_.group(1))
        graft.HttpStub.respond(ex, """{"jobComplete": true}""")
      }
    })
    val dir = Files.createTempDirectory("inc-sync-bq")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("items.sql"),
      """{{ sink(name="bq") }}
        |SELECT id, name, updated_at
        |FROM {{ use_source("items_api") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: items_api
         |    url: $base/items
         |    table_destination_name: items
         |    data_path: /data
         |    primary_key_in_dest: id
         |    incremental:
         |      cursor_field: updated_at
         |targets:
         |  - name: bq
         |    type: bigquery
         |    host: $base
         |    project: pi
         |    database: ds
         |    auth:
         |      username: unused
         |      password: tok
         |""".stripMargin)
    val args = Main.Args(modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString)
    def run(): Int = Main.run(args, spark, Map.empty[String, String].get)
    // a keyed load appends its rows to a stage, then ONE MERGE per run
    // moves them into `ds.items`
    def dataMergeIds(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      val qs = statements.asScala.toList
      assert(qs.count(_.startsWith("MERGE `ds.items`")) == 1, qs)
      qs.filter(_.startsWith("INSERT INTO `ds.items__stage_"))
        .flatMap("\\((\\d+), '".r.findAllMatchIn(_).map(_.group(1).toLong))
    }

    upstream = Seq(
      (1L, "a", "2026-08-01T00:00:01"), (2L, "b", "2026-08-01T00:00:02"),
      (3L, "c", "2026-08-01T00:00:03"), (4L, "d", "2026-08-01T00:00:04"))
    sinceSeen.clear(); statements.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 && sinceSeen.get(0).isEmpty)
    assert(storedMark.contains("2026-08-01T00:00:04"))
    assert(dataMergeIds().sorted == Seq(1L, 2L, 3L, 4L))

    upstream = upstream.filterNot(_._1 == 2L) ++ Seq(
      (2L, "b-renamed", "2026-08-01T00:00:05"),
      (5L, "e", "2026-08-01T00:00:06"))
    sinceSeen.clear(); statements.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 &&
      sinceSeen.get(0).contains("2026-08-01T00:00:04"))
    // only the boundary row + the two changed rows were MERGEd
    assert(dataMergeIds().sorted == Seq(2L, 4L, 5L))
    assert(storedMark.contains("2026-08-01T00:00:06"))
  }

  test("clickhouse HTTP target: watermark in a versioned state table; deltas only") {
    val spark = graft.SparkTestSession.spark
    @volatile var storedMark: Option[String] = None
    val bodies = new CopyOnWriteArrayList[String]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    server.createContext("/ch", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      bodies.add(body)
      if (body.startsWith(
          "SELECT `source_name`, `watermark` FROM `graft_sync_state` FINAL"))
        graft.HttpStub.respond(ex,
          storedMark.map(w => s"items_api\t$w\n").getOrElse(""))
      else {
        if (body.startsWith("INSERT INTO `graft_sync_state`"))
          storedMark = body.linesIterator.drop(1).filter(_.nonEmpty)
            .toSeq.headOption
            .map(l => mapper.readTree(l).get("watermark").asText())
        graft.HttpStub.respond(ex, "")
      }
    })
    val dir = Files.createTempDirectory("inc-sync-ch")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(modules.resolve("items.sql"),
      """{{ sink(name="ch") }}
        |SELECT id, name, updated_at
        |FROM {{ use_source("items_api") }}""".stripMargin)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""sources:
         |  - name: items_api
         |    url: $base/items
         |    table_destination_name: items
         |    data_path: /data
         |    primary_key_in_dest: id
         |    incremental:
         |      cursor_field: updated_at
         |targets:
         |  - name: ch
         |    type: clickhouse
         |    host: $base/ch
         |    database: db
         |    auth:
         |      username: u
         |      password: p
         |""".stripMargin)
    val args = Main.Args(modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString)
    def run(): Int = Main.run(args, spark, Map.empty[String, String].get)
    def insertedIds(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      bodies.asScala.toList.filter(_.startsWith("INSERT INTO `items`"))
        .flatMap(_.linesIterator.drop(1).filter(_.nonEmpty))
        .map(l => mapper.readTree(l).get("id").asLong())
    }

    upstream = Seq(
      (1L, "a", "2026-08-01T00:00:01"), (2L, "b", "2026-08-01T00:00:02"),
      (3L, "c", "2026-08-01T00:00:03"), (4L, "d", "2026-08-01T00:00:04"))
    sinceSeen.clear(); bodies.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 && sinceSeen.get(0).isEmpty)
    assert(storedMark.contains("2026-08-01T00:00:04"))
    assert(insertedIds().sorted == Seq(1L, 2L, 3L, 4L))
    import scala.jdk.CollectionConverters._
    // keyed load: versioned engine + the post-load compaction ran
    assert(bodies.asScala.exists(_.contains("ReplacingMergeTree(`__graft_ver`)")))
    assert(bodies.asScala.exists(_.startsWith("OPTIMIZE TABLE `items` FINAL")))

    upstream = upstream.filterNot(_._1 == 2L) ++ Seq(
      (2L, "b-renamed", "2026-08-01T00:00:05"),
      (5L, "e", "2026-08-01T00:00:06"))
    sinceSeen.clear(); bodies.clear()
    assert(run() == 0)
    assert(sinceSeen.size == 1 &&
      sinceSeen.get(0).contains("2026-08-01T00:00:04"))
    assert(insertedIds().sorted == Seq(2L, 4L, 5L))
    assert(storedMark.contains("2026-08-01T00:00:06"))
  }

  test("config: incremental requires a merge key") {
    val e = intercept[IllegalArgumentException](
      graft.config.PipelineConfig.parse(
        """sources:
          |  - name: api
          |    url: http://x/
          |    incremental:
          |      cursor_field: updated_at
          |""".stripMargin))
    assert(e.getMessage.contains("primary_key_in_dest"))
    // with the key, the block parses and defaults since_param
    val cfg = graft.config.PipelineConfig.parse(
      """sources:
        |  - name: api
        |    url: http://x/
        |    primary_key_in_dest: id
        |    incremental:
        |      cursor_field: updated_at
        |""".stripMargin)
    val inc = cfg.source("api").incremental.get
    assert(inc.cursorField == "updated_at" && inc.sinceParam == "since")
  }

  test("live PG: state-table DDL + upsert round-trip; delta MERGE lands idempotently") {
    assume(pgUp, "live PG unavailable")
    def sql(q: String): String = {
      val (code, out) = pg.sqlRaw(q)
      assert(code == 0, s"psql failed for:\n$q\n$out")
      out
    }
    // the state table: create is idempotent, upsert replaces in place
    sql("DROP TABLE IF EXISTS graft_sync_state")
    sql(PgSyncState.createSql("graft_sync_state"))
    sql(PgSyncState.createSql("graft_sync_state")) // IF NOT EXISTS
    def upsert(src: String, w: String): Unit = {
      sql(PgTestServer.fill(PgSyncState.upsertSql("graft_sync_state"),
        Seq(s"'$src'", s"'$w'")))
      ()
    }
    upsert("items_api", "2026-08-01T00:00:04")
    upsert("items_api", "2026-08-01T00:00:06")
    upsert("other_api", "42")
    assert(sql("SELECT count(*) FROM graft_sync_state") == "2")
    assert(sql(
      "SELECT watermark FROM graft_sync_state WHERE source_name = 'items_api'")
      == "2026-08-01T00:00:06")

    // the delta-landing half: run-1 rows then the overlapping run-2
    // delta through the writer's own MERGE — update in place, insert
    // the new, re-absorb the boundary row, no duplicates
    val digits = sql("SHOW server_version").takeWhile(_.isDigit)
    assume(digits.nonEmpty && digits.toInt >= 15, "MERGE path needs 15+")
    val schema = scala.collection.immutable.ListMap[String, PgSql.PgType](
      "id" -> PgSql.PgBigInt, "name" -> PgSql.PgText,
      "updated_at" -> PgSql.PgText)
    sql("DROP TABLE IF EXISTS items")
    sql(PgSql.createTableSql("items", schema, Seq("id")))
    def merge(rows: Seq[(Long, String, String)]): Unit = {
      sql(PgTestServer.fill(PgSql.mergeSql("items", schema, Seq("id"), rows.length),
        rows.flatMap { case (id, n, ts) => Seq(id.toString, s"'$n'", s"'$ts'") }))
      ()
    }
    merge(Seq(
      (1L, "a", "2026-08-01T00:00:01"), (2L, "b", "2026-08-01T00:00:02"),
      (3L, "c", "2026-08-01T00:00:03"), (4L, "d", "2026-08-01T00:00:04")))
    merge(Seq( // the run-2 delta, boundary row included
      (2L, "b-renamed", "2026-08-01T00:00:05"),
      (4L, "d", "2026-08-01T00:00:04"),
      (5L, "e", "2026-08-01T00:00:06")))
    assert(sql("SELECT count(*) FROM items") == "5")
    assert(sql("SELECT name FROM items WHERE id = 2") == "b-renamed")
    merge(Seq((5L, "e", "2026-08-01T00:00:06"))) // steady-state repeat
    assert(sql("SELECT count(*) FROM items") == "5")
  }
}
