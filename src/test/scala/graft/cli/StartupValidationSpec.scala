package graft.cli

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Startup validation of the stage surface (r16 ADVICE): every config
  * hole that the YAML and the CLI args jointly determine must fail
  * BEFORE any module fetches or any stage computes — not after
  * upstream stages already did their work, and never by silently
  * destroying another stage's landed rows.
  */
class StartupValidationSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(yaml: String, warehouse: Option[String],
      format: String = "parquet"): Int = {
    val dir = Files.createTempDirectory("startup_val")
    val modules = Files.createDirectories(dir.resolve("modules"))
    Files.writeString(dir.resolve("pipelines.yaml"), yaml)
    Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = warehouse, warehouseFormat = format), spark)
  }

  test("dest_table collision with a replace-resolving collider is refused at startup") {
    val dir = Files.createTempDirectory("startup_val_wh")
    // stage 'clean' is chained from by 'dedup', so on the file
    // warehouse it resolves to replace — and 'extra' lands on the SAME
    // dest_table, whose rows each 'clean' run would silently delete
    val yaml =
      s"""stages:
         |  - name: clean
         |    kind: query
         |    query: x_pipeline_corpus_clean
         |    input_dir: $sf
         |    dest_table: shared
         |  - name: extra
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    dest_table: shared
         |  - name: dedup
         |    kind: query
         |    query: x_dedup_exact
         |    input_stage: clean
         |    input_dir: $sf
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      run(yaml, Some(dir.resolve("wh").toString))
    }
    assert(e.getMessage.contains("dest_table 'shared'"), e.getMessage)
    assert(e.getMessage.contains("replace"), e.getMessage)
    // refused at STARTUP: no stage ran, nothing landed
    assert(!Files.exists(dir.resolve("wh")))
  }

  test("dest_table sharing stays legal while every collider appends (audit-trail shape)") {
    val dir = Files.createTempDirectory("startup_val_append")
    val yaml =
      s"""stages:
         |  - name: run_a
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    dest_table: trail
         |  - name: run_b
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    dest_table: trail
         |""".stripMargin
    assert(run(yaml, Some(dir.resolve("wh").toString)) == 0)
    val landed = spark.read.parquet(dir.resolve("wh").resolve("trail").toString)
    val one = graft.queries.Extensions.queries("x_dedup_exact")(spark, sf).count()
    assert(landed.count() == 2 * one) // both stages appended
  }

  test("an explicit write_mode: replace collision is refused even without chaining") {
    val dir = Files.createTempDirectory("startup_val_explicit")
    val yaml =
      s"""stages:
         |  - name: mirror
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    dest_table: shared2
         |    write_mode: replace
         |  - name: trail
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    dest_table: shared2
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      run(yaml, Some(dir.resolve("wh").toString))
    }
    assert(e.getMessage.contains("dest_table 'shared2'"), e.getMessage)
  }

  test("a relation stream on a postgres sink now resolves to replace (staged swap)") {
    // proven through the startup collision check, which evaluates the
    // same resolution: the stream collides with an appender on one
    // dest_table, and ONLY a replace-resolving collider trips it —
    // before the staged swap landed, a JDBC sink never defaulted
    // replace and this config raised the explicit-write_mode error at
    // stage runtime instead
    val yaml =
      s"""targets:
         |  - name: pgt
         |    host: localhost
         |    database: g
         |    auth: {username: u, password: p}
         |stages:
         |  - name: flags
         |    kind: stream
         |    stream: store_dedup
         |    source_dir: /tmp/nope_src
         |    checkpoint: /tmp/nope_ck
         |    dir: /tmp/nope_store
         |    out_dir: /tmp/nope_out
         |    input_dir: $sf
         |    sink: pgt
         |    dest_table: shared3
         |  - name: trail
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    sink: pgt
         |    dest_table: shared3
         |""".stripMargin
    val e = intercept[IllegalArgumentException] { run(yaml, None) }
    assert(e.getMessage.contains("dest_table 'shared3'"), e.getMessage)
  }

  test("a relation stream on a clickhouse sink resolves to replace (EXCHANGE swap)") {
    // the postgres case above on a clickhouse target: its staged swap
    // is atomic too, so the stream defaults to replace and collides
    val yaml =
      s"""targets:
         |  - name: cht
         |    type: clickhouse
         |    host: localhost
         |    database: g
         |    auth: {username: u, password: p}
         |stages:
         |  - name: flags
         |    kind: stream
         |    stream: store_dedup
         |    source_dir: /tmp/nope_src
         |    checkpoint: /tmp/nope_ck
         |    dir: /tmp/nope_store
         |    out_dir: /tmp/nope_out
         |    input_dir: $sf
         |    sink: cht
         |    dest_table: shared4
         |  - name: trail
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    sink: cht
         |    dest_table: shared4
         |""".stripMargin
    val e = intercept[IllegalArgumentException] { run(yaml, None) }
    assert(e.getMessage.contains("dest_table 'shared4'"), e.getMessage)
  }

  test("a relation stream on a bigquery sink without write_mode is refused before any drain") {
    // bigquery's replace is truncate-then-load, so replace never
    // defaults there and appending would compound the cumulative
    // relation: the stage fails before its drain takes the lease
    val dir = Files.createTempDirectory("startup_val_bq")
    val ck = dir.resolve("ck")
    val yaml =
      s"""targets:
         |  - name: bqt
         |    type: bigquery
         |    host: http://127.0.0.1:1
         |    project: p
         |    database: ds
         |    auth: {password: tok}
         |stages:
         |  - name: flags
         |    kind: stream
         |    stream: store_dedup
         |    source_dir: ${dir.resolve("src")}
         |    checkpoint: $ck
         |    dir: ${dir.resolve("store")}
         |    out_dir: ${dir.resolve("out")}
         |    input_dir: $sf
         |    sink: bqt
         |    dest_table: flags
         |""".stripMargin
    assert(run(yaml, None) == 1)
    assert(!Files.exists(ck), "the drain's lease was taken")
    assert(!Files.exists(dir.resolve("out")))
  }

  test("same dest_table on DIFFERENT sinks is not a collision (distinct databases)") {
    // two targets: the tables live in different databases and can
    // never overwrite each other, so startup must NOT refuse; the run
    // then fails at stage execution (no JDBC driver in the sandbox),
    // proving validation let it through
    val yaml =
      s"""targets:
         |  - name: pg_east
         |    host: east
         |    database: g
         |    auth: {username: u, password: p}
         |  - name: pg_west
         |    host: west
         |    database: g
         |    auth: {username: u, password: p}
         |stages:
         |  - name: mirror_east
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    sink: pg_east
         |    dest_table: mirror
         |    write_mode: replace
         |  - name: mirror_west
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    sink: pg_west
         |    dest_table: mirror
         |    write_mode: replace
         |""".stripMargin
    assert(run(yaml, None) == 2) // both stages ran and failed at JDBC
  }

  test("input_stage without --warehouse fails at startup, before the upstream runs") {
    val yaml =
      s"""stages:
         |  - name: clean
         |    kind: query
         |    query: x_pipeline_corpus_clean
         |    input_dir: $sf
         |  - name: dedup
         |    kind: query
         |    query: x_dedup_exact
         |    input_stage: clean
         |    input_dir: $sf
         |""".stripMargin
    val e = intercept[IllegalArgumentException] { run(yaml, None) }
    assert(e.getMessage.contains("input_stage 'clean'"), e.getMessage)
    assert(e.getMessage.contains("--warehouse"), e.getMessage)
  }

  test("input_stage with a non-parquet warehouse format fails at startup") {
    val dir = Files.createTempDirectory("startup_val_csv")
    val yaml =
      s"""stages:
         |  - name: clean
         |    kind: query
         |    query: x_pipeline_corpus_clean
         |    input_dir: $sf
         |  - name: dedup
         |    kind: query
         |    query: x_dedup_exact
         |    input_stage: clean
         |    input_dir: $sf
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      run(yaml, Some(dir.resolve("wh").toString), format = "csv")
    }
    assert(e.getMessage.contains("parquet"), e.getMessage)
    assert(!Files.exists(dir.resolve("wh"))) // nothing ran
  }
}
