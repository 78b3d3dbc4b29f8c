package graft.writer

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import ChSql._

/** ClickHouse writer SQL text shapes — tested without a live server,
  * the reference's writer-test convention (its ClickHouse writer is
  * planned-unimplemented, /root/reference/README.md:121).
  */
class ChSqlSpec extends AnyFunSuite {

  private val schema = ListMap(
    "id" -> ChInt64, "name" -> ChString, "score" -> ChFloat64,
    "active" -> ChBool)

  test("keyed CREATE targets versioned ReplacingMergeTree; key columns non-Nullable") {
    // the UInt64 version column is what makes replace-on-merge keep a
    // DETERMINISTIC duplicate (max version), matching the Postgres
    // upsert semantics — without it ReplacingMergeTree keeps an
    // arbitrary row among same-key duplicates of one load
    assert(createTableSql("t", schema, Seq("id")) ==
      "CREATE TABLE IF NOT EXISTS `t` (`id` Int64, `name` Nullable(String), " +
        "`score` Nullable(Float64), `active` Nullable(Bool), " +
        "`__graft_ver` UInt64) " +
        "ENGINE = ReplacingMergeTree(`__graft_ver`) ORDER BY (`id`)")
    // keyless: plain MergeTree append table, everything Nullable
    assert(createTableSql("t", ListMap("v" -> ChString)) ==
      "CREATE TABLE IF NOT EXISTS `t` (`v` Nullable(String)) " +
        "ENGINE = MergeTree ORDER BY tuple()")
    intercept[IllegalArgumentException](createTableSql("t", schema, Seq("nope")))
    intercept[IllegalArgumentException](createTableSql("t", ListMap.empty))
  }

  test("multi-row INSERT and the merge-compaction statements") {
    // one header for any number of rows: the NDJSON body carries them
    assert(insertHttpSql("t", schema) ==
      "INSERT INTO `t` (`id`, `name`, `score`, `active`) FORMAT JSONEachRow")
    assert(jsonEachRow(schema, Seq(Seq(1L, "a", 0.5, true), Seq(2L, null, null, null))) ==
      "{\"id\":1,\"name\":\"a\",\"score\":0.5,\"active\":true}\n" +
        "{\"id\":2,\"name\":null,\"score\":null,\"active\":null}\n")
    assert(optimizeSql("t") == "OPTIMIZE TABLE `t` FINAL")
    assert(truncateSql("t") == "TRUNCATE TABLE IF EXISTS `t`")
    // backtick quoting doubles embedded backticks
    assert(quoteIdent("we`ird") == "`we``ird`")
  }

  test("spark-schema mapping collapses nested/binary into String") {
    import org.apache.spark.sql.types._
    assert(ofSpark(LongType) == ChInt64)
    assert(ofSpark(IntegerType) == ChInt64)
    assert(ofSpark(DoubleType) == ChFloat64)
    assert(ofSpark(BooleanType) == ChBool)
    assert(ofSpark(StringType) == ChString)
    assert(ofSpark(BinaryType) == ChString)
    assert(ofSpark(ArrayType(LongType)) == ChString)
    assert(ofSpark(StructType(Seq(StructField("a", LongType)))) == ChString)
  }

  test("bind lattice: strings parse into numeric dests, misses go NULL") {
    // the JSONEachRow rendering of the writers' shared coercion lattice
    def render(v: Any, ct: ChType): String =
      jsonEachRow(ListMap("c" -> ct), Seq(Seq(v))).trim
    assert(render("42", ChInt64) == """{"c":42}""") // parses
    assert(render("x", ChInt64) == """{"c":null}""") // miss → NULL
    assert(render(1.5: java.lang.Double, ChInt64) == """{"c":null}""") // fractional → NULL
    assert(render(7: java.lang.Integer, ChString) == """{"c":"7"}""") // stringify
    assert(render(true: java.lang.Boolean, ChInt64) == """{"c":1}""")
    assert(render("2.5", ChFloat64) == """{"c":2.5}""")
    assert(render(null, ChString) == """{"c":null}""")
    // JSON has no NaN/Infinity: non-finite floats land as NULL
    assert(render(Double.NaN: java.lang.Double, ChFloat64) == """{"c":null}""")
  }

  test("sync-state statements: versioned state table, FINAL read, literal escaping") {
    assert(ChSyncState.createSql("graft_sync_state") ==
      "CREATE TABLE IF NOT EXISTS `graft_sync_state` " +
        "(`source_name` String, `watermark` String, `ver` UInt64) " +
        "ENGINE = ReplacingMergeTree(`ver`) ORDER BY (`source_name`)")
    assert(ChSyncState.selectSql("graft_sync_state", "it's api") ==
      "SELECT `source_name`, `watermark` FROM `graft_sync_state` FINAL " +
        "WHERE `source_name` = 'it\\'s api'")
    assert(stringLiteral("""a\'b""") == """'a\\\'b'""")
    // a hostile state-table name is rejected before any SQL renders
    intercept[IllegalArgumentException](
      new ChSyncState("http://x/", "u", "p", "bad;table"))
  }

  test("schema evolution: ADD Nullable, MODIFY widenings, absorb no-ops") {
    val existing = ListMap("id" -> ChInt64, "v" -> ChInt64, "s" -> ChString)
    val incoming = ListMap("id" -> ChInt64, "v" -> ChFloat64,
      "s" -> ChInt64, "tags" -> ChString)
    // v widens Int64→Float64 (MODIFY; ClickHouse casts stored values
    // itself, no USING clause exists), s absorbs (String already holds
    // any incoming), tags is new (ADD Nullable)
    assert(evolveSql("t", existing, incoming) == Seq(
      "ALTER TABLE `t` MODIFY COLUMN `v` Nullable(Float64)",
      "ALTER TABLE `t` ADD COLUMN IF NOT EXISTS `tags` Nullable(String)"))
    // conflicting pair degrades to String, like the shared lattice
    assert(evolveSql("t", ListMap("b" -> ChBool), ListMap("b" -> ChInt64)) ==
      Seq("ALTER TABLE `t` MODIFY COLUMN `b` Nullable(String)"))
    // destination-only columns never dropped
    assert(evolveSql("t", ListMap("x" -> ChInt64, "legacy" -> ChString),
      ListMap("x" -> ChInt64)).isEmpty)
    // system.columns names round-trip, Nullable unwrapped, exotics None
    assert(ofChTypeName("Nullable(Int64)").contains(ChInt64))
    assert(ofChTypeName("String").contains(ChString))
    assert(ofChTypeName("Float32").contains(ChFloat64))
    assert(ofChTypeName("UInt8").contains(ChBool))
    assert(ofChTypeName("DateTime64(3)").isEmpty)
    assert(ofChTypeName("UUID").isEmpty)
  }

  test("staged-swap replace: staging clones the destination, EXCHANGE is one statement") {
    // ONE staging-name derivation across warehouses (PgSql's)
    assert(stagingName("users") == PgSql.stagingName("users"))
    assert(dropStagingSql("users") ==
      "DROP TABLE IF EXISTS `users__graft_stage`")
    // staging is an empty STRUCTURAL CLONE of the destination — every
    // column (user-managed types included), engine, ORDER BY, TTL and
    // settings survive the swap
    assert(createStagingSql("users") ==
      "CREATE TABLE `users__graft_stage` AS `users`")
    assert(exchangeSql("users") ==
      "EXCHANGE TABLES `users` AND `users__graft_stage`")
    // hostile identifiers stay backtick-quoted through the swap
    assert(exchangeSql("we`ird") ==
      "EXCHANGE TABLES `we``ird` AND `we``ird__graft_stage`")
  }
}
