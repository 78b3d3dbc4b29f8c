package graft.writer

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import BqSql._

/** BigQuery writer SQL text shapes — rendered-literal DML because the
  * REST `jobs.query` surface takes full query text (the reference's
  * BigQuery writer is planned-unimplemented,
  * /root/reference/README.md:120).
  */
class BqSqlSpec extends AnyFunSuite {

  private val schema = ListMap(
    "id" -> BqInt64, "name" -> BqString, "score" -> BqFloat64,
    "meta" -> BqJson)

  test("CREATE with the unenforced-key form BigQuery documents") {
    assert(createTableSql("ds.t", schema, Seq("id")) ==
      "CREATE TABLE IF NOT EXISTS `ds.t` (`id` INT64, `name` STRING, " +
        "`score` FLOAT64, `meta` JSON, PRIMARY KEY (`id`) NOT ENFORCED)")
    assert(createTableSql("ds.t", ListMap("v" -> BqString)) ==
      "CREATE TABLE IF NOT EXISTS `ds.t` (`v` STRING)")
  }

  test("INSERT renders literals: escaping, JSON, bytes, specials") {
    val s2 = ListMap("id" -> BqInt64, "name" -> BqString,
      "meta" -> BqJson, "blob" -> BqBytes)
    val sql = insertSql("ds.t", s2, Seq(
      Seq(1L, "it's\nfine", """{"k": 1}""", Array[Byte](1, 2)),
      Seq(null, null, null, null)))
    assert(sql ==
      "INSERT INTO `ds.t` (`id`, `name`, `meta`, `blob`) VALUES " +
        """(1, 'it\'s\nfine', JSON '{"k": 1}', FROM_BASE64('AQI=')), """ +
        "(NULL, NULL, NULL, NULL)")
    // non-finite doubles need the CAST spelling, not a bare literal
    assert(literal(Double.NaN: java.lang.Double, BqFloat64) ==
      "CAST('NaN' AS FLOAT64)")
    assert(literal(Double.PositiveInfinity: java.lang.Double, BqFloat64) ==
      "CAST('inf' AS FLOAT64)")
    // the shared coercion lattice: parse-or-NULL into numerics
    assert(literal("42", BqInt64) == "42")
    assert(literal("x", BqInt64) == "NULL")
    assert(literal(1.5: java.lang.Double, BqInt64) == "NULL")
    assert(literal(7L: java.lang.Long, BqString) == "'7'")
  }

  test("MERGE reads the stage key-deduplicated; all-key schema skips UPDATE") {
    val s2 = ListMap("id" -> BqInt64, "v" -> BqString)
    assert(mergeFromTableSql("ds.t", "ds.t__stage_1", s2, Seq("id")) ==
      "MERGE `ds.t` AS t USING (SELECT * EXCEPT (__rn) FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY `id`) AS __rn " +
        "FROM `ds.t__stage_1`) WHERE __rn = 1) AS s " +
        "ON t.`id` = s.`id` " +
        "WHEN MATCHED THEN UPDATE SET `v` = s.`v` " +
        "WHEN NOT MATCHED THEN INSERT (`id`, `v`) VALUES (s.`id`, s.`v`)")
    // all-key schema: no UPDATE branch, like the Postgres forms
    val keyOnly = ListMap("id" -> BqInt64)
    assert(!mergeFromTableSql("ds.t", "ds.s", keyOnly, Seq("id"))
      .contains("WHEN MATCHED"))
    intercept[IllegalArgumentException](mergeFromTableSql("ds.t", "ds.s", s2, Nil))
    assert(dropTableSql("ds.s") == "DROP TABLE IF EXISTS `ds.s`")
    assert(truncateSql("ds.t") == "TRUNCATE TABLE `ds.t`")
    // backtick escape is backslash-based in GoogleSQL, not doubling
    assert(quoteIdent("a`b") == "`a\\`b`")
  }

  test("sync-state statements: dataset-resident watermark, escaped literals") {
    assert(BqSyncState.createSql("ds.graft_sync_state") ==
      "CREATE TABLE IF NOT EXISTS `ds.graft_sync_state` " +
        "(`source_name` STRING, `watermark` STRING, `updated_at` TIMESTAMP)")
    assert(BqSyncState.selectSql("ds.graft_sync_state", "it's api") ==
      "SELECT `watermark` FROM `ds.graft_sync_state` " +
        """WHERE `source_name` = 'it\'s api'""")
    val up = BqSyncState.upsertSql("ds.graft_sync_state", "api", "2026-01-01")
    assert(up.startsWith("MERGE `ds.graft_sync_state` AS t USING " +
      "(SELECT 'api' AS `source_name`, '2026-01-01' AS `watermark`) AS s "))
    assert(up.contains("WHEN MATCHED THEN UPDATE SET `watermark` = s.`watermark`"))
    assert(up.contains("WHEN NOT MATCHED THEN INSERT"))
    intercept[IllegalArgumentException](
      new BqSyncState("http://x", "p", "ds",
        BigQueryWriter.StaticToken("t"), table = "bad-name"))
  }

  test("spark-schema mapping: nested to JSON, binary to BYTES") {
    import org.apache.spark.sql.types._
    assert(ofSpark(LongType) == BqInt64)
    assert(ofSpark(DoubleType) == BqFloat64)
    assert(ofSpark(BooleanType) == BqBool)
    assert(ofSpark(StringType) == BqString)
    assert(ofSpark(BinaryType) == BqBytes)
    assert(ofSpark(ArrayType(LongType)) == BqJson)
    assert(ofSpark(MapType(StringType, LongType)) == BqJson)
  }
}
