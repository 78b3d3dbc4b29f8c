package graft.writer

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import PgSql._

/** Mirrors /root/reference/tests/writer/postgres_tests.rs — SQL text
  * shapes tested without a live server, as the reference does.
  */
class PgSqlSpec extends AnyFunSuite {

  private val schema = ListMap(
    "pk" -> PgBigInt, "flag" -> PgBoolean, "n" -> PgBigInt,
    "x" -> PgDouble, "s" -> PgText, "arr" -> PgJsonb, "obj" -> PgJsonb)

  test("merge lattice (postgres.rs:53-62)") {
    assert(merge(PgBigInt, PgDouble) == PgDouble)
    assert(merge(PgDouble, PgBigInt) == PgDouble)
    assert(merge(PgText, PgJsonb) == PgText) // Text absorbs
    assert(merge(PgBoolean, PgBigInt) == PgText) // incompatible → Text
    val all = Seq(PgText, PgBoolean, PgBigInt, PgDouble, PgJsonb)
    for (a <- all; b <- all) {
      assert(merge(a, b) == merge(b, a))
      assert(merge(a, a) == a)
      assert(merge(PgText, merge(a, b)) == PgText)
    }
  }

  test("ident quoting, including embedded quotes (postgres.rs:241-253,267-275)") {
    assert(quoteIdent("plain") == "\"plain\"")
    assert(quoteIdent("""wei"rd""") == "\"wei\"\"rd\"")
  }

  test("CREATE TABLE with primary key (postgres.rs:255-308)") {
    val ddl = createTableSql("t", ListMap("id" -> PgBigInt, "v" -> PgText), Seq("id"))
    assert(ddl ==
      """CREATE TABLE IF NOT EXISTS "t" ("id" BIGINT, "v" TEXT, PRIMARY KEY ("id"))""")
    val composite = createTableSql("t",
      ListMap("a" -> PgBigInt, "b" -> PgBigInt, "v" -> PgDouble), Seq("a", "b"))
    assert(composite.contains("""PRIMARY KEY ("a", "b")"""))
    intercept[IllegalArgumentException](createTableSql("t", ListMap.empty))
  }

  test("multi-row INSERT with jsonb casts (postgres.rs:709-772)") {
    val sql = insertSql("t", ListMap("id" -> PgBigInt, "j" -> PgJsonb), 2)
    assert(sql ==
      """INSERT INTO "t" ("id", "j") VALUES (?, ?::jsonb), (?, ?::jsonb)""")
  }

  test("upsert: DO UPDATE and DO NOTHING forms (postgres.rs:400-512)") {
    val up = upsertSql("t", ListMap("id" -> PgBigInt, "v" -> PgText), Seq("id"), 1)
    assert(up ==
      """INSERT INTO "t" ("id", "v") VALUES (?, ?) ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v"""")
    val pkOnly = upsertSql("t", ListMap("id" -> PgBigInt), Seq("id"), 1)
    assert(pkOnly.endsWith("""ON CONFLICT ("id") DO NOTHING"""))
    intercept[IllegalArgumentException](
      upsertSql("t", schema, Seq.empty, 1))
  }

  test("MERGE: row-form SET for >1 updatable column, plain for 1 (postgres.rs:538-707)") {
    val multi = mergeSql("t",
      ListMap("id" -> PgBigInt, "a" -> PgText, "b" -> PgDouble), Seq("id"), 1)
    // every VALUES-source parameter carries an explicit type cast: the
    // MERGE source has no target column to type it, so an all-NULL
    // column in a flush would otherwise fail the whole batch
    assert(multi.contains(
      """MERGE INTO "t" AS t USING (VALUES (?::BIGINT, ?::TEXT, ?::DOUBLE PRECISION)) AS s ("id", "a", "b")"""))
    assert(multi.contains("""ON t."id" = s."id""""))
    assert(multi.contains("""WHEN MATCHED THEN UPDATE SET ("a", "b") = ROW(s."a", s."b")"""))
    assert(multi.contains("""WHEN NOT MATCHED THEN INSERT ("id", "a", "b") VALUES (s."id", s."a", s."b")"""))
    val single = mergeSql("t", ListMap("id" -> PgBigInt, "a" -> PgText), Seq("id"), 1)
    assert(single.contains("""WHEN MATCHED THEN UPDATE SET "a" = s."a""""))
    val pkOnly = mergeSql("t", ListMap("id" -> PgBigInt), Seq("id"), 1)
    assert(!pkOnly.contains("WHEN MATCHED"))
  }

  test("truncate text (postgres.rs:369-396)") {
    assert(truncateSql("t") == """TRUNCATE TABLE "t"""")
  }

  test("spark-schema mapping for direct DataFrame writes") {
    import org.apache.spark.sql.types._
    assert(ofSpark(LongType) == PgBigInt)
    assert(ofSpark(IntegerType) == PgBigInt)
    assert(ofSpark(DoubleType) == PgDouble)
    assert(ofSpark(BooleanType) == PgBoolean)
    assert(ofSpark(StringType) == PgText)
    assert(ofSpark(ArrayType(LongType)) == PgJsonb)
    assert(ofSpark(StructType(Seq(StructField("a", LongType)))) == PgJsonb)
    // binary columns get a real BYTEA column — mapping them to TEXT
    // would make the byte[] bind (bytea wire type) fail the write
    assert(ofSpark(BinaryType) == PgBytea)
  }

  test("schema evolution: ADD COLUMN for new fields, in incoming order") {
    val existing = ListMap("id" -> PgBigInt, "name" -> PgText)
    val incoming = ListMap("id" -> PgBigInt, "name" -> PgText,
      "score" -> PgDouble, "tags" -> PgJsonb)
    assert(evolveSql("t", existing, incoming) == Seq(
      """ALTER TABLE "t" ADD COLUMN IF NOT EXISTS "score" DOUBLE PRECISION""",
      """ALTER TABLE "t" ADD COLUMN IF NOT EXISTS "tags" JSONB"""))
  }

  test("schema evolution: widen along the merge lattice, absorb is a no-op") {
    // BIGINT ⊔ DOUBLE = DOUBLE PRECISION — the lossless widening
    assert(evolveSql("t", ListMap("v" -> PgBigInt), ListMap("v" -> PgDouble)) == Seq(
      """ALTER TABLE "t" ALTER COLUMN "v" TYPE DOUBLE PRECISION USING "v"::double precision"""))
    // conflicting pairs degrade to TEXT, stringifying existing rows
    assert(evolveSql("t", ListMap("v" -> PgBoolean), ListMap("v" -> PgBigInt)) == Seq(
      """ALTER TABLE "t" ALTER COLUMN "v" TYPE TEXT USING "v"::text"""))
    // bytea degrades to text as base64 — the same form bindValue
    // binds for bytes into a TEXT destination, so old and new rows agree
    assert(evolveSql("t", ListMap("v" -> PgBytea), ListMap("v" -> PgText)) == Seq(
      """ALTER TABLE "t" ALTER COLUMN "v" TYPE TEXT USING encode("v", 'base64')"""))
    // existing TEXT absorbs anything; existing DOUBLE absorbs BIGINT:
    // bind-time coercion handles those values, no DDL needed
    assert(evolveSql("t", ListMap("v" -> PgText), ListMap("v" -> PgBigInt)).isEmpty)
    assert(evolveSql("t", ListMap("v" -> PgDouble), ListMap("v" -> PgBigInt)).isEmpty)
    // jsonb meeting text degrades the column to TEXT
    assert(evolveSql("t", ListMap("v" -> PgJsonb), ListMap("v" -> PgText)) == Seq(
      """ALTER TABLE "t" ALTER COLUMN "v" TYPE TEXT USING "v"::text"""))
  }

  test("schema evolution: destination-only and unmapped columns untouched") {
    // a column the batch no longer carries is never dropped
    assert(evolveSql("t",
      ListMap("id" -> PgBigInt, "legacy" -> PgText),
      ListMap("id" -> PgBigInt)).isEmpty)
    // information_schema names map back onto the lattice; exotic
    // user-managed types map to None and so never reach the diff
    assert(ofPgTypeName("double precision").contains(PgDouble))
    assert(ofPgTypeName("character varying").contains(PgText))
    assert(ofPgTypeName("BIGINT").contains(PgBigInt))
    assert(ofPgTypeName("uuid").isEmpty)
    assert(ofPgTypeName("timestamp with time zone").isEmpty)
    // quoting survives hostile identifiers in both statement forms
    val stmts = evolveSql("""we"ird""",
      ListMap("a b" -> PgBigInt), ListMap("a b" -> PgDouble, "x\"y" -> PgText))
    assert(stmts == Seq(
      """ALTER TABLE "we""ird" ALTER COLUMN "a b" TYPE DOUBLE PRECISION USING "a b"::double precision""",
      """ALTER TABLE "we""ird" ADD COLUMN IF NOT EXISTS "x""y" TEXT"""))
  }

  test("staged-swap replace: staging DDL and the single-transaction swap statements") {
    val s = ListMap("id" -> PgBigInt, "name" -> PgText)
    assert(stagingName("users") == "users__graft_stage")
    // staging is scratch: UNLOGGED, no PK — uniqueness is enforced when
    // the swap's INSERT hits the destination's own key
    assert(createStagingSql("users", s) ==
      """CREATE UNLOGGED TABLE "users__graft_stage" ("id" BIGINT, "name" TEXT)""")
    assert(dropStagingSql("users") ==
      """DROP TABLE IF EXISTS "users__graft_stage"""")
    // the swap names its columns explicitly: an evolved destination
    // with extra user-managed columns must not break the SELECT *
    // arity, and column order is the batch's, not the table's
    assert(swapSql("users", s) == Seq(
      """TRUNCATE TABLE "users"""",
      """INSERT INTO "users" ("id", "name") SELECT "id", "name" FROM "users__graft_stage"""",
      """DROP TABLE IF EXISTS "users__graft_stage""""))
    // hostile identifiers stay quoted through every statement
    assert(createStagingSql("""we"ird""", ListMap("a b" -> PgText)) ==
      """CREATE UNLOGGED TABLE "we""ird__graft_stage" ("a b" TEXT)""")
  }

  test("staging names stay under Postgres's 63-byte identifier limit without colliding") {
    // PG silently truncates identifiers at 63 bytes, so two long
    // destinations sharing a prefix would otherwise share ONE staging
    // table and interleaved replaces would clobber each other
    val longA = "a" * 70 + "_east"
    val longB = "a" * 70 + "_west"
    val sa = stagingName(longA)
    val sb = stagingName(longB)
    assert(sa.getBytes("UTF-8").length <= 63, sa)
    assert(sb.getBytes("UTF-8").length <= 63, sb)
    assert(sa != sb, "shared-prefix long names must not collide")
    assert(sa.endsWith("__graft_stage"))
    // deterministic: the crashed-replace reset drop must find the
    // same name the crashed load used
    assert(sa == stagingName(longA))
    // short names keep the plain readable form
    assert(stagingName("users") == "users__graft_stage")
  }
}
