package graft.infer

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import SchemaInfer._

/** Mirrors the reference's inference tests (its
  * `tests/utils/schema_tests.rs`) on the one inference
  * path, [[SchemaInfer.readNestedSampled]]: the schema from the first
  * 100 sample rows, every row parsed strictly against it. Rows that
  * are not JSON objects fail the load, here and at the load level on
  * every pagination kind (`HttpJsonSourceSpec`).
  */
class SchemaInferSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  /** Load `rows`, sampling them all (the sample caps itself at 100). */
  private def load(rows: String*) = {
    val s = spark
    import s.implicits._
    readNestedSampled(spark, rows.toDS(), rows)
  }

  test("basic types (schema_tests.rs:8-33)") {
    val s = load(
      """{"id": 1, "name": "Alice", "active": true, "score": 95.5}""").schema
    assert(s("id").dataType == LongType)
    assert(s("name").dataType == StringType)
    assert(s("active").dataType == BooleanType)
    assert(s("score").dataType == DoubleType)
  }

  test("nullable and missing fields (schema_tests.rs:45-66)") {
    val df = load(
      """{"id": 1, "name": "Alice", "email": null}""",
      """{"id": 2, "name": "Bob", "email": "bob@example.com"}""",
      """{"id": 3, "name": "Carol", "email": "c@example.com", "extra": 1}""")
    assert(df.schema("email") == StructField("email", StringType, nullable = true))
    // fields absent from some rows are nullable
    assert(df.schema("extra") == StructField("extra", LongType, nullable = true))
    val first = df.orderBy("id").head()
    assert(first.isNullAt(first.fieldIndex("email")))
    assert(first.isNullAt(first.fieldIndex("extra")))
  }

  test("int widens to double (schema_tests.rs:137-153)") {
    val df = load(
      """{"id": 1, "value": 100}""",
      """{"id": 2, "value": 200.5}""")
    assert(df.schema("value").dataType == DoubleType)
    assert(df.orderBy("id").collect().map(_.getAs[Double]("value")).toSeq ==
      Seq(100.0, 200.5))
  }

  test("bool/number conflict degrades to string (schema.rs:126)") {
    val df = load("""{"x": true}""", """{"x": 3}""")
    assert(df.schema("x").dataType == StringType)
    assert(df.collect().map(_.getString(0)).toSet == Set("true", "3"))
  }

  test("sample cap 100 (schema_tests.rs:156-172)") {
    // row 101 would widen x to double — it is outside the sample, so
    // the schema ignores it and the strict parse rejects the row
    // instead of landing it as null
    val rows = (1 to 100).map(i => s"""{"x": $i}""") :+ """{"x": 1.5}"""
    val df = load(rows: _*)
    assert(df.schema("x").dataType == LongType)
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(graft.errors.GraftError.from(e).category == "datatype")
  }

  test("empty input and non-object rows are errors (schema.rs:36-47)") {
    // input with no JSON object to infer from — only scalars and
    // arrays of scalars — fails the load, and so does one non-object
    // row among objects. A source with no rows at all is not an error:
    // it loads as an empty frame ("empty-sample fallback…" below).
    for (rows <- Seq(Seq("[1,2]"), Seq("\"scalar\"", "3"),
        Seq("""{"a": 1}""", "[1,2]"))) {
      val e = intercept[org.apache.spark.SparkException](load(rows: _*).count())
      assert(graft.errors.GraftError.from(e).category == "datatype", s"$rows: $e")
    }
  }

  test("degradeRow rejects non-object rows — the rejection is not sample-capped") {
    // a bad row beyond the 100-row inference sample must fail loudly
    // at parse time, not become a silent all-null row
    for (bad <- Seq("[1,2]", "\"scalar\"")) {
      val rows = (1 to 100).map(i => s"""{"x": $i}""") :+ bad
      val df = load(rows: _*)
      assert(df.schema.fieldNames.toSeq == Seq("x"))
      val e = intercept[org.apache.spark.SparkException](df.count())
      assert(graft.errors.GraftError.from(e).category == "datatype", s"$bad: $e")
    }
  }

  test("integrals beyond Long range type as decimal(20,0) and keep their value") {
    val df = load("""{"small": 1, "huge": 18446744073709551615}""")
    assert(df.schema("small").dataType == LongType)
    assert(df.schema("huge").dataType == DecimalType(20, 0))
    assert(df.head().getAs[java.math.BigDecimal]("huge") ==
      new java.math.BigDecimal("18446744073709551615"))
  }

  test("empty-sample fallback infers from a bounded self-sample, pins no cache") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val rows = Seq("""{"a":1,"b":"x"}""", """{"a":2,"b":"y"}""").toDS()
    val df = readNestedSampled(spark, rows, Seq.empty)
    assert(df.columns.toSet == Set("a", "b"))
    assert(df.count() == 2)
    // the fallback must not leave the source dataset registered in
    // CacheManager (that pin outlives the returned DataFrame — the
    // leak this path previously had)
    val cachedNodes = rows.queryExecution.withCachedData.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
    }
    assert(cachedNodes.isEmpty, "source rows were left cached")
    // a truly empty source degrades to an empty frame, not a throw
    assert(readNestedSampled(spark, spark.emptyDataset[String], Seq.empty)
      .count() == 0)
  }

  test("readNested keeps structs and arrays (batch path, schema.rs:133-148)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      """{"id": 1, "data": {"nested": "value"}, "tags": ["a", "b"]}"""))
    val df = SchemaInfer.readNested(spark, ds)
    assert(df.schema("data").dataType.isInstanceOf[StructType])
    assert(df.schema("tags").dataType.isInstanceOf[ArrayType])
  }
}
