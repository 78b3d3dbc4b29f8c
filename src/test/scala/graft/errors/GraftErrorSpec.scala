package graft.errors

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors /root/reference/tests/errors/error_tests.rs: display
  * formats and conversions of the taxonomy.
  */
class GraftErrorSpec extends AnyFunSuite {

  test("domain variants carry the reference's display formats") {
    assert(GraftError.ConfigError("bad yaml").getMessage ==
      "Configuration error: bad yaml")
    assert(GraftError.PaginationError("no page").getMessage ==
      "Pagination error: no page")
    assert(GraftError.WriterError("pk missing").getMessage ==
      "Writer error: pk missing")
    assert(GraftError.PipelineError("boom").getMessage == "Pipeline error: boom")
    assert(GraftError.UnsupportedSink("bigquery").getMessage ==
      "Unsupported sink: bigquery")
    assert(GraftError.MergeError("v8").getMessage == "Merge Error: v8")
    assert(GraftError.DataTypeError("interval").getMessage ==
      "Data Type Error: interval")
  }

  test("wrapped conversions classify by cause type") {
    assert(GraftError.from(new java.io.IOException("eof")).category == "io")
    assert(GraftError.from(new java.sql.SQLException("dup")).category == "sql")
    assert(GraftError.from(
      new org.yaml.snakeyaml.error.YAMLException("tab")).category == "yaml")
    assert(GraftError.from(new IllegalArgumentException("x")).category == "config")
    assert(GraftError.from(new RuntimeException("?")).category == "unknown")
    // idempotent on already-classified errors
    val e = GraftError.MergeError("m")
    assert(GraftError.from(e) eq e)
  }

  test("a malformed-record parse anywhere in the cause chain is a datatype error") {
    // the shape a strict JSON parse raises, and a write that wraps it
    val malformed = new org.apache.spark.SparkException(
      "MALFORMED_RECORD_IN_PARSING.WITHOUT_SUGGESTION",
      Map("badRecord" -> "[null]", "failFastMode" -> "FAILFAST"), null)
    assert(GraftError.from(malformed).category == "datatype")
    val wrapped = new RuntimeException("write failed",
      new java.io.IOException("task", malformed))
    assert(GraftError.from(wrapped).category == "datatype")
    assert(GraftError.from(wrapped).getCause eq wrapped)
    // other Spark conditions keep their old classes
    assert(GraftError.from(new org.apache.spark.SparkException("boom")).category ==
      "unknown")
  }

  test("errors are catchable as the sealed root") {
    val caught = intercept[GraftError] {
      throw GraftError.WriterError("nope")
    }
    assert(caught.category == "writer")
  }
}
