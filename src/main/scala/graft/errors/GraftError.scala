package graft.errors

/** Error taxonomy (SURVEY A33) — the semantic categories of the
  * reference's `ApitapError` enum (/root/reference/src/errors/mod.rs:6-89),
  * re-expressed as a sealed hierarchy. The reference's many wrapped
  * library variants (io/http/sql/arrow/yaml/…) collapse into
  * [[GraftError.Wrapped]] with a category tag; the string-carrying
  * domain variants map one-to-one.
  */
sealed abstract class GraftError(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause) {
  def category: String
}

object GraftError {

  final case class ConfigError(msg: String)
      extends GraftError(s"Configuration error: $msg") {
    val category = "config"
  }

  final case class PaginationError(msg: String)
      extends GraftError(s"Pagination error: $msg") {
    val category = "pagination"
  }

  final case class WriterError(msg: String)
      extends GraftError(s"Writer error: $msg") {
    val category = "writer"
  }

  final case class PipelineError(msg: String)
      extends GraftError(s"Pipeline error: $msg") {
    val category = "pipeline"
  }

  final case class UnsupportedSink(msg: String)
      extends GraftError(s"Unsupported sink: $msg") {
    val category = "sink"
  }

  final case class MergeError(msg: String)
      extends GraftError(s"Merge Error: $msg") {
    val category = "merge"
  }

  final case class DataTypeError(msg: String)
      extends GraftError(s"Data Type Error: $msg") {
    val category = "datatype"
  }

  /** Wrapped lower-level failure (IO, HTTP, SQL, Spark, YAML, …). */
  final case class Wrapped(override val category: String, cause: Throwable)
      extends GraftError(s"$category error: ${cause.getMessage}", cause)

  /** Classify an arbitrary throwable into the taxonomy. */
  def from(t: Throwable): GraftError = t match {
    case g: GraftError => g
    case e if malformedRecord(e) => Wrapped("datatype", e)
    // Jackson before IOException — JacksonException extends it
    case e: com.fasterxml.jackson.core.JacksonException => Wrapped("json", e)
    case e: java.io.IOException => Wrapped("io", e)
    case e: java.sql.SQLException => Wrapped("sql", e)
    case e: org.yaml.snakeyaml.error.YAMLException => Wrapped("yaml", e)
    case e: org.apache.spark.sql.AnalysisException => Wrapped("sql-analysis", e)
    case e: IllegalArgumentException => ConfigError(e.getMessage)
    case e: NoSuchElementException => ConfigError(e.getMessage)
    case e => Wrapped("unknown", e)
  }

  /** A fetched row that does not fit its source's sampled schema:
    * Spark's strict JSON parse raises `MALFORMED_RECORD_IN_PARSING`,
    * and an array row a [[DataTypeError]] inside a task; a job abort
    * or a failed write may wrap either — so the whole cause chain is
    * searched.
    */
  private def malformedRecord(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
      case _: DataTypeError => true
      case s: org.apache.spark.SparkThrowable =>
        Option(s.getCondition).exists(_.startsWith("MALFORMED_RECORD_IN_PARSING"))
      case _ => false
    }
}
