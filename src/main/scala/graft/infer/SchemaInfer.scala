package graft.infer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Sample-based JSON schema inference: the one JSON → DataFrame
  * contract of every HTTP source (SURVEY §1.2).
  *
  * The schema comes from the first 100 rows (the reference's sample
  * window, its `src/utils/schema.rs:15,30-33`) through
  * `spark.read.json`, whose nested inference (objects → structs,
  * arrays → lists, long ⊔ double = double, a bool/number conflict →
  * string, first-seen nullability) matches the reference's batch path
  * (schema.rs:133-148). Every row is then parsed once against that
  * schema in `FAILFAST` mode: a row that does not fit — a scalar or an
  * array of scalars where an object belongs, a value the sampled type
  * cannot hold — fails the action with Spark's
  * `MALFORMED_RECORD_IN_PARSING` instead of landing as nulls. A field
  * first seen after the sample is dropped.
  */
object SchemaInfer {

  /** The inference sample window (schema.rs:15). */
  val SampleCap = 100

  /** Full-data nested inference and load in one `spark.read.json`:
    * every row is read for the schema, so `rows` is consumed twice.
    * Distributed: rows stay a Dataset, never collected.
    */
  def readNested(spark: SparkSession, rows: Dataset[String]): DataFrame =
    spark.read.json(rows)

  /** Nested load with the schema inferred from a driver-held sample
    * (its first [[SampleCap]] rows, schema_tests.rs:156-172) and every
    * row of `rows` parsed once against it with `mode=FAILFAST`.
    * Parsing with a fixed schema skips Spark's full inference pass —
    * essential when consuming `rows` has side effects (executor-parallel
    * HTTP page fetches would otherwise run twice).
    *
    * Empty-sample fallback: a bounded prefix of `rows` is collected
    * for inference instead (still the 100-row contract), which IS one
    * extra partial consumption of a side-effecting source. Like every
    * path here, the returned DataFrame re-reads `rows` per action —
    * callers that run multiple actions cache the RESULT (the A13
    * replay contract); nothing is pinned in CacheManager by this
    * method itself.
    */
  def readNestedSampled(spark: SparkSession, rows: Dataset[String],
      sample: Seq[String]): DataFrame = {
    import spark.implicits._
    // an empty sample (e.g. a paged API whose first page carries no
    // rows but whose total hint is valid) falls back to sampling the
    // dataset itself — a BOUNDED consumption (limit scans partitions
    // incrementally), not Spark's full inference pass, and not a
    // `.cache()` of the rows: CacheManager holds cached relations
    // until an explicit unpersist, so caching here would pin every
    // such load's InMemoryRelation for the session.
    val window =
      if (sample.nonEmpty) sample.take(SampleCap)
      else rows.limit(SampleCap).collect().toSeq
    if (window.isEmpty) readNested(spark, rows) // truly empty source
    else {
      val schema = spark.read.json(window.toDS()).schema
      spark.read.schema(schema).option("mode", "FAILFAST").json(rows)
    }
  }
}
