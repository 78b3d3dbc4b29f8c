package graft.writer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{base64, col, to_json}
import org.apache.spark.sql.types._

/** Write modes (SURVEY A24, /root/reference/src/writer/mod.rs:10-46). */
sealed trait WriteMode
object WriteMode {
  case object Append extends WriteMode
  case object Merge extends WriteMode

  def parse(s: String): WriteMode = s.toLowerCase match {
    case "append" => Append
    case "merge" | "upsert" => Merge
    case other => throw new IllegalArgumentException(s"unknown write mode '$other'")
  }
}

final case class WriteStats(rowsWritten: Long)

/** Sink abstraction (SURVEY A17): a writer consumes a DataFrame under a
  * write mode. Implementations must be distributed — no
  * collect-to-driver in any write path.
  */
trait DataWriter {
  def write(df: DataFrame, mode: WriteMode): WriteStats

  /** Idempotent truncate of the destination, if supported. */
  def truncate(): Unit = ()

  /** Replace the destination with exactly `df` — the mirror landing
    * (stage `write_mode: replace`). The DEFAULT is truncate-then-load,
    * which has an empty-destination window if the load fails after the
    * truncate; writers with a transactional path override it
    * ([[PostgresWriter]] stages + swaps in one transaction,
    * [[FileWriter]] runs one atomic-commit overwrite job), and the
    * orchestrator only DEFAULTS replace onto writers that do.
    */
  def replace(df: DataFrame): WriteStats = {
    truncate()
    write(df, WriteMode.Append)
  }
}

object DataWriter {

  /** The warehouse writers' shared row shape: nested columns become
    * JSON text and temporals strings, so every value a writer binds or
    * renders is a scalar. `base64Binary` also turns binary into base64
    * text (ClickHouse's JSONEachRow body has no bytes form). One
    * select, not a withColumn-per-column fold (which stacks a
    * projection node per converted column).
    */
  private[writer] def normalized(df: DataFrame,
      base64Binary: Boolean = false): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          to_json(col(f.name)).as(f.name)
        case TimestampType | DateType =>
          col(f.name).cast(StringType).as(f.name)
        case BinaryType if base64Binary =>
          base64(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols: _*)
  }
}

/** File-format sink — the test/local warehouse target. Formats:
  * parquet (default), json (NDJSON, the reference's row-JSON output
  * shape — A16), csv (with header).
  */
final class FileWriter(path: String, format: String = "parquet") extends DataWriter {
  require(Set("parquet", "json", "csv")(format), s"unsupported format '$format'")

  /** Idempotent truncate = drop the output directory (the file-sink
    * analog of the Postgres TRUNCATE, --truncate-first parity).
    * Resolved with the active session's hadoop configuration so
    * non-default filesystems (s3a credentials, custom fs.defaultFS)
    * see the same filesystem that write() targets.
    */
  override def truncate(): Unit = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** ONE overwrite job — the commit protocol makes the old generation
    * visible until the new one commits, so there is no separate
    * truncate step to leave a window.
    */
  override def replace(df: DataFrame): WriteStats =
    write(df, WriteMode.Merge)

  override def write(df: DataFrame, mode: WriteMode): WriteStats = {
    val saveMode = mode match {
      case WriteMode.Append => "append"
      // file formats have no keyed merge; Merge maps to overwrite for
      // the local-warehouse sink
      case WriteMode.Merge => "overwrite"
    }
    // Count the *input* as it flows through the write, not the sink
    // contents: re-reading the destination after an append would report
    // pre-existing rows too (and pay a full read-back per write).
    // Observation metrics are exactly-once even under task retries.
    val obs = new org.apache.spark.sql.Observation("graft.write")
    val counted = df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
    val w = counted.write.mode(saveMode).format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
    WriteStats(obs.get("rows").asInstanceOf[Long])
  }
}
