package graft.writer

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types._

/** BigQuery (GoogleSQL) DDL/DML text generation — the second writer
  * the reference plans but never built
  * (/root/reference/README.md:120,529). BigQuery's native surface is
  * REST (`jobs.query`), not JDBC, and that endpoint takes full query
  * text — so unlike the Postgres path the DML here renders rows as
  * GoogleSQL literals rather than bind placeholders, and the escaping
  * rules are part of the tested surface.
  *
  * Dialect facts used (all public BigQuery docs): backtick-quoted
  * identifiers with backslash escapes; `PRIMARY KEY .. NOT ENFORCED`
  * (BigQuery never enforces keys — MERGE supplies the upsert
  * semantics); native `MERGE` from a staging table; `JSON '…'`
  * literals; `FROM_BASE64` for bytes; a 1 MB un-parameterized query
  * size cap, enforced here by the batch renderer so a flush can never
  * exceed it.
  */
object BqSql {

  sealed trait BqType { def ddl: String }
  case object BqString extends BqType { val ddl = "STRING" }
  case object BqBool extends BqType { val ddl = "BOOL" }
  case object BqInt64 extends BqType { val ddl = "INT64" }
  case object BqFloat64 extends BqType { val ddl = "FLOAT64" }
  case object BqJson extends BqType { val ddl = "JSON" }
  case object BqBytes extends BqType { val ddl = "BYTES" }

  /** Spark type → BqType; the same lattice shape as [[PgSql.ofSpark]]
    * with JSONB→JSON and BYTEA→BYTES in BigQuery spelling.
    */
  def ofSpark(dt: DataType): BqType = dt match {
    case BooleanType => BqBool
    case ByteType | ShortType | IntegerType | LongType => BqInt64
    case FloatType | DoubleType => BqFloat64
    case _: DecimalType => BqFloat64
    case BinaryType => BqBytes
    case _: StructType | _: ArrayType | _: MapType => BqJson
    case _ => BqString
  }

  def schemaOfSpark(schema: StructType): ListMap[String, BqType] =
    ListMap(schema.fields.toIndexedSeq.map(f => f.name -> ofSpark(f.dataType)): _*)

  /** Backtick-quote an identifier or dotted table path; GoogleSQL
    * escapes a backtick inside a quoted identifier with a backslash.
    */
  def quoteIdent(name: String): String =
    "`" + name.replace("\\", "\\\\").replace("`", "\\`") + "`"

  /** GoogleSQL string-literal escape: backslash escapes for the quote,
    * the backslash itself, and control characters.
    */
  def escapeString(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\'' => sb.append("\\'")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Render one value as a GoogleSQL literal for its destination
    * type, under the writers' shared coercion lattice: strings parse
    * into numeric destinations (unparseable → NULL), numbers and
    * booleans stringify into STRING destinations, a fractional value
    * into INT64 degrades to NULL, bytes render through FROM_BASE64,
    * JSON destinations take `JSON '…'` literals.
    */
  def literal(v: Any, t: BqType): String = (v, t) match {
    case (null, _) => "NULL"

    case (b: java.lang.Boolean, BqBool) => if (b) "TRUE" else "FALSE"
    case (b: java.lang.Boolean, BqString) => s"'${b.toString}'"
    case (b: java.lang.Boolean, BqInt64) => if (b) "1" else "0"
    case (b: java.lang.Boolean, BqFloat64) => if (b) "1.0" else "0.0"

    case (n: Number, BqInt64) =>
      if (PostgresWriter.isIntegral(n)) n.toString else "NULL"
    case (n: Number, BqFloat64) =>
      val d = n.doubleValue()
      if (d.isNaN) "CAST('NaN' AS FLOAT64)"
      else if (d.isInfinite) s"CAST('${if (d > 0) "" else "-"}inf' AS FLOAT64)"
      else d.toString
    case (n: Number, BqString) => s"'${n.toString}'"

    case (s: String, BqString) => s"'${escapeString(s)}'"
    case (s: String, BqJson) => s"JSON '${escapeString(s)}'"
    case (s: String, BqInt64) =>
      s.toLongOption.map(_.toString).getOrElse("NULL")
    case (s: String, BqFloat64) =>
      s.toDoubleOption.map(_.toString).getOrElse("NULL")
    case (s: String, BqBool) =>
      if (s.toLowerCase == "true" || s == "1") "TRUE" else "FALSE"

    case (b: Array[Byte], BqBytes) =>
      s"FROM_BASE64('${java.util.Base64.getEncoder.encodeToString(b)}')"
    case (b: Array[Byte], _) =>
      s"'${java.util.Base64.getEncoder.encodeToString(b)}'"

    case (other, _) => s"'${escapeString(other.toString)}'"
  }

  /** CREATE TABLE IF NOT EXISTS with BigQuery's unenforced key form. */
  def createTableSql(table: String, schema: ListMap[String, BqType],
      primaryKey: Seq[String] = Seq.empty): String = {
    require(schema.nonEmpty, "cannot create a table with no columns")
    val cols = schema.map { case (name, t) => s"${quoteIdent(name)} ${t.ddl}" }
    val pk = if (primaryKey.isEmpty) Seq.empty
      else Seq(s"PRIMARY KEY (${primaryKey.map(quoteIdent).mkString(", ")}) NOT ENFORCED")
    s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} (${(cols ++ pk).mkString(", ")})"
  }

  /** Multi-row INSERT with rendered literals. */
  def insertSql(table: String, schema: ListMap[String, BqType],
      rows: Seq[Seq[Any]]): String = {
    require(rows.nonEmpty, "no rows to insert")
    val cols = schema.keys.map(quoteIdent).mkString(", ")
    val types = schema.values.toIndexedSeq
    val rendered = rows.map(r =>
      "(" + r.iterator.zip(types.iterator).map { case (v, t) => literal(v, t) }
        .mkString(", ") + ")")
    s"INSERT INTO ${quoteIdent(table)} ($cols) VALUES ${rendered.mkString(", ")}"
  }

  def truncateSql(table: String): String =
    s"TRUNCATE TABLE ${quoteIdent(table)}"

  /** The keyed write's one MERGE, from its staging table: partitions
    * INSERT into the stage concurrently (BigQuery serializes mutating
    * DML per TABLE, so appends to the stage never compete with each
    * other the way concurrent MERGEs on the target would), then the
    * driver issues this one MERGE. Source rows are key-deduplicated
    * with ROW_NUMBER first: BigQuery MERGE errors when several source
    * rows match one target row, and which duplicate of a single load
    * survives is explicitly nondeterministic.
    */
  def mergeFromTableSql(table: String, stage: String,
      schema: ListMap[String, BqType], primaryKey: Seq[String]): String = {
    require(primaryKey.nonEmpty, "merge requires a primary key")
    val names = schema.keys.toIndexedSeq
    val pkCols = primaryKey.map(quoteIdent).mkString(", ")
    val source = s"SELECT * EXCEPT (__rn) FROM (SELECT *, " +
      s"ROW_NUMBER() OVER (PARTITION BY $pkCols) AS __rn " +
      s"FROM ${quoteIdent(stage)}) WHERE __rn = 1"
    val on = primaryKey.map(k => s"t.${quoteIdent(k)} = s.${quoteIdent(k)}")
      .mkString(" AND ")
    val updatable = names.filterNot(primaryKey.contains)
    val matched =
      if (updatable.isEmpty) ""
      else " WHEN MATCHED THEN UPDATE SET " +
        updatable.map(c => s"${quoteIdent(c)} = s.${quoteIdent(c)}").mkString(", ")
    val colsQ = names.map(quoteIdent)
    s"MERGE ${quoteIdent(table)} AS t USING ($source) AS s ON $on$matched " +
      s"WHEN NOT MATCHED THEN INSERT (${colsQ.mkString(", ")}) " +
      s"VALUES (${colsQ.map(c => s"s.$c").mkString(", ")})"
  }

  def dropTableSql(table: String): String =
    s"DROP TABLE IF EXISTS ${quoteIdent(table)}"
}
