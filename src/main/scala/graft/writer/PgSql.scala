package graft.writer

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types._

/** Postgres DDL/DML text generation (SURVEY A18-A21).
  *
  * Pure functions over schemas — unit-testable without a live server,
  * exactly how the reference tests its writer
  * (/root/reference/tests/writer/postgres_tests.rs). Statement shapes
  * mirror /root/reference/src/writer/postgres.rs:255-308 (CREATE),
  * :400-512 (upsert), :538-707 (MERGE); placeholders are JDBC `?`
  * instead of tokio-postgres `$n`.
  */
object PgSql {

  /** The Postgres DDL type lattice (postgres.rs:16-63). */
  sealed trait PgType { def ddl: String }
  case object PgText extends PgType { val ddl = "TEXT" }
  case object PgBoolean extends PgType { val ddl = "BOOLEAN" }
  case object PgBigInt extends PgType { val ddl = "BIGINT" }
  case object PgDouble extends PgType { val ddl = "DOUBLE PRECISION" }
  case object PgJsonb extends PgType { val ddl = "JSONB" }
  case object PgBytea extends PgType { val ddl = "BYTEA" }

  /** Merge two observed column types (postgres.rs:53-62): Text absorbs
    * everything; BigInt ⊔ Double = Double; anything else conflicting
    * degrades to Text.
    */
  def merge(a: PgType, b: PgType): PgType = (a, b) match {
    case (x, y) if x == y => x
    case (PgText, _) | (_, PgText) => PgText
    case (PgBigInt, PgDouble) | (PgDouble, PgBigInt) => PgDouble
    case _ => PgText
  }

  /** Spark type → PgType, for writing DataFrames directly. */
  def ofSpark(dt: DataType): PgType = dt match {
    case BooleanType => PgBoolean
    case ByteType | ShortType | IntegerType | LongType => PgBigInt
    case FloatType | DoubleType => PgDouble
    case _: DecimalType => PgDouble
    case StringType => PgText
    case BinaryType => PgBytea
    case _: StructType | _: ArrayType | _: MapType => PgJsonb
    case _ => PgText
  }

  def schemaOfSpark(schema: StructType): ListMap[String, PgType] =
    ListMap(schema.fields.toIndexedSeq.map(f => f.name -> ofSpark(f.dataType)): _*)

  /** Quote an identifier, doubling embedded quotes (postgres.rs:241-253). */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** CREATE TABLE IF NOT EXISTS with optional PRIMARY KEY clause
    * (postgres.rs:255-308). Spark's JDBC writer cannot emit PKs, hence
    * explicit DDL.
    */
  def createTableSql(table: String, schema: ListMap[String, PgType],
      primaryKey: Seq[String] = Seq.empty): String = {
    require(schema.nonEmpty, "cannot create a table with no columns")
    val cols = schema.map { case (name, t) => s"${quoteIdent(name)} ${t.ddl}" }
    val pk = if (primaryKey.isEmpty) Seq.empty
      else Seq(s"PRIMARY KEY (${primaryKey.map(quoteIdent).mkString(", ")})")
    s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} (${(cols ++ pk).mkString(", ")})"
  }

  private def placeholders(schema: ListMap[String, PgType], nRows: Int): String = {
    val row = "(" + schema.map {
      case (_, PgJsonb) => "?::jsonb"
      case _ => "?"
    }.mkString(", ") + ")"
    Seq.fill(nRows)(row).mkString(", ")
  }

  /** Placeholders with an explicit cast on EVERY column. A MERGE's
    * VALUES source has no target column to type its parameters, so a
    * flush whose rows are all NULL in some column would otherwise leave
    * that parameter's type undetermined ("could not determine data type
    * of parameter" / a text-vs-bigint mismatch) and fail the whole
    * batch; INSERT/upsert don't need this because the INSERT target
    * types every parameter.
    */
  private def typedPlaceholders(schema: ListMap[String, PgType], nRows: Int): String = {
    val row = "(" + schema.map { case (_, t) => s"?::${t.ddl}" }.mkString(", ") + ")"
    Seq.fill(nRows)(row).mkString(", ")
  }

  /** Multi-row parameterized INSERT (postgres.rs:709-772). */
  def insertSql(table: String, schema: ListMap[String, PgType], nRows: Int): String = {
    val cols = schema.keys.map(quoteIdent).mkString(", ")
    s"INSERT INTO ${quoteIdent(table)} ($cols) VALUES ${placeholders(schema, nRows)}"
  }

  /** INSERT .. ON CONFLICT upsert for PG 9.5-14 (postgres.rs:400-512);
    * DO NOTHING when every column is part of the key.
    */
  def upsertSql(table: String, schema: ListMap[String, PgType],
      primaryKey: Seq[String], nRows: Int): String = {
    require(primaryKey.nonEmpty, "upsert requires a primary key")
    val base = insertSql(table, schema, nRows)
    val conflict = primaryKey.map(quoteIdent).mkString(", ")
    val updatable = schema.keys.filterNot(primaryKey.contains).toSeq
    if (updatable.isEmpty) s"$base ON CONFLICT ($conflict) DO NOTHING"
    else {
      val sets = updatable.map(c => s"${quoteIdent(c)} = EXCLUDED.${quoteIdent(c)}")
      s"$base ON CONFLICT ($conflict) DO UPDATE SET ${sets.mkString(", ")}"
    }
  }

  /** MERGE for PG 15+ (postgres.rs:538-707): VALUES-sourced merge with
    * row-form SET for multiple columns, plain SET for one.
    */
  def mergeSql(table: String, schema: ListMap[String, PgType],
      primaryKey: Seq[String], nRows: Int): String = {
    require(primaryKey.nonEmpty, "merge requires a primary key")
    val colsQ = schema.keys.map(quoteIdent).toSeq
    val on = primaryKey.map(k => s"t.${quoteIdent(k)} = s.${quoteIdent(k)}")
      .mkString(" AND ")
    val updatable = schema.keys.filterNot(primaryKey.contains).toSeq
    val matched =
      if (updatable.isEmpty) "" // nothing beyond the key: no UPDATE branch
      else if (updatable.size == 1) {
        val c = quoteIdent(updatable.head)
        s" WHEN MATCHED THEN UPDATE SET $c = s.$c"
      } else {
        val lhs = updatable.map(quoteIdent).mkString(", ")
        val rhs = updatable.map(c => s"s.${quoteIdent(c)}").mkString(", ")
        s" WHEN MATCHED THEN UPDATE SET ($lhs) = ROW($rhs)"
      }
    s"MERGE INTO ${quoteIdent(table)} AS t USING (VALUES ${typedPlaceholders(schema, nRows)}) " +
      s"AS s (${colsQ.mkString(", ")}) ON $on$matched " +
      s"WHEN NOT MATCHED THEN INSERT (${colsQ.mkString(", ")}) " +
      s"VALUES (${colsQ.map(c => s"s.$c").mkString(", ")})"
  }

  /** Idempotent TRUNCATE (postgres.rs:369-396); caller swallows
    * SQLSTATE 42P01 (undefined table).
    */
  def truncateSql(table: String): String = s"TRUNCATE TABLE ${quoteIdent(table)}"

  // ---- staged-swap replace (closing the reference's truncate-then-
  // ---- load window, /root/reference/src/pipeline/sink.rs:45-55) ----

  /** The staging table a replace loads into before the swap. One
    * deterministic name per destination: a crashed replace leaves its
    * staging debris where the NEXT replace's reset drop finds it.
    * Postgres truncates identifiers at 63 BYTES silently, so a long
    * destination name gets a content-hash infix instead of letting
    * two long names that share a prefix collide on one truncated
    * staging table (interleaved replaces would clobber each other's
    * staged rows mid-load).
    */
  def stagingName(table: String): String = {
    val suffix = "__graft_stage"
    if ((table + suffix).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .length <= 63)
      table + suffix
    else {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(table.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(6).map("%02x".format(_)).mkString
      var prefix = table
      while ((prefix + "_" + h + suffix)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length > 63)
        prefix = prefix.dropRight(1)
      prefix + "_" + h + suffix
    }
  }

  /** CREATE the staging table: UNLOGGED (its contents are scratch — a
    * server crash mid-load just means the replace reruns, and skipping
    * WAL roughly halves the staging write), no PRIMARY KEY (replace
    * lands the full relation as-is; uniqueness is the destination's
    * contract, enforced when the swap's INSERT hits the dest PK).
    */
  def createStagingSql(table: String, schema: ListMap[String, PgType]): String = {
    require(schema.nonEmpty, "cannot create a staging table with no columns")
    val cols = schema.map { case (name, t) => s"${quoteIdent(name)} ${t.ddl}" }
    s"CREATE UNLOGGED TABLE ${quoteIdent(stagingName(table))} (${cols.mkString(", ")})"
  }

  /** Idempotent staging reset — run before every replace load. */
  def dropStagingSql(table: String): String =
    s"DROP TABLE IF EXISTS ${quoteIdent(stagingName(table))}"

  /** The swap statements — truncate the destination, move the staged
    * rows in, drop the staging table — which the writer executes
    * inside ONE transaction (live specs wrap them in BEGIN/COMMIT):
    * a failure at ANY point rolls the whole swap back, so readers
    * never observe the empty-table window of a bare truncate-then-load
    * and a crashed swap leaves the OLD generation fully readable.
    * INSERT..SELECT over a rename-swap deliberately: the destination
    * keeps its identity (grants, views, FKs, the PK index the writer's
    * own DDL created), which a rename would silently shed.
    */
  def swapSql(table: String, schema: ListMap[String, PgType]): Seq[String] = {
    val cols = schema.keys.map(quoteIdent).mkString(", ")
    Seq(
      truncateSql(table),
      s"INSERT INTO ${quoteIdent(table)} ($cols) " +
        s"SELECT $cols FROM ${quoteIdent(stagingName(table))}",
      dropStagingSql(table))
  }

  // ---- schema evolution (reference README.md:125, planned there,
  // ---- implemented here) -------------------------------------------

  /** information_schema `data_type` name → PgType. `None` marks a
    * column this writer never creates (uuid, timestamptz, …): a
    * user-managed column evolution must leave untouched rather than
    * guess a widening for.
    */
  def ofPgTypeName(dataType: String): Option[PgType] =
    dataType.trim.toLowerCase match {
      case "text" | "character varying" | "character" | "varchar" => Some(PgText)
      case "boolean" => Some(PgBoolean)
      case "bigint" | "integer" | "smallint" => Some(PgBigInt)
      case "double precision" | "real" | "numeric" => Some(PgDouble)
      case "jsonb" | "json" => Some(PgJsonb)
      case "bytea" => Some(PgBytea)
      case _ => None
    }

  /** Query returning `column_name|data_type` for the destination, in
    * ordinal order — shared by the JDBC read-back in the writer and
    * the psql channel in live specs, so both see identical text.
    * The table name is embedded as a SQL literal (quotes doubled)
    * because psql has no bind protocol.
    */
  def existingSchemaSql(table: String): String = {
    val lit = "'" + table.replace("'", "''") + "'"
    "SELECT column_name, data_type FROM information_schema.columns " +
      s"WHERE table_schema = current_schema() AND table_name = $lit " +
      "ORDER BY ordinal_position"
  }

  /** The USING rewrite carrying existing rows into a widened column
    * type, chosen to match what [[PostgresWriter.bindValue]] would
    * have bound had the value arrived after the widening: bytea
    * degrading to text becomes base64 (bindValue's bytes-into-text
    * form), numerics/booleans stringify via ::text, BIGINT widens
    * losslessly to DOUBLE PRECISION.
    */
  private def usingExpr(colQ: String, from: PgType, to: PgType): String =
    (from, to) match {
      case (PgBytea, PgText) => s"encode($colQ, 'base64')"
      case (_, PgDouble) => s"$colQ::double precision"
      case (_, PgText) => s"$colQ::text"
      case _ => s"$colQ::${to.ddl}" // unreachable under merge's lattice
    }

  /** Diff the destination's current columns against the incoming
    * schema into ALTER statements (schema evolution between runs):
    *
    *   - incoming column absent from the table → `ADD COLUMN IF NOT
    *     EXISTS` (nullable; pre-existing rows read NULL);
    *   - both present but the type-merge lattice widens the existing
    *     type (BIGINT ⊔ DOUBLE = DOUBLE PRECISION, conflicts degrade
    *     to TEXT) → `ALTER COLUMN .. TYPE .. USING ..`;
    *   - existing column already absorbs the incoming type (TEXT
    *     absorbing anything, DOUBLE absorbing BIGINT) → no statement:
    *     the bind-time coercion lattice already lands those values;
    *   - destination columns missing from the incoming batch, or of
    *     types this writer never creates ([[ofPgTypeName]] → None) →
    *     untouched (INSERT names only incoming columns).
    *
    * Pure text generation; statement order is incoming-column order so
    * runs are deterministic and specs can compare exact sequences.
    */
  def evolveSql(table: String, existing: ListMap[String, PgType],
      incoming: ListMap[String, PgType]): Seq[String] = {
    val t = quoteIdent(table)
    incoming.iterator.flatMap { case (name, want) =>
      val colQ = quoteIdent(name)
      existing.get(name) match {
        case None =>
          Some(s"ALTER TABLE $t ADD COLUMN IF NOT EXISTS $colQ ${want.ddl}")
        case Some(have) =>
          val widened = merge(have, want)
          if (widened == have) None
          else Some(s"ALTER TABLE $t ALTER COLUMN $colQ TYPE ${widened.ddl} " +
            s"USING ${usingExpr(colQ, have, widened)}")
      }
    }.toSeq
  }
}
