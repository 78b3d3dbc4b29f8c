package graft.writer

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types._

/** ClickHouse DDL/DML text generation — the writer the reference
  * plans but never built (/root/reference/README.md:121,345,529),
  * expressed in ClickHouse's dialect over the same schema lattice as
  * [[PgSql]]. Pure functions, unit-tested as SQL text exactly like
  * the Postgres surface (the reference's writer-test convention,
  * /root/reference/tests/writer/postgres_tests.rs).
  *
  * Dialect choices, all public-docs ClickHouse semantics:
  *   - columns are `Nullable(T)` — ClickHouse columns are
  *     non-nullable by default, unlike Postgres, and API payloads
  *     routinely omit fields;
  *   - append targets `MergeTree`; merge mode targets
  *     `ReplacingMergeTree` keyed by the primary key, where a later
  *     insert of the same key replaces the earlier row at merge time
  *     — ClickHouse has no upsert statement, dedup-on-merge IS its
  *     idiomatic equivalent. `ORDER BY` columns cannot be Nullable,
  *     so key columns stay bare;
  *   - `optimizeSql` (`OPTIMIZE TABLE .. FINAL`) forces the merge —
  *     the compaction a keyed load runs after landing a batch so
  *     readers see exactly-once rows without `SELECT .. FINAL`;
  *   - JSON/arrays/objects land in `String` (the stable universal
  *     container; ClickHouse's native JSON type is still marked
  *     experimental in its docs), binary in `String` too (ClickHouse
  *     String is raw bytes).
  */
object ChSql {

  /** ClickHouse column types over the inference lattice. */
  sealed trait ChType { def ddl: String }
  case object ChString extends ChType { val ddl = "String" }
  case object ChBool extends ChType { val ddl = "Bool" }
  case object ChInt64 extends ChType { val ddl = "Int64" }
  case object ChFloat64 extends ChType { val ddl = "Float64" }

  /** Spark type → ChType; mirrors [[PgSql.ofSpark]]'s lattice with
    * JSONB/BYTEA collapsed into String.
    */
  def ofSpark(dt: DataType): ChType = dt match {
    case BooleanType => ChBool
    case ByteType | ShortType | IntegerType | LongType => ChInt64
    case FloatType | DoubleType => ChFloat64
    case _: DecimalType => ChFloat64
    case _ => ChString // strings, binary, nested (pre-serialized JSON)
  }

  def schemaOfSpark(schema: StructType): ListMap[String, ChType] =
    ListMap(schema.fields.toIndexedSeq.map(f => f.name -> ofSpark(f.dataType)): _*)

  /** Quote an identifier in ClickHouse's backtick form, doubling
    * embedded backticks.
    */
  def quoteIdent(name: String): String = "`" + name.replace("`", "``") + "`"

  /** A ClickHouse single-quoted string literal (backslash escaping). */
  def stringLiteral(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Writer-managed version column for keyed tables: ClickHouse's
    * ReplacingMergeTree without a version column keeps an ARBITRARY
    * row among same-key duplicates — diverging from the Postgres
    * upsert semantics (later batch row wins) this writer mirrors.
    * `ReplacingMergeTree(__graft_ver)` keeps the MAX version instead;
    * the writer stamps every row with `(ingestEpoch << 31) | rowSeq`
    * ([[ClickHouseWriter]]): later write() calls always beat earlier
    * ones, and within one load a partition's later row beats its
    * earlier ones — deterministic given the partitioning. Only
    * cross-partition duplicates in one load remain
    * interleaving-shaped, the same race Postgres ON CONFLICT has
    * across concurrent partition connections.
    */
  val VerCol = "__graft_ver"

  /** CREATE TABLE with engine dispatch: keyed tables get
    * `ReplacingMergeTree(__graft_ver) ORDER BY (pk…)` (versioned
    * replace-on-merge = the merge write mode; see [[VerCol]]),
    * keyless tables get `MergeTree ORDER BY tuple()` (pure append).
    * Key columns are non-Nullable because ClickHouse rejects Nullable
    * ORDER BY columns; the version column is non-Nullable UInt64.
    */
  def createTableSql(table: String, schema: ListMap[String, ChType],
      primaryKey: Seq[String] = Seq.empty): String = {
    require(schema.nonEmpty, "cannot create a table with no columns")
    require(primaryKey.forall(schema.contains),
      s"primary key ${primaryKey.filterNot(schema.contains)} not in schema")
    val cols = schema.map { case (name, t) =>
      val typ = if (primaryKey.contains(name)) t.ddl else s"Nullable(${t.ddl})"
      s"${quoteIdent(name)} $typ"
    } ++ (if (primaryKey.isEmpty) Seq.empty
          else Seq(s"${quoteIdent(VerCol)} UInt64"))
    val engine =
      if (primaryKey.isEmpty) "MergeTree ORDER BY tuple()"
      else s"ReplacingMergeTree(${quoteIdent(VerCol)}) " +
        s"ORDER BY (${primaryKey.map(quoteIdent).mkString(", ")})"
    s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} " +
      s"(${cols.mkString(", ")}) ENGINE = $engine"
  }

  /** Force the replace-merge after a keyed load so the table holds
    * exactly one row per key without readers needing `FINAL`.
    */
  def optimizeSql(table: String): String =
    s"OPTIMIZE TABLE ${quoteIdent(table)} FINAL"

  /** The one INSERT header: ClickHouse's native bulk path is
    * `INSERT INTO … FORMAT JSONEachRow` with NDJSON rows in the
    * request body — no literal-escaping surface at all, and the
    * server parses values straight into the destination columns.
    */
  def insertHttpSql(table: String, schema: ListMap[String, ChType]): String =
    s"INSERT INTO ${quoteIdent(table)} " +
      s"(${schema.keys.map(quoteIdent).mkString(", ")}) FORMAT JSONEachRow"

  private def jsonString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** One JSONEachRow value under the writers' shared coercion
    * lattice: strings parse into numeric destinations (unparseable → null),
    * numbers/booleans stringify into String destinations, fractional
    * into Int64 degrades to null, non-finite floats to null (JSON has
    * no NaN/Infinity).
    */
  private def jsonValue(sb: StringBuilder, v: Any, ct: ChType): Unit = (v, ct) match {
    case (null, _) => sb.append("null")

    case (b: java.lang.Boolean, ChBool) => sb.append(b.toString)
    case (b: java.lang.Boolean, ChString) => jsonString(sb, b.toString)
    case (b: java.lang.Boolean, ChInt64) => sb.append(if (b) "1" else "0")
    case (b: java.lang.Boolean, ChFloat64) => sb.append(if (b) "1.0" else "0.0")

    case (n: Number, ChInt64) =>
      if (PostgresWriter.isIntegral(n)) sb.append(n.longValue().toString)
      else sb.append("null")
    case (n: Number, ChFloat64) =>
      val d = n.doubleValue()
      if (java.lang.Double.isFinite(d)) sb.append(d.toString) else sb.append("null")
    case (n: Number, ChString) => jsonString(sb, n.toString)
    case (_: Number, _) => sb.append("null")

    case (s: String, ChString) => jsonString(sb, s)
    case (s: String, ChInt64) =>
      sb.append(s.toLongOption.map(_.toString).getOrElse("null"))
    case (s: String, ChFloat64) =>
      sb.append(s.toDoubleOption.filter(java.lang.Double.isFinite(_))
        .map(_.toString).getOrElse("null"))
    case (s: String, ChBool) =>
      sb.append((s.toLowerCase == "true" || s == "1").toString)

    case (other, _) => jsonString(sb, other.toString)
  }

  /** Render rows (already column-aligned with `schema`) as NDJSON for
    * the HTTP INSERT body.
    */
  def jsonEachRow(schema: ListMap[String, ChType],
      rows: Iterable[Seq[Any]]): String = {
    val sb = new StringBuilder(rows.size * 64)
    val cols = schema.toIndexedSeq
    rows.foreach { r =>
      sb.append('{')
      var i = 0
      cols.foreach { case (name, ct) =>
        if (i > 0) sb.append(',')
        jsonString(sb, name)
        sb.append(':')
        jsonValue(sb, r(i), ct)
        i += 1
      }
      sb.append("}\n")
    }
    sb.toString
  }

  /** Idempotent truncate (ClickHouse has IF EXISTS on TRUNCATE, so no
    * SQLSTATE-swallowing dance like the Postgres path).
    */
  def truncateSql(table: String): String =
    s"TRUNCATE TABLE IF EXISTS ${quoteIdent(table)}"

  // ---- staged-swap replace (the PgSql convention in ClickHouse
  // ---- dialect, with an even stronger swap primitive) -------------

  /** One staging-name derivation across warehouses
    * ([[PgSql.stagingName]] — deterministic, byte-bounded,
    * collision-safe for long names), so a crashed replace's debris
    * story is identical wherever the mirror lands.
    */
  def stagingName(table: String): String = PgSql.stagingName(table)

  /** Idempotent staging reset — run before every replace load. */
  def dropStagingSql(table: String): String =
    s"DROP TABLE IF EXISTS ${quoteIdent(stagingName(table))}"

  /** Staging DDL: an empty STRUCTURAL CLONE of the destination
    * (`CREATE TABLE .. AS ..` copies every column — including
    * user-managed ones this writer's four-type surface cannot even
    * spell — plus the engine, ORDER BY, TTL, and settings), so the
    * exchange can never swap away destination structure the old
    * truncate-then-load path preserved. Inserts name their columns,
    * so a wider staging is transparent to the load.
    */
  def createStagingSql(table: String): String =
    s"CREATE TABLE ${quoteIdent(stagingName(table))} AS ${quoteIdent(table)}"

  /** The swap: ONE atomic statement — both names repoint together, so
    * there is no instant where the destination is empty, partial, or
    * a mix of generations (stronger than the Postgres INSERT..SELECT,
    * which holds a transaction open for the copy). Requires the
    * Atomic database engine, ClickHouse's default since 20.5; an
    * Ordinary-engine database errors LOUDLY here rather than
    * silently degrading to truncate-then-load.
    */
  def exchangeSql(table: String): String =
    s"EXCHANGE TABLES ${quoteIdent(table)} AND " +
      s"${quoteIdent(stagingName(table))}"

  /** system.columns `type` name → ChType, unwrapping `Nullable(…)`;
    * `None` for types this writer never creates (user-managed columns
    * evolution must leave untouched) — the [[PgSql.ofPgTypeName]]
    * contract in ClickHouse spelling.
    */
  def ofChTypeName(t: String): Option[ChType] = {
    val bare = t.trim match {
      case s if s.startsWith("Nullable(") && s.endsWith(")") =>
        s.stripPrefix("Nullable(").stripSuffix(")")
      case s => s
    }
    bare match {
      case "String" => Some(ChString)
      case "Bool" | "UInt8" => Some(ChBool)
      case "Int64" | "Int32" | "Int16" | "Int8" => Some(ChInt64)
      case "Float64" | "Float32" => Some(ChFloat64)
      case _ => None
    }
  }

  /** The shared inference-merge lattice in ClickHouse's four types:
    * String absorbs everything, Int64 ⊔ Float64 = Float64, any other
    * conflict degrades to String — [[PgSql.merge]] with JSONB/BYTEA
    * already collapsed away.
    */
  def merge(a: ChType, b: ChType): ChType = (a, b) match {
    case (x, y) if x == y => x
    case (ChString, _) | (_, ChString) => ChString
    case (ChInt64, ChFloat64) | (ChFloat64, ChInt64) => ChFloat64
    case _ => ChString
  }

  /** Query returning `name|type` for the destination's live columns
    * in position order — the evolution read-back (system.columns is
    * ClickHouse's information_schema).
    */
  def existingSchemaSql(table: String): String = {
    val lit = "'" + table.replace("\\", "\\\\").replace("'", "\\'") + "'"
    "SELECT name, type FROM system.columns " +
      s"WHERE database = currentDatabase() AND table = $lit ORDER BY position"
  }

  /** Schema-evolution diff, the [[PgSql.evolveSql]] contract in
    * ClickHouse dialect: new columns ADD (Nullable), lattice
    * widenings MODIFY (ClickHouse casts the stored values itself —
    * no USING clause exists or is needed), destination-only and
    * unmapped columns untouched, never a drop.
    */
  def evolveSql(table: String, existing: ListMap[String, ChType],
      incoming: ListMap[String, ChType]): Seq[String] = {
    val t = quoteIdent(table)
    incoming.iterator.flatMap { case (name, want) =>
      val colQ = quoteIdent(name)
      existing.get(name) match {
        case None =>
          Some(s"ALTER TABLE $t ADD COLUMN IF NOT EXISTS $colQ Nullable(${want.ddl})")
        case Some(have) =>
          val widened = merge(have, want)
          if (widened == have) None
          else Some(s"ALTER TABLE $t MODIFY COLUMN $colQ Nullable(${widened.ddl})")
      }
    }.toSeq
  }
}
