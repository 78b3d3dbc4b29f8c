package graft.writer

import java.sql.{Connection, DriverManager, PreparedStatement}
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}

/** Postgres sink (SURVEY A18-A25) over JDBC.
  *
  * Distributed write path: every executor partition opens its own
  * connection and writes its rows in parameterized batches (default
  * 5000, the reference's post-optimization batch size,
  * /root/reference/src/writer/postgres.rs:163), inside a transaction
  * (A25). Merge mode dispatches on the server major version (A22):
  * 15+ → MERGE, 9.5+ → INSERT..ON CONFLICT, else error — mirroring
  * postgres.rs:514-535.
  *
  * DDL (auto-create with PRIMARY KEY) runs once on the driver; Spark's
  * own JDBC writer cannot emit PK clauses, hence the explicit path.
  */
final class PostgresWriter(
    url: String, // jdbc:postgresql://host:port/db
    user: String,
    password: String,
    table: String,
    primaryKey: Seq[String] = Seq.empty,
    batchSize: Int = 5000,
    autoCreate: Boolean = true,
    useCopy: Boolean = false,
    schemaEvolution: Boolean = false) extends DataWriter with Serializable {

  private def connect(): Connection =
    DriverManager.getConnection(url, user, password)

  private def version(c: Connection): (Int, Int) =
    (c.getMetaData.getDatabaseMajorVersion, c.getMetaData.getDatabaseMinorVersion)

  override def truncate(): Unit = {
    val c = connect()
    try {
      val st = c.createStatement()
      try st.execute(PgSql.truncateSql(table))
      catch {
        // idempotent: missing table (SQLSTATE 42P01) is fine
        case e: java.sql.SQLException if e.getSQLState == "42P01" => ()
      } finally st.close()
    } finally c.close()
  }

  /** Staged-swap replace — the transactional upgrade over the
    * reference's fire-and-forget truncate hook
    * (/root/reference/src/pipeline/sink.rs:45-55) and over this
    * writer's own former truncate-then-load, whose failure after the
    * truncate left the destination EMPTY until the next successful
    * run. Three phases:
    *
    *  1. driver DDL: reset + CREATE the UNLOGGED staging table, and
    *     ensure the destination exists (same auto-create + evolution
    *     as [[write]]) so the swap has a target on the very first run;
    *  2. distributed load into STAGING — the standard per-partition
    *     append machinery (COPY fast path included), pointed at the
    *     staging name. A failure here leaves the destination
    *     untouched;
    *  3. ONE driver transaction: TRUNCATE dest + INSERT..SELECT from
    *     staging + DROP staging ([[PgSql.swapSql]]). Any failure rolls
    *     the whole swap back — the old generation stays fully
    *     readable, and the recovery for any crashed replace is simply
    *     to run it again (the next replace's reset drop clears the
    *     debris).
    */
  override def replace(df: DataFrame): WriteStats = {
    val pgSchema = PgSql.schemaOfSpark(DataWriter.normalized(df).schema)
    val c = connect()
    try {
      val st = c.createStatement()
      try {
        st.execute(PgSql.dropStagingSql(table))
        st.execute(PgSql.createStagingSql(table, pgSchema))
        st.execute(PgSql.createTableSql(table, pgSchema, primaryKey))
        if (schemaEvolution)
          PgSql.evolveSql(table, PostgresWriter.readSchema(c, table), pgSchema)
            .foreach(st.execute)
      } finally st.close()
    } finally c.close()

    val stagingWriter = new PostgresWriter(url, user, password,
      PgSql.stagingName(table), primaryKey = Seq.empty, batchSize,
      autoCreate = false, useCopy = useCopy)
    val stats = stagingWriter.write(df, WriteMode.Append)

    val swap = connect()
    try {
      swap.setAutoCommit(false)
      try {
        val st = swap.createStatement()
        try PgSql.swapSql(table, pgSchema).foreach(st.execute)
        finally st.close()
        swap.commit()
      } catch { case t: Throwable => swap.rollback(); throw t }
    } finally swap.close()
    stats
  }

  override def write(df: DataFrame, mode: WriteMode): WriteStats = {
    val prepared = DataWriter.normalized(df)
    val pgSchema = PgSql.schemaOfSpark(prepared.schema)

    val c = connect()
    val (major, minor) = try {
      if (autoCreate) {
        val st = c.createStatement()
        try {
          st.execute(PgSql.createTableSql(table, pgSchema, primaryKey))
          // schema evolution (reference README.md:125): CREATE above
          // was a no-op when the table pre-exists, so diff its live
          // columns against this batch and ALTER the drift in —
          // added columns and lattice widenings only, never drops
          if (schemaEvolution)
            PgSql.evolveSql(table, PostgresWriter.readSchema(c, table), pgSchema)
              .foreach(st.execute)
        } finally st.close()
      }
      version(c)
    } finally c.close()

    if (mode == WriteMode.Merge && primaryKey.isEmpty)
      throw new IllegalArgumentException("merge mode requires a primary key")
    if (mode == WriteMode.Merge && !PostgresWriter.supportsUpsert(major, minor))
      throw new IllegalArgumentException(
        s"postgres $major.$minor does not support upsert (needs 9.5+)")

    // PG's extended protocol caps one statement at 65,535 bind
    // parameters; a multi-row batch binds rows×cols of them, so wide
    // tables must flush in smaller row batches (postgres.rs keeps rows
    // as serde values and hits the same wall).
    val (tbl, pk, u, usr, pw) = (table, primaryKey, url, user, password)
    val bs = PostgresWriter.effectiveBatch(batchSize, pgSchema.size)
    val md = mode
    val version15Plus = major >= 15
    // COPY is append-only by protocol: merge/upsert semantics need the
    // conflict machinery of the statement forms, so the fast path
    // engages only for Append and other modes keep their SQL shapes
    val copyPath = useCopy && mode == WriteMode.Append
    val counter = df.sparkSession.sparkContext.longAccumulator("rowsWritten")

    prepared.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(u, usr, pw)
        conn.setAutoCommit(false)
        try {
          val buf = new scala.collection.mutable.ArrayBuffer[Row](bs)
          def flush(): Unit = if (buf.nonEmpty) {
            if (copyPath) {
              val data = new java.lang.StringBuilder(buf.size * 64)
              buf.foreach(r =>
                data.append(PgCopy.encodeRow(r.toSeq, pgSchema)))
              PostgresWriter.copyInto(conn,
                PgCopy.copySql(tbl, pgSchema), data.toString)
            } else {
              val sql = md match {
                case WriteMode.Append => PgSql.insertSql(tbl, pgSchema, buf.size)
                case WriteMode.Merge if version15Plus =>
                  PgSql.mergeSql(tbl, pgSchema, pk, buf.size)
                case WriteMode.Merge =>
                  PgSql.upsertSql(tbl, pgSchema, pk, buf.size)
              }
              val st = conn.prepareStatement(sql)
              try {
                PostgresWriter.bindRows(st, buf, pgSchema)
                st.executeUpdate()
              } finally st.close()
            }
            counter.add(buf.size.toLong)
            buf.clear()
          }
          rows.foreach { r =>
            buf += r
            if (buf.size >= bs) flush()
          }
          flush()
          conn.commit()
        } catch {
          case t: Throwable => conn.rollback(); throw t
        } finally conn.close()
      }
    }
    WriteStats(counter.value)
  }
}

object PostgresWriter {

  /** Read the destination's current column→type map (ordinal order)
    * for the evolution diff; columns whose pg type this writer never
    * creates are dropped here so [[PgSql.evolveSql]] leaves them
    * untouched.
    */
  private[writer] def readSchema(c: Connection, table: String): ListMap[String, PgSql.PgType] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(PgSql.existingSchemaSql(table))
      var out = ListMap.empty[String, PgSql.PgType]
      while (rs.next())
        PgSql.ofPgTypeName(rs.getString(2)).foreach(t =>
          out = out.updated(rs.getString(1), t))
      out
    } finally st.close()
  }

  /** Version gate mirroring postgres.rs:111-113: ON CONFLICT needs
    * 9.5+, so major 9 must also check the minor (9.4 has no upsert).
    */
  private[writer] def supportsUpsert(major: Int, minor: Int): Boolean =
    major > 9 || (major == 9 && minor >= 5)

  /** Rows per flush such that rows×cols stays under PostgreSQL's
    * 65,535 bind-parameter protocol limit.
    */
  private[writer] def effectiveBatch(batchSize: Int, nCols: Int): Int =
    math.max(1, math.min(batchSize, 65535 / math.max(nCols, 1)))

  /** Drive `COPY … FROM STDIN` through pgjdbc's CopyManager, reached
    * by reflection: the sandbox has no PostgreSQL JDBC driver jar (so
    * the classes cannot be compile-time references — the live suite
    * covers the identical encoded stream via `psql` instead), while a
    * production classpath with pgjdbc present takes this path
    * directly. Runs inside the caller's transaction like any other
    * flush. Returns rows copied.
    */
  private[writer] def copyInto(conn: Connection, sql: String,
      data: String): Long = {
    val iface = Class.forName("org.postgresql.PGConnection")
    val pgConn = conn.unwrap(iface.asInstanceOf[Class[AnyRef]])
    val cm = iface.getMethod("getCopyAPI").invoke(pgConn)
    cm.getClass.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
      .invoke(cm, sql, new java.io.StringReader(data))
      .asInstanceOf[java.lang.Long].longValue()
  }

  /** Bind rows column-major into a flattened multi-row placeholder
    * list, coercing each value to its destination column type with the
    * lattice of postgres.rs:775-851: strings parse into numeric dest
    * columns (unparseable → NULL) and bind `false` into boolean dests
    * for anything that isn't "true"/"1" (the reference's
    * `parse().unwrap_or(false)`), numbers stringify into text, scalars
    * JSON-encode into jsonb, booleans stringify everywhere but a
    * boolean dest. A numeric coercion miss binds NULL rather than
    * erroring, matching the reference.
    */
  private[writer] def bindRows(st: PreparedStatement, rows: Iterable[Row],
      schema: ListMap[String, PgSql.PgType]): Unit = {
    var i = 1
    rows.foreach { row =>
      schema.valuesIterator.zipWithIndex.foreach { case (pt, ix) =>
        bindValue(st, i, row.get(ix), pt)
        i += 1
      }
    }
  }

  // ObjectMapper is thread-safe once configured; shared across binds
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private[writer] def jsonString(s: String): String = mapper.writeValueAsString(s)

  private[writer] def isValidJson(s: String): Boolean =
    try { mapper.readTree(s); true } catch { case _: Exception => false }

  private[writer] def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
        _: java.lang.Long => true
    case _ => false
  }

  private[writer] def bindValue(st: PreparedStatement, i: Int, v: Any,
      pt: PgSql.PgType): Unit = (v, pt) match {
    case (null, _) => st.setObject(i, null)

    // booleans (postgres.rs:790-793): native only into a BOOLEAN dest
    case (b: java.lang.Boolean, PgSql.PgBoolean) => st.setBoolean(i, b)
    case (b: java.lang.Boolean, _) => st.setString(i, b.toString)

    // numbers (postgres.rs:795-812): integral→BigInt, any→Double,
    // stringify→Text, JSON-encode→Jsonb; a fractional value bound into
    // an integer dest (or any number into boolean) degrades to NULL
    case (n: Number, PgSql.PgBigInt) =>
      if (isIntegral(n)) st.setLong(i, n.longValue()) else st.setObject(i, null)
    case (n: Number, PgSql.PgDouble) => st.setDouble(i, n.doubleValue())
    case (n: Number, PgSql.PgText) => st.setString(i, n.toString)
    case (n: Number, PgSql.PgJsonb) => st.setString(i, n.toString)
    case (_: Number, _) => st.setObject(i, null)

    // strings (postgres.rs:814-835): parse into numeric/bool dests
    // (unparseable → NULL), JSON-encode into jsonb
    case (s: String, PgSql.PgText) => st.setString(i, s)
    case (s: String, PgSql.PgJsonb) =>
      // nested columns arrive pre-serialized as JSON text (normalized)
      // and pass through raw only if they actually parse; anything else
      // JSON-encodes, so a bare string like "{oops" can never fail the
      // whole INSERT batch at the jsonb cast
      if (isValidJson(s)) st.setString(i, s)
      else st.setString(i, jsonString(s))
    case (s: String, PgSql.PgBigInt) =>
      s.toLongOption match {
        case Some(l) => st.setLong(i, l)
        case None => st.setObject(i, null)
      }
    case (s: String, PgSql.PgDouble) =>
      s.toDoubleOption match {
        case Some(d) => st.setDouble(i, d)
        case None => st.setObject(i, null)
      }
    case (s: String, PgSql.PgBoolean) =>
      st.setBoolean(i, s.toLowerCase == "true" || s == "1")

    // binary: native into a BYTEA dest; a merged/degraded dest gets
    // the base64 text form instead of letting pgjdbc send bytea into
    // a text column (which errors the whole batch)
    case (b: Array[Byte], PgSql.PgBytea) => st.setBytes(i, b)
    case (b: Array[Byte], PgSql.PgJsonb) =>
      st.setString(i, jsonString(java.util.Base64.getEncoder.encodeToString(b)))
    case (b: Array[Byte], _) =>
      st.setString(i, java.util.Base64.getEncoder.encodeToString(b))

    // anything else (already-normalized temporals, …)
    case (other, _) => st.setObject(i, other)
  }
}
