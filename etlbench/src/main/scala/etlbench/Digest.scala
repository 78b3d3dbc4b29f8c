package etlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a landed table: the row count, and per
  * column (plus one over whole rows) the exact sum of the rows'
  * 64-bit xxhash values. Equal tables give equal digests whatever
  * their row order or file layout.
  */
final case class Digest(rows: Long, columns: Map[String, String]) {
  def render: String =
    (s"rows=$rows" +: columns.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString(" ")
}

object Digest {
  private val Seed = 42L
  val RowKey = "_row"

  /** Digest of `df`, computed by Spark in one aggregation. */
  def of(df: DataFrame): Digest = {
    val names = df.columns.toSeq
    def hashSum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("string")
    val aggs = names.map(n => hashSum(xxhash64(col(n)))) :+
      hashSum(xxhash64(names.map(col): _*))
    val r = df.agg(count(lit(1)), aggs: _*).head()
    val sums = (names :+ RowKey).zipWithIndex.map { case (n, i) =>
      n -> Option(r.getString(i + 1)).getOrElse("0")
    }
    Digest(r.getLong(0), sums.toMap)
  }

  /** The same digest over rows computed in plain Scala. Values are
    * Long, Double or String (the only types the ETL modules land);
    * the hash is Spark's xxhash64 function applied value by value, the
    * exact definition `xxhash64(...)` has in SQL.
    */
  def expected(names: Seq[String], rows: Iterator[Seq[Any]]): Digest = {
    val colSums = Array.fill(names.size)(BigInt(0))
    var rowSum = BigInt(0)
    var n = 0L
    rows.foreach { row =>
      var h = Seed
      row.zipWithIndex.foreach { case (v, i) =>
        val (x, t) = internal(v)
        colSums(i) += XxHash64Function.hash(x, t, Seed)
        h = XxHash64Function.hash(x, t, h)
      }
      rowSum += h
      n += 1
    }
    Digest(n, (names.zip(colSums.map(_.toString)) :+ (RowKey -> rowSum.toString)).toMap)
  }

  private def internal(v: Any): (Any, DataType) = v match {
    case l: Long => (l, LongType)
    case d: Double => (d, DoubleType)
    case s: String => (UTF8String.fromString(s), StringType)
    case other => throw new IllegalArgumentException(s"unsupported value $other")
  }
}
