package graft.writer

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the rendering seams:
  *
  *  - the BigQuery size estimate must EQUAL the escaped literal's
  *    UTF-8 byte length for arbitrary strings (an under-count can
  *    breach the 1 MB statement cap — chars undercount CJK text 3x;
  *    a systematic over-count shrinks batches);
  *  - a ClickHouse JSONEachRow body must parse back to exactly the
  *    values rendered into their own column type, whatever the
  *    strings contain (quotes, backslashes, control characters).
  */
class WriterRenderPropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  // strings heavy in the interesting classes: quotes, backslashes,
  // control chars (incl. the \uXXXX six-char expansions), unicode
  private val trickyString: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('\'', '"', '\\', '\n', '\r', '\t'),
    2 -> Gen.choose(0.toChar, 31.toChar),
    1 -> Gen.oneOf('é', 'ß', '中', ' '))).map(_.mkString)

  test("property: BigQuery rendered-size estimate equals the escaped UTF-8 length exactly") {
    // the wire cap is on statement BYTES — a char count undercounts
    // CJK text 3x; exact equality pinned for the whole BMP, and for
    // astral chars (surrogate pairs) conservative over-count only
    check(Prop.forAll(trickyString) { s =>
      val est = BigQueryWriter.renderedStringBytes(s)
      val actual = BqSql.escapeString(s)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      est == actual
    })
  }

  test("property: ClickHouse JSONEachRow rows parse back to the rendered values") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val schema = scala.collection.immutable.ListMap("s" -> ChSql.ChString,
      "i" -> ChSql.ChInt64, "f" -> ChSql.ChFloat64, "b" -> ChSql.ChBool)
    val row = for {
      s <- Gen.option(trickyString)
      i <- Gen.option(Gen.long)
      f <- Gen.option(Gen.chooseNum(-1e12, 1e12))
      b <- Gen.option(Gen.oneOf(true, false))
    } yield Seq[Option[Any]](s, i, f, b)
    check(Prop.forAll(Gen.nonEmptyListOf(row)) { rows =>
      val lines = ChSql.jsonEachRow(schema, rows.map(_.map(_.orNull)))
        .split('\n').toSeq
      lines.size == rows.size && lines.zip(rows).forall { case (line, r) =>
        val n = mapper.readTree(line)
        def v(k: String) = Option(n.get(k)).filterNot(_.isNull)
        v("s").map(_.asText()) == r(0) && v("i").map(_.asLong()) == r(1) &&
          v("f").map(_.asDouble()) == r(2) && v("b").map(_.asBoolean()) == r(3)
      }
    })
  }
}
