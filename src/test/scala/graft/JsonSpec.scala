package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Json.quote]] writes a JSON string literal that any reader decodes
  * back to the input, and that never spans lines. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def roundTrip(s: String): String = mapper.readTree(Json.quote(s)).textValue()

  test("quotes, backslashes and control characters round-trip through Jackson") {
    val nasty = Seq(
      "",
      "plain",
      "say \"hi\"",
      """C:\data\sf "0.01"\""",
      "tab\there\r\nnewline",
      (0 until 0x20).map(_.toChar).mkString,
      "é ü — 漢字 \u2028 \u007f")
    nasty.foreach { s =>
      val q = Json.quote(s)
      assert(!q.exists(_ < ' '), s"raw control char in $q")
      assert(roundTrip(s) == s, s"round trip of $q")
    }
  }

  test("the escapes are the ones oracle_sql.json has always used") {
    assert(Json.quote("a\"b\\c\nd\re\tf\u0001") == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }
}
