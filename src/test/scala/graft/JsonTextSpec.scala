package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The JSON scalars of the mains' one-line records parse back to what
  * was written, whatever the default locale and whatever the string.
  */
class JsonTextSpec extends AnyFunSuite {

  private def parse(json: String) = new ObjectMapper().readTree(json)

  test("numbers keep a decimal point under a comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // the hazard is live: the plain interpolator prints a comma here
      assert(f"${0.123}%.3f" === "0,123")
      assert(JsonText.num(0.123) === "0.123")
      assert(parse(s"""{"v":${JsonText.num(1234.5)}}""").get("v").asDouble === 1234.5)
    } finally Locale.setDefault(prev)
  }

  test("strings escape quote, backslash, newline and other control characters") {
    for (s <- Seq("plain", "a\"b", "back\\slash", "two\nlines\r\n", "tab\tbell\u0007", ""))
      assert(parse(s"""{"e":${JsonText.str(s)}}""").get("e").asText === s,
        s"round trip of ${s.map(_.toInt)}")
  }
}
