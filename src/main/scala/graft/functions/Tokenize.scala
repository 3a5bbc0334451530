package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One tokenizer separator, compiled once: the non-empty fields of
  * `split(s, sep, -1)`, in order — what Go's `strings.FieldsFunc` yields
  * and what the `filter(split(s, sep), t -> length(t) > 0)` idiom
  * computes, without the split array, the lambda or (for the common
  * separators) a `String` decode.
  *
  * Two paths, byte-identical to the idiom on every input:
  *  - byte table: a separator that matches exactly one byte from a set
  *    of ASCII bytes, alone or in runs — a single non-meta ASCII char,
  *    `X+` of one, `\s` and `\s+` (Java's `\s` is ASCII-only). The scan
  *    reads the UTF-8 bytes in place: ASCII bytes never occur inside a
  *    multi-byte sequence, and emptiness filtering makes one separator
  *    and a run of them cut the same fields. A row that is not valid
  *    UTF-8 takes the matcher path, because the idiom decodes it and
  *    re-encodes each field with U+FFFD replacements;
  *  - matcher: any other separator regex, over the decoded string.
  *
  * Only separators that cannot match the empty string are equivalent to
  * the idiom; the optimizer rule that introduces the expressions below
  * (graft.plans.TokenizeRewrite) guards on that.
  */
final class Tokenizer(val sep: String) extends Serializable {

  // separator bytes of the byte-table path; null on the matcher path
  private val table: Array[Boolean] = Tokenizer.byteTable(sep)
  @transient private lazy val pattern: Pattern = Pattern.compile(sep)

  private def isSep(b: Byte): Boolean = b >= 0 && table(b)

  /** The non-empty fields, each a copy (StringSplit's element type). */
  def split(s: UTF8String): ArrayData =
    if (table == null || !Tokenizer.validUtf8(s)) splitDecoded(s) else {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      val out = new Array[Any](count(s))
      var k = 0
      var start = 0
      var i = 0
      while (i <= n) {
        if (i == n || isSep(Platform.getByte(base, off + i))) {
          if (i > start) {
            out(k) = UTF8String.fromAddress(base, off + start, i - start).copy()
            k += 1
          }
          start = i + 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

  /** The number of non-empty fields. The byte table needs no validity
    * check here: a malformed sequence decodes to U+FFFD, never to or
    * across a separator byte, so the field count is the same.
    */
  def count(s: UTF8String): Int =
    if (table == null) {
      val str = s.toString
      val m = pattern.matcher(str)
      var count = 0
      var last = 0
      while (m.find()) {
        if (m.start() > last) count += 1
        last = m.end()
      }
      if (str.length > last) count += 1
      count
    } else {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var count = 0
      var inToken = false
      var i = 0
      while (i < n) {
        val sepByte = isSep(Platform.getByte(base, off + i))
        if (!sepByte && !inToken) count += 1
        inToken = !sepByte
        i += 1
      }
      count
    }

  private def splitDecoded(s: UTF8String): ArrayData = {
    val str = s.toString
    val m = pattern.matcher(str)
    val out = new java.util.ArrayList[UTF8String]()
    var last = 0
    while (m.find()) {
      if (m.start() > last) out.add(UTF8String.fromString(str.substring(last, m.start())))
      last = m.end()
    }
    if (str.length > last) out.add(UTF8String.fromString(str.substring(last)))
    new GenericArrayData(out.toArray)
  }
}

object Tokenizer {

  private val whitespace = " \t\n\u000b\f\r"
  private val regexMeta = ".$|()[]{}^?*+\\"

  /** The byte set `sep` matches one byte at a time, when it is one of
    * the byte-table forms; else null.
    */
  private[graft] def byteTable(sep: String): Array[Boolean] = {
    val single = if (sep.endsWith("+")) sep.dropRight(1) else sep
    val bytes =
      if (single == "\\s") whitespace
      else if (single.length == 1 && single.charAt(0) < 0x80 &&
          regexMeta.indexOf(single.charAt(0)) < 0) single
      else null
    if (bytes == null) null else {
      val t = new Array[Boolean](128)
      bytes.foreach(c => t(c) = true)
      t
    }
  }

  /** Whether `s` is well-formed UTF-8 (Unicode Table 3-7): the strings
    * Java's decoder maps without replacement characters.
    */
  private[graft] def validUtf8(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    def cont(i: Int, lo: Int = 0x80, hi: Int = 0xbf): Boolean =
      i < n && at(i) >= lo && at(i) <= hi
    var i = 0
    while (i < n) {
      val b = at(i)
      val len =
        if (b < 0x80) 1
        else if (b >= 0xc2 && b <= 0xdf && cont(i + 1)) 2
        else if (b == 0xe0 && cont(i + 1, 0xa0) && cont(i + 2)) 3
        else if (b == 0xed && cont(i + 1, hi = 0x9f) && cont(i + 2)) 3
        else if (b >= 0xe1 && b <= 0xef && b != 0xed && cont(i + 1) && cont(i + 2)) 3
        else if (b == 0xf0 && cont(i + 1, 0x90) && cont(i + 2) && cont(i + 3)) 4
        else if (b >= 0xf1 && b <= 0xf3 && cont(i + 1) && cont(i + 2) && cont(i + 3)) 4
        else if (b == 0xf4 && cont(i + 1, hi = 0x8f) && cont(i + 2) && cont(i + 3)) 4
        else return false
      i += len
    }
    true
  }
}

/** `token_count(s, sep)` as a static call: the number of non-empty fields
  * of `split(s, sep, -1)`, through one cached Tokenizer per separator.
  */
object TokenCount {

  // one compiled tokenizer per distinct separator
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Tokenizer]()

  def countTokens(s: UTF8String, sep: String): Int =
    cache.computeIfAbsent(sep, new Tokenizer(_)).count(s)
}

/** `split_tokens(s, sep)`: the non-empty fields of `split(s, sep, -1)`
  * (see Tokenizer), typed exactly as StringSplit, so an attribute over
  * it keeps its type when the rule swaps it in.
  */
case class SplitTokens(child: Expression, sep: String) extends UnaryExpression {
  @transient private lazy val tokenizer = new Tokenizer(sep)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "split_tokens"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING")
  override protected def nullSafeEval(v: Any): Any =
    tokenizer.split(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tok = ctx.addReferenceObj("tokenizer", tokenizer, classOf[Tokenizer].getName)
    defineCodeGen(ctx, ev, c => s"$tok.split($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SplitTokens =
    copy(child = newChild)
}

/** `token_count(s, sep)`: `size(split_tokens(s, sep))` without the array.
  * IntegerType, matching the `size(...)` it substitutes for.
  */
case class TokenCountExpr(child: Expression, sep: String) extends UnaryExpression {
  @transient private lazy val tokenizer = new Tokenizer(sep)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_count"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING")
  override protected def nullSafeEval(v: Any): Any =
    tokenizer.count(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tok = ctx.addReferenceObj("tokenizer", tokenizer, classOf[Tokenizer].getName)
    defineCodeGen(ctx, ev, c => s"$tok.count($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}
