package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Split a string into the non-empty maximal runs of non-delimiter chars —
  * the reference's `next_word` loop (`tokenizer.c:47-79`) as ONE pass over
  * the UTF-8 bytes against a 256-entry delimiter table.
  *
  * Why native (measured on wc_zipf, 4 vCPU): the composed form
  * `filter(split(s, "[...]+"), t -> length(t) > 0)` decodes every line to a
  * Java String, runs `java.util.regex`, re-encodes every token, and its
  * lambda `filter` runs interpreted outside whole-stage codegen; tokenizing
  * was the largest layer of the paper's query. Here tokens are zero-copy
  * `UTF8String` slices of the input and the Generate above stays fused.
  *
  * Semantics are those of the regex class `Tokenizer.charClassRegex`
  * builds: a delimiter is any char U+0000–U+00FF of the set. ASCII bytes are
  * looked up directly; `C2`/`C3` two-byte sequences (U+0080–U+00FF) are
  * decoded first; no other byte starts a delimiter. Input that is not valid
  * UTF-8 is first decoded with replacement, as the regex split's String
  * round trip did, so the output is byte-identical on every input.
  */
case class DelimiterSplit(child: Expression, delimiters: Set[Char])
    extends UnaryExpression {
  require(delimiters.nonEmpty, "empty delimiter set")
  require(delimiters.forall(_ < 0x100),
    "delimiters must be chars U+0000-U+00FF, got " +
      delimiters.filter(_ >= 0x100).map(c => f"U+${c.toInt}%04X").mkString(", "))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "delimiter_split"
  // the set prints as its sorted code points: it may hold control chars
  override def stringArgs: Iterator[Any] =
    Iterator(child, delimiters.toSeq.sorted.map(_.toInt).mkString("[", ",", "]"))

  @transient private lazy val table: Array[Boolean] = {
    val t = new Array[Boolean](256)
    delimiters.foreach(c => t(c) = true)
    t
  }

  override protected def nullSafeEval(input: Any): Any =
    new DelimiterScanner(table).split(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[DelimiterScanner].getName
    val ref = ctx.addReferenceObj("delimiterTable", table, "boolean[]")
    val scanner = ctx.addMutableState(cls, "delimiterScanner",
      v => s"$v = new $cls($ref);")
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $scanner.split($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): DelimiterSplit =
    copy(child = newChild)
}

object DelimiterSplit {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-level constructor; needs no session extension. */
  def apply(delimiters: Set[Char])(text: Column): Column =
    ColumnBridge.column(new DelimiterSplit(ColumnBridge.expression(text), delimiters))
}

/** The byte pass behind [[DelimiterSplit]]. Keeps its token-bounds buffer
  * across calls, so one instance serves one thread (one per generated
  * stage instance, one per interpreted call).
  */
final class DelimiterScanner(table: Array[Boolean]) {
  private var bounds = new Array[Int](64) // start, end pairs

  def split(s: UTF8String): ArrayData = {
    val k = scan(s)
    if (k >= 0) slices(s, k)
    else { // not valid UTF-8: decode with replacement, as the regex split did
      val valid = UTF8String.fromString(s.toString)
      slices(valid, scan(valid))
    }
  }

  /** Fills `bounds`; returns the number of bound ints, or -1 when the
    * string holds a non-ASCII byte and is not valid UTF-8. */
  private def scan(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var k = 0
    var start = -1 // start of the open token, -1 when none is open
    var high = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xff
      var w = 0 // byte width of the delimiter at i, 0 when none
      if (b < 0x80) { if (table(b)) w = 1 }
      else {
        high = true
        if ((b == 0xc2 || b == 0xc3) && i + 1 < n &&
            table(((b & 0x1f) << 6) | (Platform.getByte(base, off + i + 1) & 0x3f))) w = 2
      }
      if (w == 0) {
        if (start < 0) start = i
        i += 1
      } else {
        if (start >= 0) { k = push(k, start, i); start = -1 }
        i += w
      }
    }
    if (start >= 0) k = push(k, start, n)
    if (high && !s.isValid) -1 else k
  }

  private def push(k: Int, start: Int, end: Int): Int = {
    if (k == bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * k)
    bounds(k) = start
    bounds(k + 1) = end
    k + 2
  }

  private def slices(s: UTF8String, k: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[Any](k / 2)
    var j = 0
    while (j < k) {
      out(j / 2) = UTF8String.fromAddress(base, off + bounds(j), bounds(j + 1) - bounds(j))
      j += 2
    }
    new GenericArrayData(out)
  }
}
