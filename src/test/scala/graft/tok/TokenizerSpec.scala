package graft.tok

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tokenizer semantics vs the reference contract (SURVEY §2.3 items 1–3):
  * the full 38-byte delimiter set, empty-token suppression, case folding,
  * and the delimiter-file loader (`tokenizer.c:6-45`).
  */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  private def tokensOf(s: String, delims: Set[Char] = Tokenizer.DefaultDelimiters): Seq[String] =
    Seq(s).toDF("t")
      .select(Tokenizer.tokens(col("t"), delims).as("toks"))
      .as[Seq[String]].head()

  test("delimiter set is exactly whitespace + the 32 distinct config bytes") {
    assert(Tokenizer.WhitespaceDelimiters === Set(' ', '\t', '\n', '\r'))
    assert(Tokenizer.DefaultConfigDelimiters.size === 32)
    assert(Tokenizer.DefaultDelimiters.size === 36)
  }

  test("default config delimiters byte-match the reference delimiters.txt") {
    // the reference's `delimiters.txt:1`, transcribed byte for byte (SURVEY O5)
    val ref = java.nio.file.Paths.get(getClass.getResource("/delimiters.txt").toURI)
    val bytes = java.nio.file.Files.readAllBytes(ref)
    assert(bytes.length === 34) // [ and ] listed twice in the file
    assert(bytes.map(b => (b & 0xff).toChar).toSet === Tokenizer.DefaultConfigDelimiters)
    // and through the loader: the file's set IS the default set
    val loaded = Tokenizer.delimitersFromFile(ref.toString)
    assert(loaded === Tokenizer.DefaultDelimiters)
    assert(tokensOf("a[b]c{d}e~f`g\\h\tI", loaded) === Seq("a", "b", "c", "d", "e", "f", "g", "h", "I"))
  }

  test("every one of the 36 delimiters splits a word pair (per-byte table)") {
    // the §5.2 per-delimiter table: for each delimiter d, "ab<d>cd" → [ab, cd]
    for (d <- Tokenizer.DefaultDelimiters)
      assert(tokensOf(s"ab${d}cd") === Seq("ab", "cd"), s"delimiter ${d.toInt}")
  }

  test("non-delimiter bytes never split: alphanumerics and non-ASCII pass through") {
    assert(tokensOf("abc123") === Seq("abc123"))
    assert(tokensOf("naïve café 東京") === Seq("naïve", "café", "東京"))
  }

  test("empty tokens are never emitted (leading/trailing/all-delimiter input)") {
    assert(tokensOf("  ,,hello..world!! ") === Seq("hello", "world"))
    assert(tokensOf(",.;: \t\r\n") === Seq.empty)
    assert(tokensOf("") === Seq.empty)
  }

  test("maximal-run semantics: consecutive mixed delimiters are one split") {
    assert(tokensOf("a,. \t-b") === Seq("a", "b"))
  }

  test("case folding: lowerTokens lowercases before emitting (hash_map.c:27-28)") {
    val toks = Seq("The QUICK brown FoX").toDF("t")
      .select(Tokenizer.lowerTokens(col("t")).as("toks"))
      .as[Seq[String]].head()
    assert(toks === Seq("the", "quick", "brown", "fox"))
  }

  test("charClassRegex escapes class-special chars and is valid Java regex") {
    val tricky = Set('\\', '^', ']', '[', '-', 'a')
    val re = Tokenizer.charClassRegex(tricky)
    // compiles, and splits exactly on those chars
    val p = java.util.regex.Pattern.compile(re)
    assert(p.matcher("\\^][-a").matches())
    assert(!p.matcher("b").find())
    assert(tokensOf("x\\y^z]w[v-u", tricky) === Seq("x", "y", "z", "w", "v", "u"))
  }

  test("charClassRegex rejects an empty delimiter set") {
    intercept[IllegalArgumentException] { Tokenizer.charClassRegex(Set.empty) }
  }

  test("delimitersFromFile: whitespace built-ins union config bytes (define_delimiters)") {
    val dir = tempDir("delims")
    writeFile(dir, "d.txt", "@#")
    val ds = Tokenizer.delimitersFromFile(dir.resolve("d.txt").toString)
    assert(ds === Set(' ', '\t', '\n', '\r', '@', '#'))
    // a char NOT in this set (e.g. comma) must not split
    assert(tokensOf("a,b@c d", ds) === Seq("a,b", "c", "d"))
  }

  test("a delimiter outside U+0000-U+00FF is rejected with its code point") {
    val e = intercept[IllegalArgumentException] { Tokenizer.tokens(col("t"), Set(' ', 'Σ')) }
    assert(e.getMessage.contains("U+03A3"))
    intercept[IllegalArgumentException] { Tokenizer.tokens(col("t"), Set.empty[Char]) }
  }

  test("delimiters U+0080-U+00FF split the two-byte UTF-8 sequence, nothing else") {
    // a config byte 0xE9 is the char U+00E9 (é, C3 A9 in UTF-8 text)
    val ds = Set(' ', '\u00e9', '\u00a0')
    assert(tokensOf("cafébar\u00a0x É", ds) === Seq("caf", "bar", "x", "É"))
    // Ã (C3 83) shares é's lead byte and is not in the set
    assert(tokensOf("aÃbéc", ds) === Seq("aÃb", "c"))
  }

  /** The executed word-count plan keeps the property the tokenizer's speed
    * rests on: no regex, no lambda, and the explode fused into a
    * whole-stage codegen stage with the scan. */
  test("wc plan: no split/filter/regex expression, Generate inside WholeStageCodegen") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, StringSplit}
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    val dir = tempDir("planGuard")
    writeFile(dir, "a.txt", "The quick, brown fox\njumps over the lazy dog")
    val wc = graft.wc.WordCount.fromText(spark.read.text(dir.toString), "value")
    assert(wc.collect().length === 8) // an action on wc itself: its final AQE plan
    val nodes = collectPlanNodes(wc.queryExecution.executedPlan)
    val banned = nodes.flatMap(_.expressions.flatMap(_.collect {
      case e: StringSplit => e.nodeName
      case e: ArrayFilter => e.nodeName
      case e if e.getClass.getSimpleName.startsWith("RegExp") => e.nodeName
    }))
    assert(banned.isEmpty, s"regex/lambda tokenizing in the plan: $banned")
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case q => q +: q.children.flatMap(stage)
    }
    val generates = nodes.collect { case g: GenerateExec => g }
    val fused = nodes.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    assert(generates.nonEmpty, "no Generate in the word-count plan")
    assert(generates.forall(g => fused.exists(_ eq g)),
      "the explode runs outside whole-stage codegen")
  }
}
