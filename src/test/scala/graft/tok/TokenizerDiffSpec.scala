package graft.tok

import graft.SparkSpec
import graft.ops.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential property: the byte-table tokenizer against the regex chain
  * it replaced, kept here only as the reference. Random byte strings mix
  * delimiters, ASCII letters, non-ASCII upper case and invalid UTF-8; every
  * output is compared as bytes, so a single differing byte fails. Each
  * comparison runs twice: over a local relation (the optimizer evaluates it
  * through the interpreted path) and after a shuffle (generated code).
  */
class TokenizerDiffSpec extends SparkSpec {
  import spark.implicits._

  /** The retired tokenizer: regex split, lambda filter of empty tokens. */
  private def regexTokens(text: Column, delims: Set[Char]): Column =
    filter(split(text, Tokenizer.charClassRegex(delims)), t => length(t) > lit(0))

  private def regexNormalize(text: Column): Column =
    trim(regexp_replace(lower(text), Tokenizer.DefaultSplitRegex, " "))

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def bytes(b: Int*): Array[Byte] = b.map(_.toByte).toArray

  private val letters = (('a' to 'z') ++ ('A' to 'Z')).map(c => utf8(c.toString))
  // Σ lowers by context (final sigma), İ to two code points, K (Kelvin) to
  // ASCII k, É to é; ß and ς are already lower case
  private val nonAsciiCase = Seq("Σ", "σ", "ς", "İ", "\u212a", "É", "é", "ß", "東").map(utf8)
  private val invalid = Seq(bytes(0xff), bytes(0xc3), bytes(0x80), bytes(0xbf),
    bytes(0xed, 0xa0), bytes(0xc2), bytes(0xe2, 0x82))

  /** Rows of random pieces, plus a null row, as a string column `t`. */
  private def corpus(pieces: Seq[Array[Byte]], rows: Int, seed: Long): DataFrame = {
    val row = Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces)))
      .map(_.toArray.flatten)
    val data = Gen.listOfN(rows, row).pureApply(Gen.Parameters.default, Seed(seed))
    (data.map(Option(_)) :+ None).toDF("b").select(col("b").cast("string").as("t"))
  }

  /** Hex of a collected binary or array-of-binary value. */
  private def hexOf(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02X").mkString
    case s: scala.collection.Seq[_] => s.map(hexOf).mkString("[", ",", "]")
  }

  /** Asserts `got` and `want` agree byte for byte on every row. Both are
    * cast to binary in the projection itself: wrapping them in a lambda
    * (`transform`) would evaluate them interpreted on both runs. */
  private def assertSame(df: DataFrame, got: Column, want: Column): Unit =
    Seq(df, df.repartition(3)).foreach { d =>
      val diffs = d.select(hex(col("t")), got, want).collect()
        .map(r => (r.getString(0), hexOf(r.get(1)), hexOf(r.get(2))))
        .filter { case (_, g, w) => g != w }
      assert(diffs.isEmpty, s"${diffs.length} rows differ, first: ${diffs.take(3).mkString("; ")}")
    }

  private def assertSameTokens(df: DataFrame, got: Column, want: Column): Unit =
    assertSame(df, got.cast("array<binary>"), want.cast("array<binary>"))

  private val defaultPieces =
    Tokenizer.DefaultDelimiters.toSeq.map(c => utf8(c.toString)) ++ letters ++
      nonAsciiCase ++ invalid

  test("tokens and lowerTokens match the regex chain byte for byte (default set)") {
    val df = corpus(defaultPieces, 3000, 42L)
    val t = col("t")
    val d = Tokenizer.DefaultDelimiters
    assertSameTokens(df, Tokenizer.tokens(t), regexTokens(t, d))
    assertSameTokens(df, Tokenizer.lowerTokens(t), regexTokens(lower(t), d))
  }

  test("normalize matches the regex_replace form byte for byte, null included") {
    val df = corpus(defaultPieces, 3000, 7L)
    assertSame(df, TextAnalysis.normalize(col("t")).cast("binary"),
      regexNormalize(col("t")).cast("binary"))
  }

  test("a delimiter file with bytes 0x80-0xFF matches the regex chain") {
    val dir = tempDir("delimsHigh")
    val file = dir.resolve("d.txt")
    // é, NBSP, ×, Ã, ÿ as config bytes, plus '@'
    java.nio.file.Files.write(file, bytes(0x40, 0xe9, 0xa0, 0xd7, 0xc3, 0xff))
    val d = Tokenizer.delimitersFromFile(file.toString)
    assert(d === Tokenizer.WhitespaceDelimiters ++
      Set('@', 'é', '\u00a0', '×', 'Ã', 'ÿ'))
    // their UTF-8 forms, neighbours sharing a lead byte, and É (lowers to é)
    val high = Seq("é", "\u00a0", "×", "Ã", "ÿ", "è", "¡", "Ö", "É", "Ÿ").map(utf8)
    val pieces = d.toSeq.map(c => utf8(c.toString)) ++ letters ++ high ++
      nonAsciiCase ++ invalid ++ Seq(utf8(","), utf8("."))
    val df = corpus(pieces, 3000, 99L)
    val t = col("t")
    assertSameTokens(df, Tokenizer.tokens(t, d), regexTokens(t, d))
    assertSameTokens(df, Tokenizer.lowerTokens(t, d), regexTokens(lower(t), d))
  }
}
