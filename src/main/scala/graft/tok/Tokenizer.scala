package graft.tok

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.DelimiterSplit

/** Configurable-delimiter tokenization, the engine's analogue of the
  * reference tokenizer (`tokenizer.c:47-79` `next_word`) and its delimiter
  * config loader (`tokenizer.c:6-35` `define_delimiters`).
  *
  * Semantics preserved (SURVEY §2.3):
  *   - delimiter set = `{' ','\t','\n','\r'}` (`tokenizer.c:7`) ∪ the bytes of
  *     a config file (default: the 34 bytes of `delimiters.txt`, i.e. all 32
  *     ASCII punctuation chars with `[`/`]` listed twice — set semantics);
  *   - a word is a maximal run of non-delimiter bytes;
  *   - empty tokens are never emitted (`tokenizer.c:62-64,73-74`);
  *   - counting is case-insensitive and keys are emitted lowercased
  *     (`hash_map.c:25-28`) — exposed here as [[lowerTokens]].
  *
  * Implementation is Spark-first: the delimiter set is compiled once, at plan
  * time, into a 256-entry table inside the codegen'd [[DelimiterSplit]]
  * expression, which walks each row's UTF-8 bytes once (the reference
  * rescans its delimiter array per byte, `tokenizer.c:37-45`). The regex
  * form of the set, [[charClassRegex]], remains only for SQL strings: the
  * DuckDB oracle's `string_split_regex` and the benchmark's
  * split-yield probe.
  */
object Tokenizer {

  /** Built-in whitespace delimiters (`tokenizer.c:7`). */
  val WhitespaceDelimiters: Set[Char] = Set(' ', '\t', '\n', '\r')

  /** Bytes of the reference's default `delimiters.txt` (`delimiters.txt:1`).
    * `[` and `]` appear twice in the file; a Set collapses them.
    */
  val DefaultConfigDelimiters: Set[Char] =
    """][!"#$%&'()*+,./:;<=>?@\^_`|{}~-""".toSet

  /** The reference's effective default delimiter set. */
  val DefaultDelimiters: Set[Char] = WhitespaceDelimiters ++ DefaultConfigDelimiters

  /** `define_delimiters` analogue (`tokenizer.c:11-35`): whitespace built-ins
    * plus every byte of the config file at `path`.
    */
  def delimitersFromFile(path: String): Set[Char] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    WhitespaceDelimiters ++ bytes.map(b => (b & 0xff).toChar)
  }

  /** Compile a delimiter set into a `[...]+` regex character class, escaping
    * the chars that are special inside a Java/RE2 class (`\ ^ ] [ -`).
    * `-` is emitted last (position makes it literal), `^` never first.
    * The same pattern string is valid for DuckDB's RE2 (oracle parity).
    */
  def charClassRegex(delims: Set[Char]): String = {
    require(delims.nonEmpty, "empty delimiter set")
    val (dash, rest) = delims.partition(_ == '-')
    val body = rest.toSeq.sorted.map {
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c if c == '\\' || c == '^' || c == ']' || c == '[' => "\\" + c
      case c => c.toString
    }.mkString
    "[" + body + (if (dash.nonEmpty) "-" else "") + "]+"
  }

  /** The default split regex — the full 38-char reference delimiter set. */
  val DefaultSplitRegex: String = charClassRegex(DefaultDelimiters)

  /** Split a string column into an array of non-empty tokens.
    * Equivalent of the `next_word` loop: maximal non-delimiter runs, empty
    * tokens suppressed. Every char of `delims` must be U+0000–U+00FF.
    */
  def tokens(text: Column, delims: Set[Char] = DefaultDelimiters): Column =
    DelimiterSplit(delims)(text)

  /** Tokens case-folded for case-insensitive counting (`hash_map.c:27-28`).
    * C `tolower` is ASCII; we define the semantics as UTF-8 lower (documented
    * divergence, SURVEY §2.4 — identical on ASCII input). The whole line is
    * lowered before the split, so context-dependent case rules (final sigma)
    * see the same neighbours as in the text.
    */
  def lowerTokens(text: Column, delims: Set[Char] = DefaultDelimiters): Column =
    tokens(lower(text), delims)
}
