package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.jdk.CollectionConverters._

/** The plain single-thread JVM word counter: walk the bytes, cut maximal
  * runs of non-delimiter bytes, lowercase, count in a HashMap. Its speed
  * is the `host.floor_mb_s` floor, and its full word -> count map is the
  * correctness reference for the `wc_zipf` CSV. */
object Floor {

  private val isDelim: Array[Boolean] = {
    val t = new Array[Boolean](256)
    Corpus.Delimiters.foreach(b => t(b & 0xff) = true)
    t
  }

  final case class Result(counts: java.util.HashMap[String, Array[Long]],
                          bytes: Long, seconds: Double) {
    def tokens: Long = counts.values.asScala.map(_(0)).sum
  }

  def countBuffer(b: Array[Byte], n: Int,
                  counts: java.util.HashMap[String, Array[Long]]): Unit = {
    var i = 0
    while (i < n) {
      while (i < n && isDelim(b(i) & 0xff)) i += 1
      val start = i
      while (i < n && !isDelim(b(i) & 0xff)) i += 1
      if (i > start) {
        val w = new String(b, start, i - start, UTF_8).toLowerCase(Locale.ROOT)
        val c = counts.get(w)
        if (c == null) counts.put(w, Array(1L)) else c(0) += 1
      }
    }
  }

  def countFiles(files: Seq[Path]): Result = {
    val counts = new java.util.HashMap[String, Array[Long]]()
    var bytes = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val b = Files.readAllBytes(f)
      countBuffer(b, b.length, counts)
      bytes += b.length
    }
    Result(counts, bytes, (System.nanoTime() - t0) / 1e9)
  }

  def textFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Unsigned byte order of the UTF-8 encodings: the order Spark sorts
    * strings in. */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  /** Checks a `WordCount.writeCsv` output directory against the reference:
    * header `Word,Count`, every word once with its exact count, ascending
    * byte order. Returns None when it matches, else the first difference. */
  def checkCsv(outDir: Path, ref: java.util.HashMap[String, Array[Long]],
               sortedWords: Array[String]): Option[String] = {
    val parts = textFiles(outDir).filter(_.getFileName.toString.endsWith(".csv"))
    if (parts.size != 1) return Some(s"expected one CSV part, found ${parts.size}")
    val lines = Files.readAllLines(parts.head, UTF_8)
    if (lines.isEmpty || lines.get(0) != "Word,Count")
      return Some(s"bad header: ${if (lines.isEmpty) "<empty>" else lines.get(0)}")
    if (lines.size - 1 != sortedWords.length)
      return Some(s"${lines.size - 1} rows, reference has ${sortedWords.length} words")
    var i = 1
    while (i < lines.size) {
      val line = lines.get(i)
      val comma = line.lastIndexOf(',')
      val word = if (comma < 0) line else line.substring(0, comma)
      val want = sortedWords(i - 1)
      if (word != want) return Some(s"row $i: word '$word', reference '$want'")
      val count = line.substring(comma + 1).toLong
      if (count != ref.get(want)(0))
        return Some(s"row $i: '$word' counted $count, reference ${ref.get(want)(0)}")
      i += 1
    }
    None
  }
}
