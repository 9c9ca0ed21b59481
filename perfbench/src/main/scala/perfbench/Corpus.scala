package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Seeded Zipf text corpus for the `wc_zipf` workload.
  *
  * A fixed vocabulary of [[VocabSize]] words (lowercase ASCII, about one in ten
  * with non-ASCII letters, about one in a hundred longer than 29
  * characters) is sampled with Zipf weights 1/rank. Each occurrence is
  * written lowercase, Capitalized or UPPER case, and words are separated by
  * runs of the 38 reference delimiter bytes, mostly spaces and newlines.
  * The same seed, size and file count give byte-identical files; a corpus
  * already on disk with a matching stamp is reused.
  */
object Corpus {

  val Version = 2
  val VocabSize = 200000

  /** The reference word counter's delimiter set: space, tab, newline,
    * carriage return and the 34 punctuation bytes of its delimiters.txt
    * (`[` and `]` listed twice, so 32 distinct). */
  val Delimiters: Array[Byte] =
    (" \t\n\r" + """][!"#$%&'()*+,./:;<=>?@\^_`|{}~-""").distinct
      .map(_.toByte).toArray

  /** Letters whose lower/upper case round-trips one to one in every
    * locale but Turkish (no dotted I, no sigma, no sharp s), plus caseless
    * CJK. All in the Basic Multilingual Plane below U+D800, so UTF-16 and
    * UTF-8 orders agree. */
  private val NonAscii = "éèüöñçøåäłžšдлжфгλπθ中文字词"

  /** The vocabulary is the same for every run seed, so runs differ only
    * in which words occur where, not in how many bytes a word has. */
  def vocabulary(): Array[String] = {
    val rng = new SplittableRandom(0x5EED)
    Array.tabulate(VocabSize) { _ =>
      val long = rng.nextInt(100) == 0
      val len = if (long) 30 + rng.nextInt(19) else 2 + rng.nextInt(4) + rng.nextInt(8)
      val nonAscii = rng.nextInt(10) == 0
      val sb = new java.lang.StringBuilder(len)
      var i = 0
      while (i < len) {
        if (nonAscii && rng.nextInt(3) == 0)
          sb.append(NonAscii.charAt(rng.nextInt(NonAscii.length)))
        else sb.append(('a' + rng.nextInt(26)).toChar)
        i += 1
      }
      sb.toString
    }
  }

  /** Vose alias table for weights 1/rank, rank 1..n. */
  private final class Alias(n: Int) {
    val prob = new Array[Double](n)
    val alias = new Array[Int](n)
    locally {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      val scaled = w.map(_ * n / total)
      val small = new java.util.ArrayDeque[Integer]()
      val large = new java.util.ArrayDeque[Integer]()
      scaled.indices.foreach(i => if (scaled(i) < 1.0) small.push(i) else large.push(i))
      while (!small.isEmpty && !large.isEmpty) {
        val s = small.pop().intValue; val l = large.pop().intValue
        prob(s) = scaled(s); alias(s) = l
        scaled(l) = scaled(l) + scaled(s) - 1.0
        if (scaled(l) < 1.0) small.push(l) else large.push(l)
      }
      while (!large.isEmpty) prob(large.pop().intValue) = 1.0
      while (!small.isEmpty) prob(small.pop().intValue) = 1.0
    }
    def sample(rng: SplittableRandom): Int = {
      val i = rng.nextInt(n)
      if (rng.nextDouble() < prob(i)) i else alias(i)
    }
  }

  private def stamp(seed: Long, totalBytes: Long, files: Int): String =
    s"version=$Version seed=$seed bytes=$totalBytes files=$files\n"

  /** Writes the corpus into `dir` (replacing anything there) unless a
    * corpus with the same parameters is already present. */
  def ensure(dir: Path, seed: Long, totalBytes: Long, files: Int,
             threads: Int): Unit = {
    val stampFile = dir.resolve("..").resolve(dir.getFileName.toString + ".stamp")
    val want = stamp(seed, totalBytes, files)
    if (Files.exists(stampFile) && Files.readString(stampFile) == want &&
        Files.isDirectory(dir)) return
    Files.deleteIfExists(stampFile)
    if (Files.exists(dir)) {
      val s = Files.list(dir)
      try s.forEach(p => Files.delete(p)) finally s.close()
    }
    Files.createDirectories(dir)
    val vocab = vocabulary()
    val forms = Array.tabulate(3, VocabSize) { (form, i) =>
      val w = vocab(i)
      (form match {
        case 0 => w
        case 1 => w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)
        case _ => w.toUpperCase(java.util.Locale.ROOT)
      }).getBytes(UTF_8)
    }
    val alias = new Alias(VocabSize)
    // file sizes vary 1x..4x around the mean so splits are uneven
    val weights = Array.tabulate(files)(i => 1 + i % 4)
    val sizes = weights.map(w => totalBytes * w / weights.sum)
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val work = sizes.indices.map { f =>
        Future(writeFile(dir.resolve(f"part-$f%03d.txt"), sizes(f),
          new SplittableRandom(seed * 1000003L + f), forms, alias, f == 0))
      }
      Await.result(Future.sequence(work), Duration.Inf)
    } finally pool.shutdown()
    Files.writeString(stampFile, want)
  }

  private def writeFile(path: Path, bytes: Long, rng: SplittableRandom,
                        forms: Array[Array[Array[Byte]]], alias: Alias,
                        allDelimiters: Boolean): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    try {
      var written = 0L
      def word(): Unit = {
        val r = rng.nextInt(100)
        val w = forms(if (r < 85) 0 else if (r < 95) 1 else 2)(alias.sample(rng))
        out.write(w); written += w.length
      }
      if (allDelimiters) { // one line that uses every delimiter byte
        Delimiters.foreach { d => word(); out.write(d); written += 1 }
        out.write('\n'); written += 1
      }
      while (written < bytes) {
        word()
        var sep = 1 + (if (rng.nextInt(20) == 0) 1 else 0)
        while (sep > 0) {
          val r = rng.nextInt(100)
          val d: Int = if (r < 80) ' ' else if (r < 86) '\n'
            else Delimiters(rng.nextInt(Delimiters.length))
          out.write(d); written += 1; sep -= 1
        }
      }
    } finally out.close()
  }
}
