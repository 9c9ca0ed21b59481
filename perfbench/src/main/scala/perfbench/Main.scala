package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.tok.Tokenizer
import graft.wc.WordCount

/** The benchmark's JVM side. Builds the workload's inputs, times session
  * set-up, runs a cold pass and then timed passes of every job with caches
  * cleared before each job, and writes every raw measurement to one JSON
  * file. `perfbench/run.py` launches it, checks the outputs and derives the
  * metrics.
  *
  * A job is timed from plan construction (the query builder call, which
  * may run eager count/persist/checkpoint jobs) to the end of its sink. */
object Main {

  /** Persist-heavy queries: driver construction and materialization
    * dominate their wall time. One each of MinHash LSH, connected
    * components, sorted-neighbourhood pairs and an iterative graph. */
  val DedupJobs = Seq("q_neardup_minhash", "q_dedup_clusters", "q_snm_pairs", "q_kcore")
  /** The relational control: scans, joins, numeric aggregates and a
    * window; nothing persisted, nothing tokenized. */
  val OlapJobs = Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q18", "q_agg_variants",
    "q_window_range")

  /** Session builds per run. The first, in a fresh JVM, loads Spark's
    * classes; `setup_s` is the median of all, so it reads a rebuild in a
    * warm JVM (SparkContext start and the session's configuration). */
  val Setups = 9
  /** Timed passes per run, however short `--seconds` is. */
  val MinPasses = 4
  /** wc_zipf corpus size and file count. */
  val CorpusBytes: Long = 32L << 20
  val CorpusFiles = 32

  final case class Job(name: String, build: SparkSession => DataFrame,
                       sink: (DataFrame, String) => Unit)

  private def noop(df: DataFrame, out: String): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def parquet(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(out)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Drops every materialized intermediate: the SQL cache and every
    * persisted or locally checkpointed RDD. */
  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("oracles").foreach { out => // the DuckDB oracle SQL of every job
      val sql = Map("dedup_iter" -> DedupJobs, "olap_star" -> OlapJobs)
        .map { case (w, names) => w -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap }
      Files.writeString(Paths.get(out), json.writeValueAsString(sql))
      return
    }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced)

    // ── inputs (outside every metric) ─────────────────────────────────
    val outRoot = work.resolve("out")
    var reference: Floor.Result = null
    var sortedWords: Array[String] = null
    val jobs: Seq[Job] = workload match {
      case "wc_zipf" =>
        val corpus = work.getParent.resolve("corpus")
        Corpus.ensure(corpus, seed, CorpusBytes, CorpusFiles, cores)
        reference = Floor.countFiles(Floor.textFiles(corpus))
        sortedWords = reference.counts.keySet.toArray(new Array[String](0))
          .map(w => (w.getBytes("UTF-8"), w))
          .sortWith((x, y) => java.util.Arrays.compareUnsigned(x._1, y._1) < 0)
          .map(_._2)
        result("input_bytes") = reference.bytes
        result("input_files") = Floor.textFiles(corpus).size
        result("floor") = Map("bytes" -> reference.bytes, "seconds" -> reference.seconds)
        result("wc") = Map("distinct" -> sortedWords.length, "tokens" -> reference.tokens)
        val dir = corpus.toString
        Seq(Job("wc", s => WordCount.fromDirectory(s, dir),
          (df, out) => WordCount.writeCsv(df, out)))
      case "dedup_iter" | "olap_star" =>
        val tables = Paths.get(a("tables")).toAbsolutePath.toString
        val names = if (workload == "dedup_iter") DedupJobs else OlapJobs
        val files = Floor.textFiles(Paths.get(tables)).filter(_.toString.endsWith(".parquet"))
        result("input_bytes") = files.map(Files.size(_)).sum
        result("input_files") = files.size
        if (traced) { // floor context: the byte-walk over a fixed small corpus
          val probe = work.getParent.resolve("floor-probe")
          Corpus.ensure(probe, 1L, 16L << 20, 4, cores)
          val f = Floor.countFiles(Floor.textFiles(probe))
          result("floor") = Map("bytes" -> f.bytes, "seconds" -> f.seconds)
        }
        names.map(n => Job(n, s => SparkEntry.queries(n)(s, tables), parquet))
      case other => sys.error(s"unknown workload $other")
    }

    // ── set-up: build the session several times, keep the last ─────────
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = Sessions.local("perfbench")
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Setups) s.stop()
      dt
    }
    result("setup_s") = setups
    val spark = SparkSession.active

    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    def runOne(pass: Int, phase: String, kind: String, name: String,
               build: SparkSession => DataFrame,
               sink: (DataFrame, String) => Unit): Unit = {
      val out = outRoot.resolve(s"p$pass").resolve(name)
      clear(spark)
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        val df = build(spark)
        t1 = System.nanoTime()
        sink(df, out.toString)
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val sc = spark.sparkContext
      val retainedRdds = sc.getPersistentRDDs.size
      val retainedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val check = err.orElse {
        if (workload == "wc_zipf" && kind == "job") Floor.checkCsv(out, reference.counts, sortedWords)
        else None
      }
      runs += Map("pass" -> pass, "phase" -> phase, "kind" -> kind, "job" -> name,
        "start_ms" -> epochMs(t0), "construct_end_ms" -> epochMs(t1),
        "end_ms" -> epochMs(t2), "seconds" -> (t2 - t0) / 1e9,
        "construct_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
        "error" -> check, "out" -> (if (kind == "job" && workload != "wc_zipf")
          work.relativize(out).toString else null),
        "retained_rdds" -> retainedRdds, "retained_bytes" -> retainedBytes)
    }

    val rng = new scala.util.Random(seed)
    var pass = 0
    def runPass(phase: String): Unit = {
      rng.shuffle(jobs).foreach(j => runOne(pass, phase, "job", j.name, j.build, j.sink))
      if (phase == "traced" && workload == "wc_zipf") wcChain(pass)
      pass += 1
    }
    def wcChain(p: Int): Unit = {
      val dir = work.getParent.resolve("corpus").toString
      val text = (s: SparkSession) => s.read.text(dir)
      val tokens = (s: SparkSession) =>
        text(s).select(explode(Tokenizer.lowerTokens(col("value"))).as("word"))
      val steps = Seq[(String, SparkSession => DataFrame)](
        "scan" -> text,
        "tokenize" -> tokens,
        "count" -> (s => tokens(s).groupBy("word").agg(count(lit(1)).as("cnt"))),
        "sort" -> (s => WordCount.fromText(text(s), "value")))
      steps.foreach { case (n, b) => runOne(p, "traced", "step", n, b, noop) }
    }
    def timedFor(phase: String, budget: Double, minPasses: Int): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        runPass(phase); n += 1
      }
    }

    runPass("cold")
    var recorder: Recorder = null
    if (!traced) timedFor("timed", seconds, MinPasses)
    else {
      if (workload == "wc_zipf") {
        val elems = spark.read.text(work.getParent.resolve("corpus").toString)
          .select(sum(size(split(lower(col("value")), Tokenizer.DefaultSplitRegex))))
          .head().getLong(0)
        result("wc") = result("wc").asInstanceOf[Map[String, Any]] + ("split_elements" -> elems)
      }
      // untraced (U) and traced (T) passes run in U T T U order, so both
      // see the same JIT warmth on average; the listeners exist only
      // during traced passes
      recorder = new Recorder
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      var n = 0
      val pairs = math.max(2, (MinPasses + 1) / 2)
      while (n < 2 * pairs || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (n % 4 == 0 || n % 4 == 3) runPass("timed")
        else {
          sc.addSparkListener(recorder)
          spark.listenerManager.register(recorder)
          runPass("traced")
          Thread.sleep(500) // let the listener bus deliver the pass's events
          spark.listenerManager.unregister(recorder)
          sc.removeSparkListener(recorder)
        }
        n += 1
      }
    }
    clear(spark)
    spark.stop()
    result("runs") = runs.toList
    if (recorder != null) result("trace") = recorder.dump
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(result))
  }
}
