package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Whole-surface timing sweep: times every [[SparkEntry.benchQueries]]
  * entry on SPARK_GRAFT_SF_DIR with [[time]] and prints ONE JSON line;
  * `bench_full.json` gets the same line plus the next sweep's priors.
  * The repo's benchmark of record is `perfbench/run.py`; this sweep is the
  * per-query regression read across all queries.
  *
  * [[time]] is the one definition of "time a query" that every in-tree
  * harness uses (Bench, `tools.QueryProfile`, `tools.ScaleProbe`,
  * `tools.ScalingProfile`): an untimed warm-up (JIT, codegen, parquet
  * footer caches), then [[release]], then a timed run from plan
  * construction to a `noop` sink, then [[release]] again. The sink is a
  * real one: unlike `count()` it executes the complete physical plan
  * (Catalyst cannot prune sorts and exchanges) without filesystem cost.
  * Eager jobs a query runs while its plan is built (persist+count,
  * localCheckpoint, driver collects) are timed because the build is.
  */
object Bench {

  /** A confirmed excursion below this many seconds is never FLAGGED:
    * sub-second queries jitter past 2× on scheduler noise alone
    * (measured: q_pivot 0.20 → 0.48 s on an idle box).
    */
  val RegressFloorSec = 1.0

  /** Written to bench_full.json and required by [[parsePriors]]: priors
    * timed under another protocol never gate this one (a timed run that
    * reuses the warm-up's cached intermediates reads persist-heavy
    * queries up to 4.2× low).
    */
  val Protocol = "cleared"

  /** Drop every materialization the session holds: the SQL cache manager
    * and every RDD-level persist (`localCheckpoint`, RDD `persist`), which
    * `clearCache` does not cover and ContextCleaner reclaims only after a
    * JVM GC. Blocking, so the next query starts from empty storage.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** (construction s, total s) of one query under the cleared protocol —
    * see the object doc. `timedLeg` wraps only the timed run (a caller's
    * listener or sampler); it must invoke its argument exactly once.
    */
  def time(spark: SparkSession, timedLeg: (() => Unit) => Unit = _())(
      build: => DataFrame): (Double, Double) = {
    def run(): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      ((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
    }
    try {
      run()
      release(spark)
      var timed = (0.0, 0.0)
      timedLeg(() => timed = run())
      timed
    } finally release(spark)
  }

  /** The confirmation rule, pure for unit testing. A first timing more
    * than 2× its same-box prior is re-timed once by `fresh` (the caller
    * rebuilds the session first: host stalls live in the SparkContext
    * layer, and a fresh context recovered q_minhash_k_sweep 10.87 →
    * 0.55 s); the better of the two is published. It is REGRESSED iff
    * that value is still past 2× the prior and at least
    * [[RegressFloorSec]]: a plan regression is slow in a fresh context
    * too. A missing or non-positive prior is never re-timed or flagged.
    * Returns (published seconds, regressed).
    */
  def confirm(prior: Option[Double], first: Double,
              fresh: () => Double): (Double, Boolean) = {
    val p = prior.filter(_ > 0)
    if (!p.exists(first > 2 * _)) (first, false)
    else {
      val v = math.min(first, fresh())
      (v, p.exists(v > 2 * _) && v >= RegressFloorSec)
    }
  }

  /** A confirmed regression whose measurement exceeds this many times its
    * old prior keeps the OLD prior (the r9 shape: 13.1 s vs a 1.9 s prior
    * = 6.9× — a stall must never become the baseline). Below the cap the
    * confirmed number IS accepted as the next prior — see [[nextPriors]].
    */
  val PriorAcceptCap = 4.0

  /** Next-sweep priors: every query records its fresh measurement, except
    * that a confirmed regression past [[PriorAcceptCap]]× its old prior
    * carries the old prior (stall protection, the flag stays armed).
    * Within the cap the confirmed number is this box's sustained one
    * (BENCH_r10's q_source_overlap: a 0.49 s prior from a faster box vs
    * ~1.1 s sustained on the sweep's box for two rounds), so the flag is
    * one-shot.
    */
  def nextPriors(times: Map[String, Double], priors: Map[String, Double],
                 regressed: Set[String]): Map[String, Double] =
    times.map { case (k, t) =>
      k -> (if (regressed(k)) {
        val old = priors.getOrElse(k, t)
        if (t <= PriorAcceptCap * old) t else old
      } else t)
    }

  /** 1-minute load average from /proc/loadavg, recorded at sweep start
    * and end as host context. Returns -1 when unreadable (non-Linux).
    */
  def loadAvg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU jiffies from /proc/stat's aggregate line; the
    * sweep records 100*Δsteal/Δtotal — hypervisor-stolen time a guest's
    * own loadavg cannot see. (-1,-1) when unreadable.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Parse same-box priors from a bench_full.json text's `"priors"`
    * object. A file is discarded unless it was recorded at the same
    * scale factor (an sf0.001 prior would flag every sf0.1 query), at
    * the same core count (`"priors_cpus"`; an 8-core scaling sweep must
    * not arm a 32-core baseline) and under the same [[Protocol]];
    * untagged files are unverifiable and discarded the same way.
    */
  def parsePriors(txt: String, sfDir: String, cpus: Int): Map[String, Double] = {
    val sameSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .exists(_.group(1) == sfDir)
    val sameCpus = "\"priors_cpus\":(\\d+)".r.findFirstMatchIn(txt)
      .exists(_.group(1).toInt == cpus)
    val sameProtocol = "\"protocol\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .exists(_.group(1) == Protocol)
    val scope = "\"priors\":\\{([^}]*)\\}".r.findFirstMatchIn(txt)
      .filter(_ => sameSf && sameCpus && sameProtocol)
    scope.fold(Map.empty[String, Double]) { m =>
      "\"((?:q_|wc_)\\w+)\":([0-9.]+)".r.findAllMatchIn(m.group(1))
        .map(q => q.group(1) -> q.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var spark = Sessions.local("graft-bench")
    def timeQuery(name: String): Double =
      time(spark)(SparkEntry.queries(name)(spark, sfDir))._2

    // the sweep's core count, recorded with the priors it writes and
    // required to match on the priors it reads
    val benchCpus = spark.sparkContext.defaultParallelism
    val prior: Map[String, Double] = try {
      parsePriors(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_full.json")), "UTF-8"), sfDir, benchCpus)
    } catch { case _: Throwable => Map.empty }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(ts: Map[String, Double]): String =
      ts.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")

    var times = ListMap.empty[String, Double]
    var errors = ListMap.empty[String, String]
    var regressed = List.empty[String]
    // (first, fresh) of every re-timed query: the evidence behind each
    // published confirmation
    var confirmed = ListMap.empty[String, (Double, Double)]
    val loadBefore = loadAvg1m()
    val jiffiesBefore = cpuJiffies()
    SparkEntry.benchQueries.foreach { name =>
      try {
        val first = timeQuery(name)
        val (t, isRegressed) = confirm(prior.get(name), first, () => {
          spark.stop()
          spark = Sessions.local("graft-bench")
          val fresh = timeQuery(name)
          confirmed += name -> ((first, fresh))
          System.err.println(f"[bench] $name re-timed in a fresh session: " +
            f"first $first%.2f s, fresh $fresh%.2f s, prior ${prior(name)}%.2f s")
          fresh
        })
        if (isRegressed) {
          regressed ::= name
          System.err.println(
            f"[bench] $name REGRESSED: $t%.2f s vs prior ${prior(name)}%.2f s")
        }
        times += name -> t
      } catch {
        case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
    }
    val loadAfter = loadAvg1m()
    val jiffiesAfter = cpuJiffies()
    val stealPct =
      if (jiffiesBefore._2 >= 0 && jiffiesAfter._2 > jiffiesBefore._2)
        100.0 * (jiffiesAfter._1 - jiffiesBefore._1) /
          (jiffiesAfter._2 - jiffiesBefore._2)
      else -1.0

    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val regressedJson =
      if (regressed.isEmpty) ""
      else s""","regressed":${regressed.reverse.map(jstr).mkString("[", ",", "]")}"""
    val line =
      s"""{"metric":"total","value":${fmt(times.values.sum)},"unit":"sec","n_queries":${times.size},"queries":${jmap(times)},"errors":$es,"failed":${errors.size}$regressedJson""" +
        s""","load_before":${fmt(loadBefore)},"load_after":${fmt(loadAfter)},"steal_pct":${fmt(stealPct)},"sf":"$sfDir"}"""
    try {
      // the file additionally carries what the next sweep compares to
      // ("queries" stays the measured truth) and the re-time evidence
      val confirmedJson =
        if (confirmed.isEmpty) ""
        else s""","confirmed":${confirmed.map { case (k, (a, b)) =>
          s"${jstr(k)}:[${fmt(a)},${fmt(b)}]" }.mkString("{", ",", "}")}"""
      val priors = nextPriors(times, prior, regressed.toSet)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        (line.dropRight(1) +
          s""","priors":${jmap(priors)},"priors_cpus":$benchCpus,"protocol":"$Protocol"$confirmedJson}""" +
          "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // best-effort; the stdout line is the contract
    println(line)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
