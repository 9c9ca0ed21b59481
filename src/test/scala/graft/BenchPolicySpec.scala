package graft

/** The bench confirmation/prior policy is pure — test it without a
  * session: re-time once only past 2× the prior, publish the better
  * number, flag what is still slow, and never let a stall become its own
  * baseline. The timing protocol itself ([[Bench.time]]) runs on the
  * shared session.
  */
class BenchPolicySpec extends SparkSpec {

  private def counting(vals: Double*): (() => Double, () => Int) = {
    var i = 0
    val it = vals.iterator
    (() => { i += 1; it.next() }, () => i)
  }

  test("no prior, under the sampling floor: first timing reported, no re-time") {
    // with nothing to compare against there is nothing to confirm
    val (re, n) = counting(99.0)
    assert(Bench.confirm(None, 0.7, re) === ((0.7, false)))
    assert(n() === 0)
  }

  test("within 2x of prior and under the floor: no re-time") {
    val (re, n) = counting(99.0)
    assert(Bench.confirm(Some(0.6), 0.9, re) === ((0.9, false)))
    assert(n() === 0)
  }

  test("heavy queries with no prior are sampled: median reported, samples kept") {
    // a heavy query is no longer median-of-3 sampled: its one cleared
    // timing is reported un-retimed, and that sample is kept as its prior
    // for the next sweep
    val (re, n) = counting(99.0)
    assert(Bench.confirm(None, 2.5, re) === ((2.5, false)))
    assert(n() === 0)
    assert(Bench.nextPriors(Map("q_new" -> 2.5), Map.empty, Set.empty) ===
      Map("q_new" -> 2.5))
  }

  test("in-band heavy with a prior runs ONCE (r16 wall-clock cut)") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.confirm(Some(2.0), 2.2, re) === ((2.2, false)))
    // improvements are in-band too
    assert(Bench.confirm(Some(3.0), 1.4, re) === ((1.4, false)))
    assert(n() === 0)
  }

  test("sub-second movers past 2x prior draw the confirmation samples") {
    // the q_join_outer shape (0.39 s prior, 1.21 s first = 3.1×): one
    // fresh re-time, which recovers
    val (re, n) = counting(0.41)
    assert(Bench.confirm(Some(0.39), 1.21, re) === ((0.41, false)))
    assert(n() === 1)
  }

  test("first timing past 2x, median recovers: de-noised, not regressed") {
    // the median-of-3 is now one fresh-session re-time. Recorded stall
    // victims it recovers (r19 and r18 sweeps): q_minhash_k_sweep first
    // 10.87 s / fresh 0.549 s, q_lang_confusion 1.408 / 0.306 s
    val (re, n) = counting(0.549)
    assert(Bench.confirm(Some(0.55), 10.87, re) === ((0.549, false)))
    assert(n() === 1)
    assert(Bench.confirm(Some(0.31), 1.408, () => 0.306) === ((0.306, false)))
  }

  test("median still past 2x: reported AND flagged regressed") {
    // the r9 q_pagerank shape: 13.1 s against a 1.9 s prior and still
    // slow in a fresh session — a plan regression, flagged
    val (re, n) = counting(12.9)
    assert(Bench.confirm(Some(1.9), 13.1, re) === ((12.9, true)))
    assert(n() === 1)
  }

  test("sub-second excursions de-noise via the median but never flag") {
    // the q_pivot shape: 0.20 s prior, ~0.5 s sustained — past 2× fresh
    // too, but under RegressFloorSec: scheduler noise, never flagged
    val (re, n) = counting(0.49)
    assert(Bench.confirm(Some(0.20), 0.50, re) === ((0.49, false)))
    assert(n() === 1)
  }

  test("adjudicate publishes the better number and re-judges the flag on it") {
    // fresh run slower than the first (unlucky): keep the better
    assert(Bench.confirm(Some(0.61), 3.1, () => 4.0) === ((3.1, true)))
    // recovery into the 1-2x band: in-band, unflagged
    assert(Bench.confirm(Some(1.0), 9.0, () => 1.6) === ((1.6, false)))
  }

  test("zero/negative prior never divides the policy") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.confirm(Some(0.0), 13.0, re) === ((13.0, false)))
    assert(Bench.confirm(Some(-1.0), 13.0, re) === ((13.0, false)))
    assert(n() === 0)
  }

  test("nextPriors: stall-scale regressions keep the old prior, the rest refresh") {
    val times = Map("q_a" -> 13.1, "q_b" -> 0.9, "q_new" -> 4.0)
    val priors = Map("q_a" -> 1.9, "q_b" -> 1.0)
    val next = Bench.nextPriors(times, priors, Set("q_a", "q_new"))
    assert(next("q_a") === 1.9)  // 13.1 > 4×1.9: stall scale, prior held
    assert(next("q_b") === 0.9)  // normal: fresh measurement
    assert(next("q_new") === 4.0) // regressed but no old prior: fresh
  }

  test("nextPriors: a confirmed regression within the cap becomes the new prior") {
    // the BENCH_r10 q_source_overlap shape: 0.49 s builder-box prior vs a
    // sustained ~1.1 s driver-box number — a cross-box envelope, not a
    // stall; accepting the confirmed number makes the flag one-shot
    val next = Bench.nextPriors(
      Map("q_so" -> 1.13), Map("q_so" -> 0.49), Set("q_so"))
    assert(next("q_so") === 1.13) // 1.13 ≤ 4×0.49: accepted
  }

  test("parsePriors prefers the priors map over measured queries") {
    val txt = """{"metric":"total","value":14.0,"queries":{"q_a":13.100,"q_b":0.900},""" +
      """"regressed":["q_a"],"sf":"/d/sf0.1","priors":{"q_a":1.900,"q_b":0.900},""" +
      """"priors_cpus":32,"protocol":"cleared"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) ===
      Map("q_a" -> 1.9, "q_b" -> 0.9))
  }

  test("parsePriors discards priors recorded at a different core count") {
    // an 8-core scaling sweep must not arm the baseline a 32-core sweep
    // re-times against (and vice versa)
    val txt = """{"queries":{"q_a":2.500},"priors":{"q_a":2.500},"priors_cpus":8,""" +
      """"protocol":"cleared","sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) === Map.empty)
    assert(Bench.parsePriors(txt, "/d/sf0.1", 8) === Map("q_a" -> 2.5))
  }

  test("parsePriors discards width-untagged priors (pre-r19 files)") {
    // a prior whose sweep width or timing protocol is unrecorded is
    // unverifiable; the next full sweep re-arms
    val untaggedWidth = """{"metric":"total","queries":{"q_a":2.500,"wc_words":0.300},""" +
      """"priors":{"q_a":2.500},"protocol":"cleared","sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(untaggedWidth, "/d/sf0.1", 32) === Map.empty)
    // the 32-core warm-reuse record: right sf and width, no protocol tag —
    // its persist-heavy priors read up to 4.2x low under the cleared
    // protocol and would flood REGRESSED
    val warmReuse = """{"metric":"total","queries":{"q_a":2.500},""" +
      """"priors":{"q_a":2.500},"priors_cpus":32,"sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(warmReuse, "/d/sf0.1", 32) === Map.empty)
  }

  test("parsePriors discards priors from a different scale factor") {
    val txt = """{"queries":{"q_a":2.500},"priors":{"q_a":2.500},"priors_cpus":32,""" +
      """"protocol":"cleared","sf":"/d/sf0.001"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) === Map.empty)
  }

  test("time releases every SQL-cache and RDD-level persist the query leaves") {
    import org.apache.spark.storage.StorageLevel
    var persisted: org.apache.spark.sql.DataFrame = null
    val (construct, total) = Bench.time(spark) {
      // the dedup/graph-family shapes: an eager DataFrame persist and an
      // eager localCheckpoint cut, both made while the plan is built
      persisted = spark.range(1000).toDF("id").persist()
      persisted.count()
      spark.sparkContext.parallelize(1 to 100, 4).localCheckpoint().count()
      persisted.where("id % 2 = 0")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
    assert(persisted.storageLevel === StorageLevel.NONE)
    assert(construct > 0.0 && construct <= total)
  }

  test("host evidence readers degrade, never throw") {
    // the contract on any box is "number or the documented sentinel",
    // never an exception
    val l = Bench.loadAvg1m()
    assert(l >= 0.0 || l === -1.0)
    val (steal, total) = Bench.cpuJiffies()
    assert((steal >= 0L && total > 0L) || (steal === -1L && total === -1L))
  }
}
