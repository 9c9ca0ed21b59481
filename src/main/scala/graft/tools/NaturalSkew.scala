package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Natural-key skew audit (VERDICT r15 #7): the AqeSkewJoinSpec gate
  * proves the AQE skew-join split fires on PLANTED skew — this
  * tool asks whether any of the gated surface's REAL join keys actually
  * trips the detector at fixture scale and at a replicated 10×.
  *
  * Per join family it reports (a) the key-mass shape — distinct keys,
  * hottest key's row share, and the max/median row mass across 32 hash
  * partitions (Spark's `hash()` IS the Murmur3 the shuffle partitioner
  * uses, so this is the real reduce-partition imbalance) — and (b) a live
  * run of the join with broadcast disabled (the too-big-to-broadcast
  * emulation) and the detector scaled to fixture bytes exactly as the
  * gate scales it (factor 5.0 = the production default, threshold 1m /
  * advisory 512k), recording whether the executed SortMergeJoin carries
  * `isSkewJoin=true`. The detection arithmetic — split when partition
  * size > max(factor × median, threshold) — is scale-free, so "max/median
  * below the factor" on a replicated run is evidence the production-scale
  * plan would not split either.
  *
  * The 10× leg replicates facts with SHIFTED keys (disjoint key spaces —
  * per-key counts unchanged, partition bytes ×N: honest weak scaling; an
  * unshifted replica would multiply every key's mass ×N and fake a hotter
  * distribution than any real 10× corpus has). Aggregation-skew families
  * (tokens-per-word, events-per-user) get stats-only rows — AQE does not
  * split aggregations; partial aggregation absorbs their key mass.
  *
  * Usage: runMain graft.tools.NaturalSkew [sfDir] [replicate]
  * Diagnosis tool, not gated surface; recorded numbers live in
  * BASELINE.md (round 16).
  */
object NaturalSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicate = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val spark = graft.Sessions.local("natural-skew")

    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame =
      if (replicate <= 1) df
      else {
        val r = spark.range(replicate).select(col("id").as("rep"))
        keyCols.foldLeft(df.crossJoin(broadcast(r))) { (d, k) =>
          d.withColumn(k, col(k) + col("rep") * 1000000000L)
        }.drop("rep")
      }

    def keyStats(label: String, df: DataFrame, k: String): Unit = {
      val perKey = df.groupBy(col(k)).agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val row = perKey.agg(sum(col("c")).as("n"),
        count(lit(1)).as("ndv"), max(col("c")).as("top1")).collect().head
      val (n, ndv, top1) = (row.getLong(0), row.getLong(1), row.getLong(2))
      // Murmur3-hash the key into the sweep's 32 reduce partitions and
      // read the mass imbalance the skew detector would see
      val parts = df.groupBy(pmod(hash(col(k)), lit(32)).as("p"))
        .agg(count(lit(1)).as("c"))
        .select(col("c")).collect().map(_.getLong(0)).sorted
      val med = parts(parts.length / 2).toDouble
      val ratio = parts.last / math.max(1.0, med)
      perKey.unpersist()
      println(f"[skew] $label%-46s n=$n%10d ndv=$ndv%9d " +
        f"top1=$top1%7d (${100.0 * top1 / n}%5.2f%%) " +
        f"part_max/med=$ratio%5.2f")
    }

    def liveJoin(label: String, left: DataFrame, right: DataFrame,
                 joined: DataFrame): Unit = {
      // save/restore every conf this leg touches (ADVICE r16): the later
      // keyStats legs — and anything else in this session — must not run
      // with broadcast joins disabled and detector floors lowered
      val touched = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      val saved = touched.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        // production-default factor; byte floors scaled to fixture bytes
        // (the AqeSkewJoinSpec scaling — defaults are 256 MB-class)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
        val agg = joined.agg(count(lit(1)).as("n"))
        val t0 = System.nanoTime()
        val n = agg.collect().head.getLong(0)
        val secs = (System.nanoTime() - t0) / 1e9
        // typed read of the executed SortMergeJoin's isSkewJoin flag
        // (ADVICE r16: the old string match looked for "isSkewJoin=true",
        // which Spark 4.1.2's plan text renders as "(skew=true)" — the
        // instrument could never report a fired split)
        val smjs = graft.ops.Plans.collectNodes(
          agg.queryExecution.executedPlan).collect {
          case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
        }
        val fired = smjs.exists(_.isSkewJoin)
        println(f"[skew] $label%-46s LIVE join rows=$n%12d " +
          f"t=$secs%6.2f s smj=${smjs.size} skew_split_fired=$fired")
        spark.catalog.clearCache()
        val _ = (left, right)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val li = rep(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")), Seq("l_orderkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val liOrd = rep(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey")), Seq("l_orderkey"))
    val ord = rep(spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")),
      Seq("o_orderkey", "o_custkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cust = rep(spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey")), Seq("c_custkey"))

    println(s"[skew] sfDir=$sfDir replicate=${replicate}x " +
      "(shifted-key disjoint replicas)")

    keyStats("lineitem.l_orderkey (self-join pair build)", li, "l_orderkey")
    keyStats("orders.o_custkey (orders-per-customer)", ord, "o_custkey")
    liveJoin("lineitem self-join on l_orderkey",
      li, li,
      li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey")))
    liveJoin("lineitem join orders on orderkey",
      liOrd, ord,
      liOrd.join(ord, col("l_orderkey") === col("o_orderkey")))
    liveJoin("orders join customer on custkey",
      ord, cust,
      ord.join(cust, col("o_custkey") === col("c_custkey")))

    // aggregation-skew families: stats only (AQE never splits an
    // aggregation; the partial phase absorbs key mass map-side)
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
    keyStats("documents tokens (word mass, wc groupBy)", words, "word")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"))
    keyStats("events.user_id (sessionization windows)", events, "user_id")

    spark.stop()
  }
}
