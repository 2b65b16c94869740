package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** resolve() on an adversarial dup distribution: one giant component
  * spanning 10% of the corpus, in the two worst shapes — a chain
  * (maximum diameter: stresses round count) and a star (maximum
  * degree: stresses the propagation join's hot key). Measures what the
  * scale audit asks for: rounds stay O(log diameter) thanks to pointer
  * doubling, and per-task shuffle skew stays within the band AQE's
  * skew-split absorbs at real scale (see resolveWithStats's scaladoc
  * for the posture argument). */
class ResolveSkewSpec extends SparkSpec {

  test("AQE skew-split FIRES on the giant-component propagation join (plan-level skew=true)") {
    import spark.implicits._
    // 75% giant star: the worst converged state — every member carries
    // the component's min label, so the pointer-doubling jump join
    // concentrates the whole component on ONE key. This is the round
    // the scaladoc posture (Dedup.scala:387-395) claims AQE absorbs;
    // here the claim is executed, not prose: thresholds are scaled
    // from the production 256 MB down to this fixture's bytes (the
    // SPLIT MECHANISM is identical — OptimizeSkewedJoin compares
    // partition bytes to factor×median and threshold, whatever their
    // magnitude), and the final adaptive plan must carry skew=true.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // 64 reducers => median reduce partition ≈ 150 edge rows; the
      // star key's holds 30k+ — far past factor×median AND the byte
      // threshold. Broadcast is off so the join stays shuffled
      // (skew-split only applies to shuffled joins; production sides
      // are far past any broadcast threshold anyway). Set BEFORE the
      // fixture: resolve's label checkpoints must materialize at this
      // parallelism so the skewed reduce partition has enough mapper
      // granularity to split (measured: a 4-mapper checkpoint from the
      // suite default defeated the split; 64 fires it).
      conf.set("spark.sql.shuffle.partitions", "64")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")

      val n = 40000
      val star = (1L to 30000L).map(i => (0L, i))
      val smalls = (30002L until n.toLong by 2).map(i => (i, i + 1))
      val pairs = (star ++ smalls).toDF("doc_a", "doc_b")
      val labels = Dedup.resolveWithStats(pairs)._1
        .select(col("doc_id").as("id"), col("canonical_id").as("label"))
        .localCheckpoint(eager = true)

      // the EXACT jump-join shape from resolveWithStats's loop
      // (Dedup.scala:421-423), on the converged labels
      val jumped = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.id"))
        .select(col("x.id").as("id"), col("y.label").as("label"))
      // collect() (not count()) so the action drives THIS dataset's
      // QueryExecution — the plan below must be the executed final one
      assert(jumped.collect().length == n - 1) // every vertex jumps once
      val plan = jumped.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-split did not fire on the hot-label join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("10% giant chain + star: O(log d) rounds, correct labels, bounded reducer skew") {
    import spark.implicits._
    val n = 20000
    val gc = 1000 // per giant component; two of them = 10% of n
    // chain 0-1-2-…-999 (diameter 999)
    val chain = (0L until gc - 1L).map(i => (i, i + 1))
    // star centered at 1000 with 999 leaves (degree 999)
    val star = (1L until gc.toLong).map(i => (1000L, 1000L + i))
    // background: (n - 2*gc)/2 two-doc components
    val smalls = (2L * gc until n.toLong by 2).map(i => (i, i + 1))
    val pairs = (chain ++ star ++ smalls).toDF("doc_a", "doc_b")

    val taskRecords = ArrayBuffer[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          taskRecords.synchronized { taskRecords += m.shuffleReadMetrics.recordsRead }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (resolved, rounds) =
      try {
        val r = Dedup.resolveWithStats(pairs)
        val out = (r._1.collect(), r._2)
        // listener delivery is async; give the bus a moment to drain
        Thread.sleep(3000)
        out
      } finally spark.sparkContext.removeSparkListener(listener)

    // correctness: every chain member resolves to 0, every star member
    // to 1000, each small pair to its even endpoint
    val canon = resolved.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until gc.toLong).foreach(i => assert(canon(i) == 0L, s"chain $i"))
    (1000L until 2L * gc).foreach(i => assert(canon(i) == 1000L, s"star $i"))
    assert(canon(2L * gc + 1) == 2L * gc)

    // pointer doubling: the 999-diameter chain must converge in
    // O(log2 d) rounds, not O(d) — log2(999) ≈ 10, +detect slack
    assert(rounds <= 14, s"chain took $rounds rounds — doubling broken?")
    assert(rounds >= 5, s"suspiciously few rounds ($rounds) for diameter 999")

    // reducer skew across every shuffle-consuming task of the run: the
    // giant component's min label concentrates O(|component|) rows in
    // one partition — at 5%+5% giant share and 32 partitions the
    // expected hot/median band is low single digits; >10x would mean
    // the min-label key needs a salted join even below AQE's
    // skew thresholds
    val reads = taskRecords.synchronized { taskRecords.toSeq.sorted }
    assert(reads.nonEmpty, "listener captured no shuffle-reading tasks")
    val median = reads(reads.size / 2).max(1L)
    val skew = reads.last.toDouble / median
    info(s"rounds=$rounds tasks=${reads.size} medianRead=$median " +
      s"maxRead=${reads.last} skew=${f"$skew%.1f"}x")
    assert(skew <= 10.0,
      s"reducer skew ${f"$skew%.1f"}x exceeds the 10x salting threshold " +
        s"(max=${reads.last}, median=$median)")
  }
}
