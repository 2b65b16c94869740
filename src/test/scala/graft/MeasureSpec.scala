package graft

import org.apache.spark.sql.functions._

/** The dev harnesses' shared stage listener: a stage's label comes from
  * its own job, and the drain makes every finished stage readable. */
class MeasureSpec extends SparkSpec {

  test("labelled noop writes, drained: every stage row carries its own label") {
    val listener = Measure.listen(spark)
    try {
      def shuffled(n: Long) =
        spark.range(n).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))
      val secA = Measure.labelled(spark, "a")(Measure.timedNoop(spark)(shuffled(1000)))
      val secB = Measure.labelled(spark, "b")(Measure.timedNoop(spark)(shuffled(2000)))
      assert(secA > 0 && secB > 0)
      Measure.drain(spark)
      val rows = listener.rows
      assert(rows.map(_.label).toSet == Set("a", "b"), s"labels: ${rows.map(_.label)}")
      val (a, b) = (listener.rows("a"), listener.rows("b"))
      assert(a.nonEmpty && b.nonEmpty)
      // the writes ran one after the other, so no stage of the first
      // completes under the second's label
      assert(rows.map(_.label) == Seq.fill(a.size)("a") ++ Seq.fill(b.size)("b"))
      // each write shuffles: its map stage wrote what its result stage read
      Seq(a, b).foreach { rs =>
        assert(rs.map(_.shuffleWrite).sum > 0 && rs.map(_.shuffleRead).sum > 0, rs)
        assert(rs.forall(_.tasks > 0), rs)
      }
      // the label is restored after the block: later jobs are unlabelled
      spark.range(10).count()
      Measure.drain(spark)
      assert(listener.rows.size == rows.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
