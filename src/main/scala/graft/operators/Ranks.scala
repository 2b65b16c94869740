package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Distributed global ranking and prefix sums. A bare
  * `row_number() / sum(v) OVER (ORDER BY …)` moves every row through
  * ONE task (Spark warns "Moving all data to a single partition") —
  * fine for a 39-state dimension, dead at 100 TB.
  *
  * Since r10 (single column) and r11 (multi-column + row number) every
  * entry point here routes through the NATIVE Catalyst operator
  * ([[graft.plans.RunningSum]] → `RunningSumExec`, registered by
  * `GraftExtensions`): the planner owns the range exchange
  * (EnsureRequirements inserts it from the operator's required
  * distribution + ordering), rows stay UnsafeRow end to end and the
  * per-row accumulation compiles into whole-stage codegen (the RDD
  * forms paid a Row conversion each way across `df.rdd`), and the
  * subtotal pass runs at ACTION time instead of eagerly at call time
  * (the old `zipWithIndex` form ran a counting job the moment
  * `globalRowNumber` was CALLED). The two-pass determinism story is
  * unchanged: both passes run over the same planner-owned exchange, so
  * `repartitionByRange`'s nondeterministic re-sampling cannot split
  * them (the q16 lesson, preserved inside the operator).
  */
object Ranks {

  /** Resolve `order`/value expressions against `df`'s analyzed plan and
    * build the native [[graft.plans.RunningSum]] node. */
  private def runningSumPlan(df: DataFrame, order: Seq[Column],
      values: Seq[(Column, String)]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Cast, Expression, SortOrder}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val lp = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    def resolve(e: Expression): Expression = e.transformUp {
      case u: UnresolvedAttribute =>
        val n = u.nameParts.last
        lp.output.filter(a => resolver(a.name, n)) match {
          case collection.Seq(a) => a
          case other => sys.error(
            s"global running sum: '$n' resolved to ${other.size} columns " +
              s"of ${lp.output.map(_.name)}")
        }
    }
    val orderExprs = order.map(c => resolve(ColumnBridge.catalystExpression(c)) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    val (vs, attrs) = values.map { case (c, out) =>
      val v1 = resolve(ColumnBridge.catalystExpression(c))
      val v = if (v1.dataType == LongType) v1 else Cast(v1, LongType)
      (v, AttributeReference(out, LongType, nullable = false)())
    }.unzip
    ColumnBridge.ofRows(df.sparkSession,
      graft.plans.RunningSum(orderExprs, vs, attrs, lp))
  }

  /** Global 1-based dense row numbering by `order` (which must be a
    * total order — include a unique tiebreaker — for deterministic
    * output). Result column `out` is IntegerType like `row_number`;
    * the rank is computed as a native running sum of 1 (LongType) and
    * the final downcast fails loudly past 2^31−1 rows under the
    * session's ANSI casting rather than wrapping. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      out: String): DataFrame = {
    val tmp = s"__grn_${out}_long"
    runningSumPlan(df, order, Seq(lit(1L).as(tmp) -> tmp))
      .withColumn(out, col(tmp).cast(IntegerType))
      .drop(tmp)
  }

  /** Global inclusive running sum of `value` (null counts as 0) in
    * `order` — the scalable form of `sum(v) OVER (ORDER BY …)`.
    * Output column `out` is LongType; sums must stay within Long
    * (`Math.addExact` fails loudly). Simple attribute references in
    * `order`/`value` (incl. `.asc`/`.desc` and `lit`s) resolve against
    * `df`'s analyzed output; the planner chooses the exchange's
    * partitioning (correctness is partition-count-independent by
    * construction). */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
      out: String): DataFrame =
    runningSumPlan(df, order, Seq(value -> out))

  /** N running sums in ONE two-phase pass — a caller needing several
    * prefix columns over the same order (q231's two per-group CDFs)
    * would otherwise pay a full range exchange + sort PER COLUMN; in
    * the native operator every extra column costs one Long of subtotal
    * per partition and one addition per row. Same construction and
    * determinism contract as the single-column form. Non-Long value
    * columns are cast to LongType (the RDD-era contract). */
  def globalRunningSums(df: DataFrame, order: Seq[Column],
      values: Seq[(Column, String)]): DataFrame = {
    require(values.nonEmpty, "need at least one value column")
    runningSumPlan(df, order, values)
  }
}
