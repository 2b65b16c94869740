package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** batch-mix: a closed loop with one caller over the sampled registered
  * queries. Each query gets one untimed warm-up, whose result is written
  * as parquet for the output check, then timed repeats into the `noop`
  * sink; cached blocks are released between queries. The time budget is
  * shared evenly: a query repeats until its share is used, at most
  * `max_repeats` times. Every query runs at least `min_repeats` times
  * however long it takes, so the number of timed runs behind each
  * query's best does not fall when the box runs slow; the queries in
  * `one_run` (chosen from reference costs, not from this run's times)
  * run once. */
final class BatchMix(ctx: Ctx) extends Workload {
  private val sf = ctx.spec("sf_dir")
  private val queries = ctx.spec("queries").split(",").toSeq
  private val minRepeats = ctx.spec.int("min_repeats")
  private val maxRepeats = ctx.spec.int("max_repeats")
  private val oneRun = ctx.spec("one_run").split(",").filter(_.nonEmpty).toSet
  private val fns = SparkEntry.queries

  /** Set-up warm-up: the engine's flagship query (`SparkEntry.entry`),
    * the same for every seed. */
  def setup(spark: SparkSession): Unit = ctx.spans("warmup") {
    SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    GraftSession.releaseCaches(spark)
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    val share = ctx.seconds * 1000.0 / queries.size
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.ArrayBuffer[Map[String, Any]]()
    for (q <- queries) {
      try ctx.spans(s"query:$q") {
        ctx.spans("warmup") {
          val df = ctx.spans("construct")(fns(q)(spark, sf))
          ctx.spans("action") {
            df.write.mode("overwrite").parquet(s"${ctx.work}/results/$q")
          }
        }
        val q0 = Clock.now
        val floor = if (oneRun(q)) 1 else minRepeats
        var r = 0
        while (r < floor || (r < maxRepeats && Clock.now - q0 < share)) {
          ctx.spans("run") {
            val t0 = Clock.now
            val df = ctx.spans("construct")(fns(q)(spark, sf))
            val t1 = Clock.now
            ctx.spans("action") {
              df.write.mode("overwrite").format("noop").save()
            }
            val t2 = Clock.now
            runs += Map("query" -> q, "rep" -> r, "start" -> t0,
              "construct_ms" -> (t1 - t0), "action_ms" -> (t2 - t1),
              "wall_ms" -> (t2 - t0))
          }
          r += 1
        }
      } catch {
        case e: Throwable =>
          errors += Map("query" -> q, "error" -> String.valueOf(e.getMessage).take(500))
      } finally GraftSession.releaseCaches(spark)
    }
    Map("runs" -> runs.toSeq, "errors" -> errors.toSeq)
  }

  /** The oracle SQL of the sampled queries; run.py compares results. */
  def check(spark: SparkSession): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    Map("oracle_sql" -> queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }

  def stop(): Unit = ()
}
