package graft

import org.apache.spark.sql.SparkSession

/** Measurement aid (optimization rounds): runs the named queries once
  * (noop sink, after one warmup) and prints a per-stage cost table —
  * executor run and CPU time, task count, shuffle read/write bytes,
  * input, spill, output — so the expensive stage of a slow query is
  * identifiable without the Spark UI (disabled in this harness).
  *
  * Usage: runMain graft.Profile <sfDir> q01_x[,q02_y,...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.configure(SparkSession.builder(),
      GraftSession.defaultCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = Measure.listen(spark)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      Measure.timedNoop(spark)(fn(spark, sfDir)) // warmup
      val wall = Measure.labelled(spark, name) {
        Measure.timedNoop(spark)(fn(spark, sfDir))
      }
      Measure.drain(spark)
      val snap = listener.rows(name)
      println(f"== $name wall=$wall%.2fs stages=${snap.size} " +
        f"sumRun=${snap.map(_.runMs).sum / 1000.0}%.2fs " +
        f"sumCpu=${snap.map(_.cpuMs).sum / 1000.0}%.2fs")
      snap.sortBy(-_.runMs).take(14).foreach { s =>
        println(f"   run=${s.runMs / 1000.0}%6.2fs cpu=${s.cpuMs / 1000.0}%6.2fs " +
          f"tasks=${s.tasks}%4d shR=${s.shuffleRead / 1024}%8dK " +
          f"shW=${s.shuffleWrite / 1024}%8dK in=${s.input / 1024 / 1024}%5dM " +
          f"spill=${(s.spillMem + s.spillDisk) / 1024 / 1024}%4dM " +
          f"out=${s.output / 1024 / 1024}%5dM  ${s.name}")
      }
    }
    spark.stop()
  }
}
