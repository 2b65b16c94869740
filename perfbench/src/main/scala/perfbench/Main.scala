package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The run's inputs, as written by `run.py`: a properties file with the
  * workload, the measured seconds, the trace flag and the paths of the
  * generated input files. The harness generates nothing itself. */
final class Spec(p: java.util.Properties) {
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"spec lacks '$k'"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def lines(k: String): Seq[String] =
    Files.readAllLines(Paths.get(apply(k)), StandardCharsets.UTF_8).asScala
      .toSeq.filter(_.nonEmpty)
}

object Spec {
  def load(path: String): Spec = {
    val p = new java.util.Properties()
    val in = new java.io.InputStreamReader(new FileInputStream(path),
      StandardCharsets.UTF_8)
    try p.load(in) finally in.close()
    new Spec(p)
  }
}

/** Everything a workload shares with the harness for one run. */
final class Ctx(val spec: Spec) {
  val spans = new Spans
  val traced: Boolean = spec("trace") == "1"
  /** The job trace of the current SparkContext (job and stage ids restart
    * with every context, so each set-up cycle gets its own). */
  var jobs: Option[JobTrace] = None
  val streams = new StreamWatch
  val work: String = spec("work")
  val seconds: Double = spec.double("seconds")
}

/** One workload: `setup` starts what the workload needs and warms it up,
  * `measure` runs the timed region and returns its raw samples, `check`
  * verifies outputs outside the timed region, `stop` releases streams
  * and servers. The harness builds a fresh instance per set-up cycle. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession): Map[String, Any]
  def check(spark: SparkSession): Map[String, Any]
  def stop(): Unit
}

object Main {

  private def newSession(ctx: Ctx): SparkSession = {
    val spark = GraftSession.local(ctx.spec("cpus"))
    ctx.spans.attach(spark.sparkContext)
    ctx.jobs = if (ctx.traced) Some(new JobTrace) else None
    ctx.jobs.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    spark.streams.addListener(ctx.streams)
    spark
  }

  private def workload(ctx: Ctx, cycle: Int): Workload =
    ctx.spec("workload") match {
      case "batch-mix" => new BatchMix(ctx)
      case "live-loop" => new LiveLoop(ctx, cycle)
      case "district-backfill" => new DistrictBackfill(ctx, cycle)
      case w => sys.error(s"unknown workload $w")
    }

  private def vmHwmKb: Long =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }.getOrElse(0L)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Doubles that are not numbers (an open span's end, a rate over an
    * empty batch) are written as null, which run.py reads as missing. */
  private object FiniteDouble
      extends StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
    def serialize(d: java.lang.Double, g: JsonGenerator,
        p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(FiniteDouble))

  private def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(json.writeValueAsString(v)) finally w.close()
  }

  /** Registry listing for the sampler: family, name, oracled. */
  private def list(out: String): Unit = {
    import graft.queries._
    val families = Seq(
      "Relational" -> RelationalQueries.all, "Analytic" -> AnalyticQueries.all,
      "Llm" -> LlmQueries.all, "Chart" -> ChartQueries.all,
      "Pipeline" -> PipelineQueries.all, "Extension" -> ExtensionQueries.all,
      "Versioning" -> VersioningQueries.all, "Tokenizer" -> TokenizerQueries.all,
      "Curation" -> CurationQueries.all, "Audit" -> AuditQueries.all,
      "Warehouse" -> WarehouseQueries.all, "Sequence" -> SequenceQueries.all,
      "Stat" -> StatQueries.all, "Graph" -> GraphQueries.all,
      "Attribution" -> AttributionQueries.all,
      "Retrieval" -> RetrievalQueries.all,
      "Distribution" -> DistributionQueries.all,
      "Resolution" -> ResolutionQueries.all)
    write(out, families.flatMap { case (f, qs) =>
      qs.map(q => Map("family" -> f, "name" -> q.name,
        "oracle" -> q.oracle.orNull))
    })
  }

  /** Set up `cycles` times and keep the last set-up for the timed
    * region; the first cycle is timed from JVM start. */
  private def run(ctx: Ctx): Unit = {
    val cycles = ctx.spec.int("setup_cycles")
    val jvmStart = Clock.fromWall(ManagementFactory.getRuntimeMXBean.getStartTime)
    var setups = Vector.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (c <- 1 to cycles) {
      if (w != null) {
        w.stop()
        spark.stop()
      }
      val t0 = if (c == 1) jvmStart else Clock.now
      ctx.spans(s"setup.$c") {
        spark = newSession(ctx)
        w = workload(ctx, c)
        w.setup(spark)
      }
      setups :+= (Clock.now - t0) / 1000.0
    }
    val gc0 = gcMs
    val t0 = Clock.now
    val ops = ctx.spans("measure")(w.measure(spark))
    val measured = (Clock.now - t0) / 1000.0
    val gc = gcMs - gc0
    val checks = ctx.spans("check")(w.check(spark))
    w.stop()
    // listener buses are asynchronous: let them drain before dumping
    ctx.jobs.foreach(_.settle())
    val rss = vmHwmKb
    val out = Map(
      "setup_s" -> setups, "measured_s" -> measured, "rss_peak_kb" -> rss,
      "gc_ms" -> gc, "ops" -> ops, "check" -> checks,
      "progress" -> ctx.streams.dump, "spans" -> ctx.spans.dump,
      "trace" -> ctx.jobs.map(_.dump).orNull)
    spark.stop()
    write(ctx.spec("out"), out)
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("list", out) => list(out)
    case Seq("run", spec) => run(new Ctx(Spec.load(spec)))
    case _ =>
      System.err.println("usage: perfbench.Main list <out.json> | run <spec>")
      sys.exit(2)
  }
}
