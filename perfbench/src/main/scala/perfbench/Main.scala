package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `e2e` holds the
  * end-to-end metrics, measured with tracing off; `layers` holds the
  * workload's own per-layer numbers (the tracer adds the rest).
  */
final case class Outcome(attempted: Long, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double])

/** Settings of one run, parsed from the command line by [[Main]]. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, tiny: Boolean, fixtures: String,
    expected: Map[String, Long], inject: String, tmp: Path) {

  /** Epoch ms at which the first timed operation started. */
  @volatile var firstTimedMs: Long = 0L
  def startTiming(): Unit = if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()

  /** Fresh directory under this run's scratch root. */
  def dir(tag: String): Path = Files.createTempDirectory(tmp, tag)
}

/** Entry point of the benchmark JVM; `perfbench/run.py` starts it.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --fixtures <dir> --expected <tsv> --tmp <dir> --out <dir>
  *   [--cpus <n>] [--scale full|tiny] [--inject none|drop_batch|abort]
  * }}}
  *
  * Prints one line `PERFBENCH <json>` with attempted/failed counts,
  * failure reasons, the end-to-end metrics and the per-layer metrics
  * (the latter only with --trace 1). With --trace 1 it also writes
  * `<out>/spans.jsonl`.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "batch_ops" -> BatchOps.run,
    "streaming" -> EventStream.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = workloads.getOrElse(workload, {
      System.err.println(s"unknown workload $workload; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cpus", "4").toInt
    val tmp = Paths.get(opts("tmp")).toAbsolutePath
    Files.createDirectories(tmp)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val expected = readExpected(opts("expected"))
    val ctx = Ctx(spark, new Tracer(spark, trace), opts("seed").toLong,
      opts("seconds").toDouble, opts.getOrElse("scale", "full") == "tiny",
      opts("fixtures"), expected, opts.getOrElse("inject", "none"), tmp)
    val out = try run(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, Seq(s"workload aborted: ${e.getClass.getName}: ${e.getMessage}"),
          Map.empty, Map.empty)
    }
    ctx.tracer.off()
    val layers = mutable.Map.empty[String, Double] ++ out.layers
    if (trace) {
      layers ++= ctx.tracer.metrics
      ctx.tracer.selfTimes.foreach { case (layer, s) => layers(s"self.$layer.s") = s }
      ctx.tracer.writeSpans(Paths.get(opts("out")).resolve("spans.jsonl"))
    }
    val result = Json.obj(Seq(
      "workload" -> workload,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size.toLong,
      "failures" -> out.failures,
      "first_timed_ms" -> ctx.firstTimedMs,
      "e2e" -> out.e2e,
      "layers" -> layers.toMap))
    println("PERFBENCH " + result)
    System.out.flush()
    spark.stop()
  }

  /** `key<TAB>rows[<TAB>source]` lines; `#` starts a comment. */
  def readExpected(path: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1).toLong }.toMap
  }
}
