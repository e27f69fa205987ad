package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch microseconds. `parent` 0 means the
  * span was recorded without a known caller; [[Tracer.selfTimes]]
  * then nests it under the innermost harness span that contains it.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    tag: String, startUs: Long, endUs: Long)

/** Spans and counters of one traced run, kept in memory and written
  * at exit. Outside [[on]]/[[off]] no listener is attached and every
  * method is a no-op apart from running the body it wraps, so untraced
  * work measures the program alone.
  *
  * Sources of spans:
  *   - [[span]]: wall time around a call into a layer, from the
  *     workload code (key builder, action, `addData`, TxLog calls);
  *   - a `SparkListener`: jobs (classified by call site into the
  *     `graft.ops.core` side jobs or the engine), stages and tasks;
  *   - a `QueryExecutionListener`: `qe.tracker` phases and rule times;
  *   - a `StreamingQueryListener`: per-trigger `durationMs` and state.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  /** Recording only between [[on]] and [[off]]: a traced run times its
    * untraced units with the listeners detached.
    */
  @volatile private var active = false

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + epochOffsetNs) / 1000L

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[String, Double]
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def add(name: String, v: Double): Unit =
    if (active) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }
  def sample(name: String, v: Double): Unit =
    if (active) synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }
  private def record(s: Span): Unit = synchronized { spans += s }

  /** Wall-time span around `body`. Jobs the body submits carry the
    * span id as a local property, so they nest under it; so do spans
    * opened on threads started inside it (a stream's batch thread
    * inherits the property).
    */
  def span[T](name: String, layer: String, tag: String = "")(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.orElse(
        Option(sc.getLocalProperty(SpanProp)).map(_.toLong)).getOrElse(0L)
      open.set(id :: stack)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = nowUs
      try body
      finally {
        record(Span(id, parent, name, layer, tag, t0, nowUs))
        open.set(stack)
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
      }
    }

  private def external(parent: Long, name: String, layer: String, tag: String,
      startUs: Long, endUs: Long): Unit =
    record(Span(ids.incrementAndGet(), parent, name, layer, tag, startUs,
      math.max(startUs, endUs)))

  // ------------------------------------------------------------ listeners

  private final case class JobStart(startMs: Long, parent: Long, kind: String)
  private val jobs = mutable.Map.empty[Int, JobStart]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val site = e.stageInfos.map(_.details).mkString("\n")
      jobs(e.jobId) = JobStart(e.time, parent, jobKind(site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val js = Tracer.this.synchronized(jobs.remove(e.jobId))
      js.foreach { j =>
        val s = (e.time - j.startMs) / 1e3
        add("spark.jobs", 1)
        if (j.kind != "engine") {
          add(s"core.${j.kind}.jobs", 1); add(s"core.${j.kind}.s", s)
        }
        val layer = if (j.kind == "engine") "spark.jobs" else "graft.ops.core"
        external(j.parent, s"job:${j.kind}", layer, e.jobId.toString,
          j.startMs * 1000L, e.time * 1000L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        add("spark.tasks", 1)
        add("spark.exec.run_s", m.executorRunTime / 1e3)
        add("spark.exec.cpu_s", m.executorCpuTime / 1e9)
        add("spark.exec.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // the Spark UI's scheduler delay: time in the task's lifetime
        // that is neither deserialisation, running, nor result handling
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delayMs = info.finishTime - info.launchTime - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - gettingResult
        add("spark.sched.delay_s", math.max(0L, delayMs) / 1e3)
        Tracer.this.synchronized {
          stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty) += info.duration
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add("core.cache.fill_bytes", (b.memSize + b.diskSize).toDouble)
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
    private def planned(qe: QueryExecution): Unit = {
      add("spark.queries", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        external(0L, s"plan:$phase", "spark.catalyst", "",
          p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      qe.tracker.rules.foreach { case (rule, r) =>
        add("spark.rules.s", r.totalTimeNs / 1e9)
        if (rule.endsWith("DotProductRewrite")) {
          add("plans.DotProductRewrite.s", r.totalTimeNs / 1e9)
          add("plans.DotProductRewrite.invocations", r.numInvocations.toDouble)
          add("plans.DotProductRewrite.effective", r.numEffectiveInvocations.toDouble)
        }
      }
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution").foreach { k =>
        d.get(k).foreach(v => sample(s"stream.${k}_ms", v.doubleValue))
      }
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val dur = d.get("triggerExecution").map(_.longValue).getOrElse(0L)
      external(0L, "trigger", "graft.streaming", s"${p.name}#${p.batchId}",
        startUs, startUs + dur * 1000L)
      p.stateOperators.foreach { so =>
        add("state.commit_ms", so.commitTimeMs.toDouble)
        add("state.updates_ms", so.allUpdatesTimeMs.toDouble)
        add("state.rows_dropped_by_watermark", so.numRowsDroppedByWatermark.toDouble)
        val cm = so.customMetrics.asScala
        cm.get("rocksdbCommitFlushLatency").foreach(v => add("state.rocksdb.flush_ms", v.doubleValue))
        cm.get("rocksdbCommitCompactLatency").foreach(v => add("state.rocksdb.compact_ms", v.doubleValue))
      }
      Tracer.this.synchronized {
        lastState(p.id.toString) = p.stateOperators.map(so =>
          (so.numRowsTotal.toDouble, so.memoryUsedBytes.toDouble)).toSeq
      }
    }
  }
  private val lastState = mutable.Map.empty[String, Seq[(Double, Double)]]

  private var codegenStart = (0L, 0L)
  private var codegenTotal = (0L, 0L)
  private var runFrom = 0
  private val setup = mutable.Map.empty[String, Double]

  // query and stream listeners are per session; jobs are per context
  private val sessions = mutable.ArrayBuffer(spark)
  private def attach(s: SparkSession): Unit = {
    s.listenerManager.register(Plans)
    s.streams.addListener(Streams)
  }

  /** Also record the queries and streams of session `s`. */
  def watch(s: SparkSession): Unit = synchronized {
    sessions += s
    if (active) attach(s)
  }

  /** Start recording (traced runs only). */
  def on(): Unit = if (enabled && !active) synchronized {
    codegenStart = (codegenCompiles, codegenNs)
    spark.sparkContext.addSparkListener(Jobs)
    sessions.foreach(attach)
    active = true
  }

  /** Stop recording once the events already posted have arrived. */
  def off(): Unit = if (active) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(Jobs)
    synchronized(sessions.foreach { s =>
      s.listenerManager.unregister(Plans)
      s.streams.removeListener(Streams)
    })
    active = false
    synchronized {
      codegenTotal = (codegenTotal._1 + codegenCompiles - codegenStart._1,
        codegenTotal._2 + codegenNs - codegenStart._2)
    }
  }

  /** Close the set-up phase: its one-time costs (side jobs, codegen)
    * are kept as `setup.*` metrics, and every other metric and self
    * time covers only what is recorded afterwards.
    */
  def endSetup(): Unit = if (enabled) {
    off()
    synchronized {
      val m = metrics
      SetupMetrics.foreach(k => setup(s"setup.$k") = m.getOrElse(k, 0.0))
      counters.clear(); samples.clear(); stageTasks.clear(); lastState.clear()
      codegenTotal = (0L, 0L)
      runFrom = spans.size
    }
  }

  // ------------------------------------------------------------ results

  /** Self time per layer: a span's duration minus the part of it its
    * children cover. Spans recorded without a parent (plan phases,
    * triggers, jobs from other threads) nest under the innermost
    * harness span that contains their start.
    */
  def selfTimes: Map[String, Double] = synchronized {
    val run = spans.drop(runFrom)
    val harness = run.filter(s => !s.name.contains(":") && s.name != "trigger")
      .sortBy(s => s.endUs - s.startUs)
    def adopt(s: Span): Long =
      if (s.parent != 0L) s.parent
      else harness.find(h => h.id != s.id && h.startUs <= s.startUs && s.startUs <= h.endUs)
        .map(_.id).getOrElse(0L)
    val nested = run.map(s => s.copy(parent = adopt(s)))
    val kids = nested.groupBy(_.parent)
    nested.groupMapReduce(_.layer) { s =>
      val cover = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = s.startUs
      cover.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      (s.endUs - s.startUs - covered) / 1e6
    }(_ + _)
  }

  /** Sum of the durations of spans named `name` whose start lies in a
    * span named `within`.
    */
  def spanSeconds(name: String, within: String): Double = synchronized {
    val run = spans.drop(runFrom)
    val outer = run.filter(_.name == within)
    run.filter(s => s.name.startsWith(name) &&
        outer.exists(o => o.startUs <= s.startUs && s.startUs <= o.endUs))
      .map(s => (s.endUs - s.startUs) / 1e6).sum
  }

  /** Every counter and median of this run, plus engine-wide numbers. */
  def metrics: Map[String, Double] = synchronized {
    val out = mutable.Map.empty[String, Double] ++ setup ++ counters
    samples.foreach { case (k, xs) => out(k) = Stats.pct(xs.toSeq, 0.5) }
    out("spark.codegen.compiles") = codegenTotal._1.toDouble
    out("spark.codegen.compile_s") = codegenTotal._2 / 1e9
    val inv = counters.getOrElse("plans.DotProductRewrite.invocations", 0.0)
    out("plans.DotProductRewrite.effective_frac") =
      if (inv > 0) counters.getOrElse("plans.DotProductRewrite.effective", 0.0) / inv else 0.0
    // worst stage by max/median task time, over stages whose median
    // task is long enough for the ratio to mean something
    val skews = stageTasks.values.filter(_.size >= 2).flatMap { ts =>
      val med = Stats.pct(ts.map(_.toDouble).toSeq, 0.5)
      if (med >= 10) Some(ts.max / med) else None
    }
    out("spark.task.skew") = if (skews.isEmpty) 1.0 else skews.max
    out("state.rows_total") = lastState.values.flatten.map(_._1).sum
    out("state.memory_bytes") = lastState.values.flatten.map(_._2).sum
    out("trace.spans") = (spans.size - runFrom).toDouble
    out.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startUs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "tag" -> s.tag, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** One-time costs reported from the set-up phase. */
  val SetupMetrics = Seq("core.t.jobs", "core.t.s", "core.statCount.jobs",
    "core.statCount.s", "core.persistedIndex.jobs", "core.persistedIndex.s",
    "spark.codegen.compiles", "spark.codegen.compile_s", "spark.jobs")

  /** Which `graft.ops.core` helper submitted a job, from its call stack. */
  def jobKind(site: String): String =
    if (site.contains("graft.ops.core$.statCount")) "statCount"
    else if (site.contains("graft.ops.core$.persistedIndex")) "persistedIndex"
    else if (site.contains("graft.ops.core$.t(") || site.contains("graft.ops.core$.events("))
      "t"
    else "engine"

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
