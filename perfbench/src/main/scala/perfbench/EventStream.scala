package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}

import graft.ops.Streaming
import graft.sources.SyntheticEvents
import graft.streaming.{MisraGriesProcessor, RunningCountProcessor}

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The `streaming` workload: seeded, time-ordered SyntheticEvents fed
  * through `MemoryStream` into four stateful pipelines, and the CDC
  * replication of [[TxlogCdc]].
  *
  * Closed loop (capacity): the four pipeline queries stay up for the
  * whole run. A unit gives each pipeline in turn the next block of
  * events in fixed chunks, one micro-batch per chunk, the next chunk
  * only after the previous batch completed; then one replication
  * cycle runs. Units repeat, at least [[MinUnits]] times, until 60 % of
  * the run's seconds are spent. At the end every pipeline is checked
  * against its batch twin over all the events it was fed, with the
  * exact checks `graft.StreamBench` uses (`matches_batch`).
  *
  * Open loop (latency): one generator thread adds a bundle to one
  * pipeline every [[PeriodMs]], whether or not it kept up; the three
  * pipelines that emit in the batch that reads a bundle take their turn
  * one after the other, so a batch's latency is its pipeline's own and
  * not the interleaving of three queries on the same task slots. A
  * bundle's latency runs from its due time to the completion of the first
  * micro-batch whose end offset covers it.
  */
object EventStream {
  /** Open-loop offered load: one bundle every PeriodMs, of BundleEvents events. */
  val PeriodMs = 50
  val BundleEvents = 25
  /** Each pipeline's open loop runs for its share of the rest of the run's
    * seconds, at least this long.
    */
  val MinOpenLoopS = 2.5
  /** Closed-loop units per run, at least, so `work_s` is a median of three. */
  val MinUnits = 3
  /** Event blocks set aside for one open loop. */
  val OpenLoopBlocks = 4

  /** Events per pipeline per unit, and per micro-batch. */
  final case class Sizes(block: Int, chunk: Int)
  val full = Sizes(block = 1000, chunk = 1000)
  val tiny = Sizes(block = 500, chunk = 250)

  /** Seeded events, sorted into event-time order. */
  def events(seed: Long, n: Int): IndexedSeq[Ev] = {
    val base = seed * 1000000000L
    (0 until n).map { i =>
      val (id, tsMicros, user, tpe, value, _) = SyntheticEvents.row(base + i)
      Ev(id, new Timestamp(tsMicros / 1000L), user, tpe, value)
    }.sortBy(e => (e.ts.getTime, e.event_id))
  }

  /** The skewed item an event carries: item `hot_k` is about 2^-(k+1) of
    * the stream. Event ids are offset by the seed, so items are seeded.
    */
  def item(e: Ev): String = {
    val h = scala.util.hashing.MurmurHash3.stringHash(e.event_id.toString) & 0x7fffffff
    val lvl = java.lang.Integer.numberOfTrailingZeros(h | (1 << 20))
    if (lvl < 20) s"hot_$lvl" else s"cold_${h >>> 8}"
  }

  private val sinks = new java.util.concurrent.atomic.AtomicInteger(0)
  private def sink(tag: String) = s"perfbench_${tag}_${sinks.incrementAndGet()}"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def parts(spark: SparkSession) = math.min(8, spark.sparkContext.defaultParallelism)

  /** A session of its own for one pipeline, sharing the SparkContext:
    * pipelines that need different streaming confs can then run at
    * the same time.
    */
  private def session(c: Ctx, confs: (String, String)*): SparkSession = {
    val s = c.spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    c.tracer.watch(s)
    s
  }

  /** Wall time of one pipeline's share of a unit, and of its batches. */
  final case class Feed(events: Int, batchMs: Seq[Double], addMs: Seq[Double], wallS: Double)

  /** A pipeline query that stays up until [[finish]], with everything it
    * was fed, for the final check against its batch twin.
    */
  abstract class Pipe(val name: String) {
    def query: StreamingQuery
    protected def add(events: IndexedSeq[Ev]): Unit
    protected def check(fed: IndexedSeq[Ev]): Boolean
    private val fed = mutable.ArrayBuffer.empty[Ev]
    /** The source offset of the last `add`: MemoryStream counts adds from 0. */
    var offset = -1L
    private def push(events: IndexedSeq[Ev]): Unit = { add(events); offset += 1 }

    /** Add events without waiting for them to be processed. */
    def offer(events: IndexedSeq[Ev]): Unit = { push(events); fed ++= events }

    /** Feed `block` one micro-batch per chunk; chunk `drop` is never
      * added (the dropped-batch fault the tests inject), though the
      * batch twin still sees it.
      */
    def feed(c: Ctx, block: IndexedSeq[Ev], chunk: Int, drop: Int = -1): Feed = {
      val batch = mutable.ArrayBuffer.empty[Double]
      val adds = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      block.grouped(chunk).zipWithIndex.foreach { case (ch, i) =>
        val b0 = System.nanoTime()
        if (i != drop) c.tracer.span("addData", "spark.source", name)(push(ch))
        val b1 = System.nanoTime()
        query.processAllAvailable()
        batch += (System.nanoTime() - b0) / 1e6
        adds += (b1 - b0) / 1e6
      }
      fed ++= block
      Feed(block.length, batch.toSeq, adds.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    /** Stop the query; true if its results equal the batch twin's. */
    def finish(): Boolean = {
      query.processAllAvailable()
      val ok = check(fed.toIndexedSeq)
      query.stop()
      ok
    }
  }

  /** 1-h tumbling counts with a 30-min watermark, append mode. */
  final class WindowedAgg(c: Ctx) extends Pipe("windowed_agg") {
    private val spark = session(c, NoData -> "false")
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val mem = MemoryStream[Ev](parts(spark))
    private val out = sink("win")
    val query = Streaming.tumblingStream(mem.toDF()).writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(out).start()
    protected def add(events: IndexedSeq[Ev]): Unit = mem.addData(events)
    protected def check(fed: IndexedSeq[Ev]): Boolean = {
      drain(query, mem, fed.last)
      val streamed = spark.table(out).orderBy($"window_start", $"event_type")
        .collect().map(_.toString).toSeq
      val batch = Streaming.tumbling(fed.toDF()).orderBy($"window_start", $"event_type")
        .collect().map(_.toString).toSeq
      streamed == batch
    }
  }

  /** Purchase-to-click attribution, the registered q_stream_join_interval
    * shape: one watermarked stream self-joined as its two slices.
    */
  final class IntervalJoin(c: Ctx) extends Pipe("interval_join") {
    private val spark = session(c, NoData -> "false")
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val mem = MemoryStream[Ev](parts(spark))
    private val out = sink("join")
    val query = joinOf(mem.toDF().withWatermark("ts", "30 minutes")).writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(out).start()
    protected def add(events: IndexedSeq[Ev]): Unit = mem.addData(events)
    protected def check(fed: IndexedSeq[Ev]): Boolean = {
      drain(query, mem, fed.last)
      // sorted multisets, so a duplicate emission fails the check
      def pairs(df: DataFrame) = df.select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      pairs(spark.table(out)) == pairs(joinOf(fed.toDF()))
    }
  }

  /** Per-user running (count, sum-cents) via transformWithState on RocksDB. */
  final class StatefulCount(c: Ctx) extends Pipe("stateful_count") {
    private val spark = session(c, ProviderKey -> Rocks)
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val mem = MemoryStream[(Long, Long)](parts(spark))
    private val out = sink("tws")
    val query = mem.toDS().groupByKey(_._1)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n", "sum_c")
      .writeStream.outputMode(OutputMode.Update()).format("memory").queryName(out).start()
    private def tuples(events: Seq[Ev]) = events.map(e => (e.user_id, math.round(e.value * 100)))
    protected def add(events: IndexedSeq[Ev]): Unit = mem.addData(tuples(events))
    // running totals are monotone, so a user's final state is its largest-n row
    protected def check(fed: IndexedSeq[Ev]): Boolean = {
      val streamed = spark.table(out).groupBy($"user_id")
        .agg(max(struct($"n", $"sum_c")).as("fin"))
        .select($"user_id", $"fin.n", $"fin.sum_c").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val batch = tuples(fed).groupBy(_._1)
        .map { case (u, vs) => u -> (vs.length.toLong, vs.map(_._2).sum) }
      streamed == batch
    }
  }

  /** Sharded Misra–Gries over the events' skewed items, checked with
    * the two-pass contract of the batch key: the union of the final
    * shard summaries, recounted exactly, equals the exact heavy items
    * (count > n/64).
    */
  final class HeavyHitters(c: Ctx) extends Pipe("heavy_hitters") {
    private val spark = session(c, ProviderKey -> Rocks)
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val mem = MemoryStream[(Int, String)](parts(spark))
    private val out = sink("mg")
    private val shards = parts(spark) * 2
    val query = mem.toDS().groupByKey(_._1)
      .transformWithState(new MisraGriesProcessor(128), TimeMode.None(), OutputMode.Update())
      .toDF("shard", "seq", "items", "counts", "err")
      .writeStream.outputMode(OutputMode.Update()).format("memory").queryName(out).start()
    protected def add(events: IndexedSeq[Ev]): Unit =
      mem.addData(events.map(item).map(i => (math.floorMod(i.hashCode, shards), i)))
    protected def check(fed: IndexedSeq[Ev]): Boolean = {
      val items = fed.map(item)
      val candidates = spark.table(out).groupBy($"shard")
        .agg(max_by($"items", $"seq").as("items"))
        .select(explode($"items").as("item")).as[String].collect().toSet
      def heavy(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
        .filter(_._2.toLong * 64 > items.size).toSeq.sorted
      val exact = heavy(items)
      exact.nonEmpty && heavy(items.filter(candidates)) == exact
    }
  }

  /** Two sentinel events 12 h past the last one: the first moves the
    * watermark past every real window, the second's batch emits them
    * (no-data micro-batches are off). The batch twins never see them.
    */
  private def drain(q: StreamingQuery, mem: MemoryStream[Ev], last: Ev): Unit =
    for (k <- 0 to 1) {
      mem.addData(Seq(Ev(-1L - k, new Timestamp(last.ts.getTime + (12L + k) * 3600 * 1000),
        -1L, "sentinel", 0.0)))
      q.processAllAvailable()
    }

  private def shape(df: DataFrame, tpe: String, pfx: String): DataFrame = df
    .filter(col("event_type") === tpe)
    .select(col("event_id").as(s"${pfx}_id"), col("user_id").as(s"${pfx}_user"),
      col("ts").as(s"${pfx}_ts"))

  private def joinOf(df: DataFrame): DataFrame =
    Streaming.attributionJoin(shape(df, "purchase", "p"), shape(df, "click", "c"))

  /** Open-loop result: per-bundle latencies and generator health. */
  final case class OpenRun(latMs: Seq[Double], lateMs: Seq[Double],
      backlogMax: Double, bundles: Int, failures: Seq[String]) {
    def ++(o: OpenRun): OpenRun = OpenRun(latMs ++ o.latMs, lateMs ++ o.lateMs,
      math.max(backlogMax, o.backlogMax), bundles + o.bundles, failures ++ o.failures)
  }

  /** Offer `evs` in bundles to the running pipeline `p` on the open-loop
    * schedule, for `seconds`; the pipeline's final check covers these events.
    */
  def openLoop(c: Ctx, p: Pipe, evs: IndexedSeq[Ev], seconds: Double): OpenRun = {
    val bundles = math.max(2, math.min((seconds * 1000 / PeriodMs).toInt, evs.length / BundleEvents))
    val from = p.offset + 1
    val due = new Array[Long](bundles)
    val sent = new Array[Long](bundles)
    val t0 = System.currentTimeMillis() + 100
    for (k <- 0 until bundles) {
      due(k) = t0 + k.toLong * PeriodMs
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      sent(k) = System.currentTimeMillis()
      val bundle = evs.slice(k * BundleEvents, (k + 1) * BundleEvents)
      c.tracer.span("addData", "spark.source", s"${p.name}#$k")(p.offer(bundle))
    }
    p.query.processAllAvailable()
    val checked = System.currentTimeMillis()
    val failures = mutable.ArrayBuffer.empty[String]
    val lat = mutable.ArrayBuffer.empty[Double]
    // (bundles covered, completion ms) of every micro-batch that read
    // open-loop data, by completion
    val done = p.query.recentProgress.toSeq.flatMap { pr =>
      val ms = java.time.Instant.parse(pr.timestamp).toEpochMilli +
        pr.durationMs.get("triggerExecution").longValue
      Option(pr.sources.head.endOffset).map(e => (e.trim.toLong - from + 1, ms))
    }.filter(_._1 > 0).sortBy(_._2)
    for (k <- 0 until bundles) done.find(_._1 > k) match {
      case Some((_, ms)) => lat += (ms - due(k)).toDouble
      case None =>
        // charged its wait so far, so a lost bundle never lowers the latency figures
        lat += (checked - due(k)).toDouble
        failures += s"open loop ${p.name}: bundle $k never processed"
    }
    val backlog = done.map { case (covered, ms) =>
      (sent.count(_ <= ms) - covered).toDouble * BundleEvents
    }.foldLeft(0.0)(math.max)
    OpenRun(lat.toSeq, (0 until bundles).map(k => (sent(k) - due(k)).toDouble),
      backlog, bundles, failures.toSeq)
  }

  /** One closed-loop unit: every pipeline's feed, then the cycle. */
  final case class Loop(feeds: Seq[Feed], cycle: TxlogCdc.Cycle) {
    def wallS: Double = feeds.map(_.wallS).sum + cycle.wallS
  }

  def run(c: Ctx): Outcome = {
    val sz = if (c.tiny) tiny else full
    val cdcChunk = if (c.tiny) TxlogCdc.TinyChunk else TxlogCdc.Chunk
    val tr = c.tracer
    val rnd = new scala.util.Random(c.seed)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val blocks = events(c.seed, sz.block * 24).grouped(sz.block).toIndexedSeq

    // Set-up starts the four pipelines and feeds each one block, and at
    // the same time creates the TxLog tables and replicates the first
    // commit: their one-time costs (codegen, state-store and stream
    // start-up) overlap. The merge path of upsert and delete stays cold
    // until the first unit; the median over MinUnits units leaves that
    // unit's extra cost out.
    tr.on()
    val pipes = Seq(new WindowedAgg(c), new IntervalJoin(c), new StatefulCount(c),
      new HeavyHitters(c))
    var repl: TxlogCdc.Replication = null
    try {
      Parallel.run(pipes.size + 1)(
        (() => { repl = new TxlogCdc.Replication(c); () }) +:
          pipes.map(p => () => { p.feed(c, blocks(0), sz.chunk); () }))
      tr.endSetup()
      System.err.println("[perfbench] set-up done")

      def unit(k: Int): Loop = {
        if (c.inject == "abort" && k == 1) throw new IllegalStateException("injected abort")
        val feeds = pipes.map { p =>
          attempted += 1
          val drop = if (c.inject == "drop_batch" && k == 1 && p.name == "windowed_agg") 0 else -1
          tr.span("pipeline", "graft.streaming", p.name)(p.feed(c, blocks(k), sz.chunk, drop))
        }
        val u = tr.span("cycle", "graft.sources")(repl.cycle(cdcChunk, rnd))
        attempted += u.commits.size
        if (u.lagMs.size < u.commits.size)
          failures += s"cdc: ${u.commits.size - u.lagMs.size} commits never replicated"
        System.err.println(f"[perfbench] unit $k: pipelines ${feeds.map(_.wallS).sum}%.3f s, cycle ${u.wallS}%.3f s")
        Loop(feeds, u)
      }
      // the open loop continues the event stream of each pipeline that
      // emits in the batch that reads a bundle, one pipeline at a time,
      // each with its own share of the open-loop blocks
      val openPipes = pipes.filter(_.name != "windowed_agg")
      def openLoopOnce(secondsEach: Double, fromBlock: Int): OpenRun = {
        val evs = blocks.slice(fromBlock, fromBlock + OpenLoopBlocks).flatten
        val share = evs.length / openPipes.size
        val o = openPipes.zipWithIndex.map { case (p, i) =>
          attempted += 1
          val one = tr.span("open_loop", "graft.streaming", p.name)(
            openLoop(c, p, evs.slice(i * share, (i + 1) * share), secondsEach))
          System.err.println(f"[perfbench] open loop ${p.name}: ${one.bundles} bundles, p50 ${Stats.median(one.latMs)}%.0f ms, p90 ${Stats.pct(one.latMs, 0.9)}%.0f ms")
          one
        }.reduce(_ ++ _)
        failures ++= o.failures
        o
      }

      c.startTiming()
      val t0 = System.nanoTime()
      val units = mutable.ArrayBuffer.empty[Loop]
      do units += unit(units.size + 1)
      while ((units.size < MinUnits || (System.nanoTime() - t0) / 1e9 < 0.6 * c.seconds) &&
        units.size + OpenLoopBlocks * 2 + 2 < blocks.size)
      val openEach = math.max(MinOpenLoopS,
        (c.seconds - (System.nanoTime() - t0) / 1e9) / openPipes.size)
      val open = openLoopOnce(openEach, units.size + 1)
      val wall = units.map(_.wallS).toSeq
      System.err.println(f"[perfbench] open loop: ${open.bundles} bundles, p50 ${Stats.median(open.latMs)}%.0f ms")

      val layers = mutable.Map.empty[String, Double]
      if (tr.enabled) {
        tr.on()
        val traced = unit(units.size + 1 + OpenLoopBlocks)
        openLoopOnce(openEach, units.size + 2 + OpenLoopBlocks)
        tr.off()
        layers("trace.overhead_s") = traced.wallS - Stats.median(wall)
      }
      pipes.foreach { p =>
        attempted += 1
        if (!p.finish()) failures += s"${p.name}: streamed result differs from batch (matches_batch=false)"
      }
      attempted += 1
      if (!repl.exact()) failures += "cdc: replica differs from source"

      val feeds = units.flatMap(_.feeds).toSeq
      layers("stream.events_per_s") = feeds.map(_.events).sum / feeds.map(_.wallS).sum
      layers("stream.batch_p50_ms") = Stats.median(feeds.flatMap(_.batchMs))
      layers("stream.source.addData_ms") = Stats.median(feeds.flatMap(_.addMs))
      pipes.zipWithIndex.foreach { case (p, i) =>
        val fs = units.map(_.feeds(i)).toSeq
        layers(s"stream.${p.name}.events_per_s") = fs.map(_.events).sum / fs.map(_.wallS).sum
      }
      layers("stream.latency_p50_ms") = Stats.pct(open.latMs, 0.5)
      layers("stream.latency_p99_ms") = Stats.pct(open.latMs, 0.99)
      layers("stream.latency_samples") = open.latMs.size.toDouble
      layers("stream.offered_events_per_s") = BundleEvents * 1000.0 / PeriodMs
      layers("stream.backlog_max_events") = open.backlogMax
      layers("stream.generator_late_ms") = if (open.lateMs.isEmpty) 0.0 else open.lateMs.max
      layers ++= TxlogCdc.layers(units.map(_.cycle).toSeq, repl)
      Outcome(attempted, failures.toSeq,
        Map(
          "work_s" -> Stats.median(wall),
          "op_p50_ms" -> Stats.pct(open.latMs, 0.5),
          "op_p90_ms" -> Stats.pct(open.latMs, 0.9)),
        layers.toMap)
    } finally {
      pipes.foreach(_.query.stop())
      if (repl != null) repl.stop()
    }
  }
}
