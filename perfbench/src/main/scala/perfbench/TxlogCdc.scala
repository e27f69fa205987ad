package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TxLog

/** CDC replication, part of the `streaming` workload: one writer makes
  * a seeded sequence of append / upsert / delete commits on a TxLog
  * table while a `readChangeFeed` stream replicates every change batch
  * into a second table with `TxLog.applyChanges`. After each round the
  * writer also reads a snapshot, so snapshot cost is seen at growing
  * log depth. A cycle is one round and ends when the replica has caught
  * up; cycles run on the same two tables.
  */
object TxlogCdc {
  /** Typical rows per commit, at full and at tiny size. */
  val Chunk = 200
  val TinyChunk = 50

  final case class Commit(op: String, version: Long, returnedMs: Long, ms: Double)
  /** `snapshot` is (log depth, ms) of the snapshot read after the commits. */
  final case class Cycle(commits: Seq[Commit], snapshot: (Long, Double),
      changeRows: Long, batches: Long, wallS: Double, lagMs: Seq[Double],
      feedMs: Seq[Double], applyMs: Seq[Double])

  private def du(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** A source table, its replica and the change-feed stream that brings
    * the replica up to date during each cycle.
    */
  final class Replication(c: Ctx) {
    private val spark = c.spark
    private val tr = c.tracer
    val src = c.dir("cdcsrc")
    val rep = c.dir("cdcrep")
    private def rows(lo: Long, hi: Long, tag: Long): DataFrame =
      spark.range(lo, hi).select(col("id"), (col("id") * 2 + tag).as("v"))
    private var next = 50L
    TxLog.append(spark, src.toString, rows(0, next, 0))

    // replica side: (highest source version applied, epoch ms applied)
    private val applied = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    private val feedMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    private val applyMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    private val fed = new java.util.concurrent.atomic.AtomicLong
    private val checkpoint = c.dir("cdcck")
    // The replication stream runs only during a cycle, on the default
    // trigger, which looks for new commits every few milliseconds: lag is
    // then the change feed's and applyChanges' own, not a trigger
    // interval's, and no idle stream polls the log while the pipelines
    // run. A restart resumes from the checkpoint, so every change is
    // applied once.
    private var q: StreamingQuery = null
    private def start(): Unit = {
      q = spark.readStream.format("txlog").option("path", src.toString)
        .option("readChangeFeed", "true").option("changeKey", "id").load()
        .writeStream.option("checkpointLocation", checkpoint.toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val t0 = System.nanoTime()
          val b = df.persist()
          try {
            val r = tr.span("changefeed", "graft.sources")(
              b.agg(count(lit(1)), max(col("_commit_version"))).head())
            val t1 = System.nanoTime()
            val n = r.getLong(0)
            if (n > 0) {
              tr.span("applyChanges", "graft.sources")(TxLog.applyChanges(spark, rep.toString, b, "id"))
              fed.addAndGet(n)
              feedMs.add((t1 - t0) / 1e6)
              applyMs.add((System.nanoTime() - t1) / 1e6)
              applied.add((r.getLong(1), System.currentTimeMillis()))
            }
          } finally b.unpersist()
          ()
        }.start()
      q.processAllAvailable()
    }
    start()
    stop()

    private def drain[A](xs: java.util.concurrent.ConcurrentLinkedQueue[A]): Seq[A] =
      Iterator.continually(xs.poll()).takeWhile(_ != null).toSeq

    /** One round of append, upsert and delete of about `chunk` rows,
      * then a snapshot read; ends when the replica has caught up.
      */
    def cycle(chunk: Int, rnd: scala.util.Random): Cycle = {
      drain(feedMs); drain(applyMs); drain(applied)
      val fed0 = fed.get()
      val commits = mutable.ArrayBuffer.empty[Commit]
      def commit(op: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val v = tr.span(op, "graft.sources")(body)
        commits += Commit(op, v, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6)
      }
      val table = src.toString
      // started, and caught up, before the cycle's clock starts
      start()
      val t0 = System.nanoTime()
      val n = chunk / 2 + rnd.nextInt(chunk)
      commit("append")(TxLog.append(spark, table, rows(next, next + n, 0)))
      next += n
      val u = chunk / 4 + rnd.nextInt(chunk / 2)
      val uFrom = (rnd.nextDouble() * (next - u)).toLong
      commit("upsert")(TxLog.upsert(spark, table, rows(uFrom, uFrom + u, 1 + rnd.nextInt(9)), "id"))
      val d = chunk / 20 + rnd.nextInt(chunk / 10)
      val dFrom = (rnd.nextDouble() * (next - d)).toLong
      commit("delete")(TxLog.delete(spark, table, spark.range(dFrom, dFrom + d).toDF("id"), "id"))
      val s0 = System.nanoTime()
      val depth = tr.span("snapshot", "graft.sources")(TxLog.snapshot(table).version)
      val snapshot = (depth, (System.nanoTime() - s0) / 1e6)
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      stop()
      val done = drain(applied).sortBy(_._2)
      val lag = commits.flatMap(cm => done.find(_._1 >= cm.version).map(_._2 - cm.returnedMs))
      Cycle(commits.toSeq, snapshot, fed.get() - fed0, done.size, wall,
        lag.map(_.toDouble).toSeq, drain(feedMs), drain(applyMs))
    }

    /** The replica equals the source, as multisets both ways. */
    def exact(): Boolean = {
      val s = TxLog.read(spark, src.toString)
      val r = TxLog.read(spark, rep.toString)
      s.exceptAll(r).isEmpty && r.exceptAll(s).isEmpty
    }

    def bytes: Long = du(src) + du(rep)
    def stop(): Unit = if (q != null) { q.stop(); q = null }
  }

  /** Least-squares slope of y on x. */
  private def slope(xy: Seq[(Double, Double)]): Double = {
    val n = xy.size.toDouble
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0 else xy.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Per-layer numbers of the timed cycles. */
  def layers(cycles: Seq[Cycle], repl: Replication): Map[String, Double] = {
    val commits = cycles.flatMap(_.commits)
    def opMs(op: String) = Stats.median(commits.filter(_.op == op).map(_.ms))
    val snaps = cycles.map(_.snapshot)
    Map(
      "txlog.commit_p50_ms" -> Stats.pct(commits.map(_.ms), 0.5),
      "txlog.commit_p90_ms" -> Stats.pct(commits.map(_.ms), 0.9),
      "txlog.append_ms" -> opMs("append"),
      "txlog.upsert_ms" -> opMs("upsert"),
      "txlog.delete_ms" -> opMs("delete"),
      "txlog.log_depth" -> snaps.last._1.toDouble,
      "txlog.bytes_written" -> repl.bytes.toDouble,
      "txlog.snapshot_ms" -> snaps.last._2,
      "txlog.snapshot_slope_ms" -> slope(snaps.map { case (d, ms) => (d.toDouble, ms) }),
      "txlog.changefeed_ms" -> Stats.median(cycles.flatMap(_.feedMs)),
      "txlog.applyChanges_ms" -> Stats.median(cycles.flatMap(_.applyMs)),
      "cdc.batches" -> cycles.map(_.batches).sum.toDouble / cycles.size,
      "cdc.rows_per_batch" ->
        cycles.map(_.changeRows).sum.toDouble / math.max(1L, cycles.map(_.batches).sum),
      "cdc.change_rows_per_s" -> cycles.map(_.changeRows).sum / cycles.map(_.wallS).sum,
      "cdc.lag_p50_ms" -> Stats.median(cycles.flatMap(_.lagMs)))
  }
}
