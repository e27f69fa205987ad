package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `batch_ops` workload: operator keys from the twelve families
  * `SparkEntry.queries` is built from, run against the read-only
  * fixture tables, each key built by its registered builder and
  * executed with `count()`.
  *
  * A run takes the [[keys]] sample, executes each once untimed as set-up
  * (codegen, persisted indexes and the `statCount` memo are one-time
  * per-JVM costs), then times whole passes over the keys, at least
  * [[MinPasses]], until the run's seconds are spent. A traced run adds
  * one traced pass.
  */
object BatchOps {
  type Builder = (SparkSession, String) => DataFrame

  val families: Map[String, Map[String, Builder]] = Map(
    "Relational" -> graft.ops.Relational.queries,
    "Aggregates" -> graft.ops.Aggregates.queries,
    "Scalars" -> graft.ops.Scalars.queries,
    "Windows" -> graft.ops.Windows.queries,
    "Streaming" -> graft.ops.Streaming.queries,
    "Pipeline" -> graft.ops.Pipeline.queries,
    "Storage" -> graft.ops.Storage.queries,
    "LlmOps" -> graft.ops.LlmOps.queries,
    "TrainingOps" -> graft.ops.TrainingOps.queries,
    "Corpus" -> graft.ops.Corpus.queries,
    "Graph" -> graft.ops.Graph.queries,
    "Clustering" -> graft.ops.Clustering.queries)

  /** The sample, by family: ceil(n / 10) keys of a family of n keys,
    * spread over the family's measured time range, plus the keys a layer
    * is reached through only. `perfbench/choose_keys.py` derives it from
    * `perfbench/key_seconds_4core.json` and prints how its time divides
    * against the full 170 keys'.
    */
  val sampled: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("q_scan_pushdown", "q_set_by_name", "q_set_except", "q_join_multiway"),
    "Aggregates" -> Seq("q_agg_bitmap_distinct", "q_agg_histogram", "q_agg_moments"),
    "Scalars" -> Seq("q_str_encode", "q_array_hof", "q_str_like"),
    "Windows" -> Seq("q_win_rank", "q_win_ntile"),
    "Streaming" -> Seq("q_stream_dedup"),
    "Pipeline" -> Seq("q_pipeline_e2e"),
    "Storage" -> Seq("q_join_bucketed"),
    "LlmOps" -> Seq("q_dedup_exact", "q_sim_cosine_topk"),
    "TrainingOps" -> Seq("q_sample_hash", "q_dedup_components"),
    "Corpus" -> Seq("q_dedup_incremental", "q_drift_kl"),
    "Graph" -> Seq("q_graph_khop"),
    "Clustering" -> Seq("q_embed_pq"))

  final case class Key(name: String, family: String, build: Builder)

  val SetupThreads = 4
  /** Timed passes per run, at least. */
  val MinPasses = 3

  val keys: Seq[Key] = sampled.flatMap { case (f, ks) => ks.map(k => Key(k, f, families(f)(k))) }

  /** Wall seconds of one key: total, builder call, action. */
  final case class Timing(total: Double, build: Double, action: Double)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val tr = c.tracer
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def fail(msg: String): Unit = synchronized(failures += msg)

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // One key: build + count(). A timed key runs inside the tracked-cache
    // scope, followed by the same release sweep graft.Bench does, both
    // outside its timed window.
    def once(k: Key): Timing = {
      val t = graft.ops.core.withCaches(spark)(execute(k))
      release()
      System.err.println(f"[perfbench] ${k.name} ${t.total}%.3f s")
      t
    }
    def execute(k: Key): Timing = {
      synchronized(attempted += 1)
      val tag = s"${k.family}/${k.name}"
      val t0 = System.nanoTime()
      try tr.span("key", "graft.ops", tag) {
        val df = tr.span("build", "graft.ops", tag)(k.build(spark, c.fixtures))
        val t1 = System.nanoTime()
        val rows = tr.span("action", "spark.driver", tag)(df.count())
        val t2 = System.nanoTime()
        c.expected.get(k.name) match {
          case Some(want) if want == rows => ()
          case Some(want) => fail(s"${k.name}: $rows rows, expected $want")
          case None => fail(s"${k.name}: no expected row count")
        }
        Timing((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch {
        // a failed key is charged the whole timed window, so a key
        // that starts throwing can never make a pass look faster
        case e: Exception =>
          fail(s"${k.name}: ${e.getClass.getName}: ${e.getMessage}")
          Timing(c.seconds, 0, 0)
      }
    }

    // Set-up runs every key once, on SetupThreads threads: the one-time
    // work is mostly single-threaded driver work (class loading, codegen,
    // index builds), so overlapping it shortens set-up. Concurrent keys
    // must not release each other's caches, so set-up releases at its end.
    // It starts from the last family: the loop and index families hold
    // the longest one-time work, and starting it first shortens set-up.
    tr.on()
    Parallel.run(SetupThreads)(keys.reverse.map(k => () => execute(k)))
    release()
    tr.endSetup()

    c.startTiming()
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Seq[Timing]]
    do passes += keys.map(once) while (passes.size < MinPasses || System.nanoTime() < deadline)
    val traced = if (tr.enabled) {
      tr.on()
      val p = keys.map(once)
      tr.off()
      Some(p)
    } else None

    val passTotal = passes.map(_.map(_.total).sum).toSeq
    // each key's median over the passes
    def perKey(f: Timing => Double): Seq[Double] =
      keys.indices.map(i => Stats.median(passes.map(p => f(p(i))).toSeq))
    val keyTotal = perKey(_.total)
    val layers = mutable.Map.empty[String, Double]
    layers("ops.keys") = keys.size.toDouble
    layers("ops.passes") = passes.size.toDouble
    layers("ops.build_s") = perKey(_.build).sum
    BatchOps.families.keys.foreach(f => layers(s"ops.$f.s") = 0.0)
    keys.zip(keyTotal).groupBy(_._1.family).foreach { case (f, ks) =>
      layers(s"ops.$f.s") = ks.map(_._2).sum
    }
    traced.foreach { p =>
      val plan = tr.spanSeconds("plan:", within = "action")
      layers("ops.plan_s") = plan
      layers("ops.exec_s") = p.map(_.action).sum - plan
      layers("trace.overhead_s") = p.map(_.total).sum - Stats.median(passTotal)
    }
    Outcome(attempted, failures.toSeq,
      Map(
        "work_s" -> Stats.median(passTotal),
        "op_p50_ms" -> Stats.pct(keyTotal, 0.5) * 1e3,
        "op_p90_ms" -> Stats.pct(keyTotal, 0.9) * 1e3),
      layers.toMap)
  }
}
