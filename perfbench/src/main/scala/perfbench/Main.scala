package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.{LayerMetrics, SparkEntry, Sessions, Tables}
import graft.streaming.IncrementalMart

/** One benchmark run in one JVM: set up the session once, counted from
  * process start, run one untimed warm pass that also writes every
  * operation's output for the oracle check, then timed passes until the
  * run's time is spent. A single client thread issues the operations in a
  * closed loop. The raw record (set-up, per-pass and per-operation timings,
  * and in a traced run the per-layer counters) goes to `<out>/raw.json` and
  * the spans to `<out>/trace.json`; run.py turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --data DIR --shards DIR --out DIR
  *   --seed N --seconds S --trace 0|1 [--launched-at EPOCH_S]
  *   [--inject-failure]
  * `--launched-at` is the wall-clock time the process was started at (the
  * JVM's own start time otherwise).
  */
object Main {

  final case class Args(workload: String, data: String, shards: String, out: String,
      seed: Long, seconds: Double, trace: Boolean, launchedAt: Option[Double],
      injectFailure: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("data"), kv.getOrElse("shards", ""), kv("out"),
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.get("launched-at").map(_.toDouble),
      argv.contains("--inject-failure"))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private val Injected = "injected_failure"

  /** One timed (or warm) execution of one operation. */
  final case class OpRecord(name: String, ok: Boolean, error: String,
      parts: Seq[(String, Double)], totalS: Double, group: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload(a.workload)
    val rng = new scala.util.Random(a.seed)
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val loadStart = loadavg()
    val tracer = new Tracer

    // ---- set-up, counted from process start: session start and a first
    // job; the warm-up proper is the untimed warm pass below
    val clock = java.time.Instant.now()
    val launchedAt = a.launchedAt.getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3)
    val processStart = now() -
      ((clock.getEpochSecond + clock.getNano / 1e9 - launchedAt) * 1e9).toLong
    val spark = Sessions.local("perfbench")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val sessionReady = now()
    tracer.add(Span(tracer.nextId(), 0, "setup", "session", processStart, sessionReady))
    val sc = spark.sparkContext
    val poller = new StoragePoller(sc)
    val opsOrder = wl.order(rng)
    val ops = if (!a.injectFailure) opsOrder else {
      val at = rng.nextInt(opsOrder.size + 1)
      (opsOrder.take(at) :+ Injected) ++ opsOrder.drop(at)
    }

    val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val sparkProbe = new SparkProbe(tracer, g => Option(groupSpan.get(g)))
    val streamProbe = new StreamProbe(sparkProbe)
    def streamDir(pass: Int): Path = out.resolve(s"stream/pass$pass")
    val workloadSpan = tracer.nextId()
    val workloadT0 = now()

    /** One pass over the workload's operations; `kind` is "warm" (untimed,
      * writes the outputs the oracle check reads) or "timed". */
    def pass(idx: Int, kind: String, traced: Boolean): Map[String, Any] = {
      System.gc()
      val passSpan = tracer.nextId()
      val layersBefore = LayerMetrics.snapshot.toMap
      val s = wl.scope(spark)
      if (traced) { sc.addSparkListener(sparkProbe); s.streams.addListener(streamProbe) }
      poller.reset()
      val records = mutable.Buffer.empty[OpRecord]
      val stateCommitNs = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = now()
      wl match {
        case Workload.StreamRefresh =>
          // the warm pass folds only the first shard: the timed pass that
          // follows is checked from its own final state
          val all = listShards(a.shards)
          val shards = if (kind == "warm") all.take(1) else all
          val names = shards.indices.map(k => f"refresh_$k%02d") ++
            (if (a.injectFailure) Seq(Injected) else Nil)
          names.zipWithIndex.foreach { case (name, k) =>
            records += runOp(s, name, idx, passSpan, traced, tracer, sparkProbe, groupSpan)(
              refreshStep(s, streamDir(idx), all(k % all.size), k, stateCommitNs))
          }
        case _ =>
          ops.foreach { name =>
            records += runOp(s, name, idx, passSpan, traced, tracer, sparkProbe, groupSpan)(
              queryStep(s, a.data, name, if (kind == "warm") Some(out.resolve("results")) else None))
          }
      }
      val t1 = now()
      val peak = poller.peak
      val layerStorage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      tracer.add(Span(passSpan, workloadSpan, "pass", s"$kind $idx", t0, t1))
      val rec = mutable.Map[String, Any](
        "index" -> idx, "kind" -> kind, "traced" -> traced, "wall_s" -> secs(t0, t1),
        "storage_peak_bytes" -> peak, "layer_storage_bytes" -> layerStorage,
        "ops" -> records.map(r => Map("name" -> r.name, "ok" -> r.ok, "error" -> r.error,
          "total_s" -> r.totalS) ++ r.parts.toMap))
      val layersAfter = LayerMetrics.snapshot.toMap
      rec("layers") = layersAfter.map { case (k, (b, n, r)) =>
        val (b0, n0, r0) = layersBefore.getOrElse(k, (0.0, 0, 0))
        k -> Map("build_s" -> (b - b0), "builds" -> (n - n0), "reuses" -> (r - r0))
      }.filter { case (_, m) => m("builds") != 0 || m("reuses") != 0 }
      if (wl == Workload.StreamRefresh && kind == "timed")
        rec("outputs") = Seq(s"stream_mart_p$idx", s"stream_summary_p$idx")
      if (traced) {
        syncListeners(sc, sparkProbe, streamProbe)
        sc.removeSparkListener(sparkProbe); s.streams.removeListener(streamProbe)
        val t = sparkProbe.sum(s"p$idx:")
        rec("spark") = Map("jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
          "task_failures" -> t.taskFailures, "task_deser_s" -> t.deserNs / 1e9,
          "task_run_s" -> t.runNs / 1e9, "task_slot_s" -> t.slotNs / 1e9, "gc_s" -> t.gcNs / 1e9,
          "shuffle_read_bytes" -> t.shuffleRead, "shuffle_write_bytes" -> t.shuffleWrite,
          "spill_bytes" -> t.spill, "rows_read" -> t.rowsRead, "bytes_read" -> t.bytesRead,
          "cores" -> sc.defaultParallelism,
          "evicted_blocks" -> sparkProbe.evictedBlocks.getAndSet(0))
        val runs = records.map(_.group).toSet
        val batches = streamProbe.progress.asScala.filter(b =>
          sparkProbe.groupOfRun(b.runId).exists(runs.contains)).toSeq
        batches.foreach { b =>
          val parent = sparkProbe.groupOfRun(b.runId).flatMap(g => Option(groupSpan.get(g)))
          val dur = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
          tracer.add(Span(tracer.nextId(), parent.getOrElse(passSpan), "batch",
            s"batch ${b.batchId}", b.receivedNs - dur, b.receivedNs,
            Map("input_rows" -> b.inputRows)))
        }
        val root = streamDir(idx).resolve("state")
        val winners = root.resolve("winners")
        rec("stream") = Map(
          "batches" -> batches.size, "input_rows" -> batches.map(_.inputRows).sum,
          "state_rows" -> (if (Files.exists(winners)) s.read.parquet(winners.toString).count() else 0L),
          "state_bytes" -> duBytes(root), "state_commit_s" -> stateCommitNs.get / 1e9) ++
          Seq("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
            .map(k => k -> batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3)
      }
      rec.toMap
    }

    val warm = pass(0, "warm", traced = false)
    val warmT1 = now()
    // timed passes until the run's seconds are spent; the last pass always
    // completes, and a traced run alternates untraced and traced passes
    val passes = mutable.Buffer.empty[Map[String, Any]]
    val deadline = now() + (a.seconds * 1e9).toLong
    while (passes.size < (if (a.trace) 2 else 1) || now() < deadline) {
      val i = passes.size + 1
      passes += pass(i, "timed", traced = a.trace && i % 2 == 0)
    }
    tracer.add(Span(workloadSpan, 0, "workload", a.workload, workloadT0, now()))
    poller.stop()
    if (wl == Workload.StreamRefresh) {
      // output check of stream_refresh: each timed pass's final state,
      // materialized once more outside the timed passes
      val results = out.resolve("results")
      passes.indices.map(_ + 1).foreach { i =>
        val root = streamDir(i).resolve("state").toString
        sink(IncrementalMart.materialize(spark, root), s"stream_mart_p$i", Some(results))
        sink(IncrementalMart.materializeSummary(spark, root), s"stream_summary_p$i", Some(results))
      }
    }

    val oracle = wl.checked(ops, passes.size).flatMap { case (name, target) =>
      SparkEntry.oracleSql.get(target).map(sql => name -> sql) }.toMap
    Files.createDirectories(out.resolve("results"))
    Files.writeString(out.resolve("results/oracle_sql.json"), json(oracle))
    val env = Map(
      "workload" -> a.workload, "seed" -> a.seed, "spark_cores" -> sc.defaultParallelism,
      "spark_master" -> sc.master, "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "spark_version" -> spark.version)
    val raw = Map("env" -> env, "start_s" -> secs(processStart, sessionReady),
      "setup_s" -> secs(processStart, warmT1), "warm" -> warm,
      "warm_pass_s" -> secs(workloadT0, warmT1), "passes" -> passes, "checked" -> oracle.size)
    Files.writeString(out.resolve("raw.json"), json(raw))
    Files.writeString(out.resolve("trace.json"), json(tracer.all.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_s" -> secs(processStart, s.start), "end_s" -> secs(processStart, s.end)) ++ s.attrs)))
    spark.stop()
  }

  // ---- operations ----------------------------------------------------------

  /** Times one operation: `body` runs its named steps through the given
    * timer, under the operation's job group when traced. A throw from any
    * step fails the operation; the injected operation throws before any. */
  private def runOp(s: SparkSession, name: String, passIdx: Int, passSpan: Long,
      traced: Boolean, tracer: Tracer, probe: SparkProbe,
      groupSpan: java.util.Map[String, Long])(body: Step => Unit): OpRecord = {
    val opSpan = tracer.nextId()
    val group = s"p$passIdx:o$opSpan"
    groupSpan.put(group, opSpan)
    probe.currentGroup = group
    if (traced) s.sparkContext.setJobGroup(group, name)
    val step = new Step(tracer, opSpan, name)
    val (ok, err) =
      try {
        if (name == Injected) throw new IllegalStateException("injected failure")
        body(step)
        (true, "")
      } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      finally if (traced) s.sparkContext.clearJobGroup()
    val t1 = now()
    tracer.add(Span(opSpan, passSpan, "op", name, step.t0, t1))
    OpRecord(name, ok, err, step.parts.toSeq, secs(step.t0, t1), group)
  }

  /** The timed steps of one operation, each recorded as a child span. */
  private final class Step(tracer: Tracer, opSpan: Long, name: String) {
    val t0: Long = now()
    private var mark = t0
    val parts = mutable.Buffer.empty[(String, Double)]
    def apply[T](part: String)(body: => T): T = {
      val r = body
      val t = now()
      parts += s"${part}_s" -> secs(mark, t)
      tracer.add(Span(tracer.nextId(), opSpan, part, s"$name.$part", mark, t))
      mark = t
      r
    }
  }

  /** One query: construction (the registered function), Catalyst planning
    * (forcing the executed plan) and execution (noop write, or the parquet
    * dump in the warm pass). */
  private def queryStep(s: SparkSession, data: String, name: String, dump: Option[Path])(
      step: Step): Unit = {
    val df = step("build")(SparkEntry.queries(name)(s, data))
    step("plan")(df.queryExecution.executedPlan)
    step("exec")(sink(df, name, dump))
  }

  private def sink(df: DataFrame, name: String, dump: Option[Path]): Unit = dump match {
    case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    case None      => df.write.format("noop").mode("overwrite").save()
  }

  /** One refresh of stream_refresh: land shard `k` as a part file in the
    * stream's input directory, fold it into the incremental mart state
    * with one AvailableNow run over `Tables.eventsStream`, and
    * re-materialize the mart and the summary from state. */
  private def refreshStep(s: SparkSession, dir: Path, shard: Path, k: Int,
      stateCommitNs: java.util.concurrent.atomic.AtomicLong)(step: Step): Unit = {
    val input = dir.resolve("in")
    val root = dir.resolve("state").toString
    step("land") {
      val landing = input.resolve("events.parquet")
      Files.createDirectories(landing)
      Files.copy(shard, landing.resolve(f"part-$k%05d.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    step("stream") {
      val q = Tables.eventsStream(s, input.toString).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val c0 = now()
          IncrementalMart.applyBatch(s, batch, batchId, root)
          stateCommitNs.addAndGet(now() - c0)
          ()
        }
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    step("mart")(sink(IncrementalMart.materialize(s, root), "stream_mart", None))
    step("summary")(sink(IncrementalMart.materializeSummary(s, root), "stream_summary", None))
  }

  // ---- helpers --------------------------------------------------------------

  /** Wait (bounded) until both listeners have seen everything the pass did:
    * a marker job's end proves the Spark listener queue drained past the
    * pass, and every streaming run must have reported termination. */
  private def syncListeners(sc: org.apache.spark.SparkContext, sp: SparkProbe,
      st: StreamProbe): Unit = {
    val before = sp.syncSeen.get
    sc.setJobGroup(SparkProbe.SyncGroup, "listener sync")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val until = now() + 10_000_000_000L
    def streamsDone = sp.runIds.forall(st.terminated.contains)
    while ((sp.syncSeen.get <= before || !streamsDone) && now() < until) Thread.sleep(5)
  }

  private def listShards(dir: String): Seq[Path] = {
    Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
  }

  private def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }
}

/** The four workloads: which operations, in which order, in which scope. */
sealed trait Workload {
  /** Operation names of one pass, in this run's (seeded) order. */
  def order(rng: scala.util.Random): Seq[String]
  /** The session a pass runs in: the shared one, or a fresh session scope
    * (cold layer cache) with the previous pass's cached frames released. */
  def scope(base: SparkSession): SparkSession = base
  /** (output, oracle query name) pairs the output check compares, for a run
    * of the given operations and number of timed passes. */
  def checked(ops: Seq[String], passes: Int): Seq[(String, String)] =
    ops.map(n => n -> n)
}

object Workload {
  private def cold(base: SparkSession): SparkSession = {
    base.catalog.clearCache()
    base.newSession()
  }

  /** The reference's dbt DAG as the nine batch IoT queries: the three
    * layer builders in DAG order, then the six mart consumers permuted. */
  case object IotMedallion extends Workload {
    val head = Seq("stg_readings", "int_anomalies", "mart_readings")
    val consumers = Seq("mart_summary", "summary_by_load", "summary_by_device",
      "summary_by_location", "anomaly_breakdown", "ops_row_counts")
    def order(rng: scala.util.Random): Seq[String] = head ++ rng.shuffle(consumers)
    override def scope(base: SparkSession): SparkSession = cold(base)
  }

  /** Independent interactive queries, one analyst in a closed loop. */
  case object AdhocQueries extends Workload {
    def names: Seq[String] = (graft.queries.Relational.queries.keys ++
      graft.queries.Temporal.queries.keys ++ graft.queries.Windowed.queries.keys ++
      graft.queries.Stats.queries.keys).filterNot(_.startsWith("stream_exec_")).toSeq.sorted
    def order(rng: scala.util.Random): Seq[String] = rng.shuffle(names)
  }

  /** Multi-stage jobs: iterative supersteps and text-dedup joins. */
  case object HeavyJobs extends Workload {
    val names = Seq("pagerank_integer", "kcenter_coreset_k16", "k_core", "link_prediction",
      "label_propagation", "stress_centrality", "dedup_substring", "dedup_containment",
      "jaccard_prefix_join")
    def order(rng: scala.util.Random): Seq[String] = rng.shuffle(names)
    override def scope(base: SparkSession): SparkSession = cold(base)
  }

  /** Shards landing one at a time, each folded into the incremental mart. */
  case object StreamRefresh extends Workload {
    def order(rng: scala.util.Random): Seq[String] = Nil
    override def scope(base: SparkSession): SparkSession = cold(base)
    override def checked(ops: Seq[String], passes: Int): Seq[(String, String)] =
      (1 to passes).flatMap(i =>
        Seq(s"stream_mart_p$i" -> "mart_readings", s"stream_summary_p$i" -> "mart_summary"))
  }

  val all: Map[String, Workload] = Map("iot_medallion" -> IotMedallion,
    "adhoc_queries" -> AdhocQueries, "heavy_jobs" -> HeavyJobs,
    "stream_refresh" -> StreamRefresh)

  def apply(name: String): Workload = all.getOrElse(name,
    throw new IllegalArgumentException(s"unknown workload $name; one of ${all.keys.mkString(", ")}"))
}
