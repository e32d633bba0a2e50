package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the trace: workload, pass, operation, build/plan/exec, job
  * or stream batch. Times are nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span store; written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
}

/** Task-level counters summed over the jobs of one job group. */
final class TaskAcc {
  var jobs, stages, tasks, taskFailures = 0L
  var deserNs, runNs, slotNs, gcNs = 0L
  var shuffleRead, shuffleWrite, spill, rowsRead, bytesRead = 0L
  def add(o: TaskAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    deserNs += o.deserNs; runNs += o.runNs; slotNs += o.slotNs; gcNs += o.gcNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
  }
}

/** The traced run's SparkListener. Jobs are attributed to the operation
  * that launched them through their job group: the benchmark sets the
  * group to the operation span's key before each traced operation, and a
  * streaming query's jobs (which run under the query's runId as group)
  * are mapped back through [[bindRun]]. */
final class SparkProbe(tracer: Tracer, spanOfGroup: String => Option[Long]) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val runGroup = new ConcurrentHashMap[String, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val accs = new ConcurrentHashMap[String, TaskAcc]()
  private val inMemory = ConcurrentHashMap.newKeySet[String]()
  val evictedBlocks = new AtomicLong(0)
  /** Marker-job ends seen; the benchmark waits on it to know the listener
    * queue has drained past a pass. */
  val syncSeen = new AtomicLong(0)
  /** Group of the operation now running; read when a stream starts. */
  @volatile var currentGroup: String = "-"

  def bindRun(runId: String, group: String): Unit = runGroup.put(runId, group)
  def groupOfRun(runId: String): Option[String] = Option(runGroup.get(runId))
  def runIds: Iterable[String] = runGroup.keySet.asScala
  private def groupOf(raw: String): String =
    if (raw == null) "-" else Option(runGroup.get(raw)).getOrElse(raw)
  private def acc(g: String): TaskAcc = accs.computeIfAbsent(g, _ => new TaskAcc)

  /** Counters of every group whose key starts with `prefix`, summed. */
  def sum(prefix: String): TaskAcc = {
    val t = new TaskAcc
    accs.asScala.foreach { case (g, a) => if (g.startsWith(prefix)) a.synchronized(t.add(a)) }
    t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, System.nanoTime()))
    val a = acc(g); a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      if (g == SparkProbe.SyncGroup) syncSeen.incrementAndGet()
      spanOfGroup(g).foreach { p =>
        tracer.add(Span(tracer.nextId(), p, "job", s"job ${e.jobId}", t0, System.nanoTime()))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "-"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.taskFailures += 1
      a.slotNs += e.taskInfo.duration * 1000000L
      if (m != null) {
        a.deserNs += m.executorDeserializeTime * 1000000L
        a.runNs += m.executorRunTime * 1000000L
        a.gcNs += m.jvmGCTime * 1000000L
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.rowsRead += m.inputMetrics.recordsRead
        a.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  /** A persisted block that leaves memory but stays on disk was evicted
    * for space (an unpersist removes it from both). */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = i.blockId.name
      if (i.storageLevel.useMemory && i.memSize > 0) inMemory.add(key)
      else if (inMemory.remove(key) && i.storageLevel.isValid && i.diskSize > 0)
        evictedBlocks.incrementAndGet()
    }
  }
}

object SparkProbe {
  val SyncGroup = "perfbench-sync"
}

/** Per-batch record of a streaming query's progress. */
final case class BatchProgress(runId: String, batchId: Long, inputRows: Long,
    durations: Map[String, Long], receivedNs: Long)

/** The traced run's StreamingQueryListener: keeps every progress event and
  * every terminated run id. Query start is delivered synchronously with
  * `start()`, so the run is bound to the running operation before any of
  * its jobs can start. */
final class StreamProbe(sp: SparkProbe) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  val terminated = ConcurrentHashMap.newKeySet[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    sp.bindRun(e.runId.toString, sp.currentGroup)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId.toString)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(BatchProgress(p.runId.toString, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, System.nanoTime()))
  }
}

/** Storage high-water: a daemon thread samples the memory held by
  * persisted frames (layers, cached and checkpointed frames) every few
  * milliseconds; [[reset]] starts a new window and [[peak]] reads it. */
final class StoragePoller(sc: SparkContext, periodMs: Long = 5) {
  @volatile private var high = 0L
  @volatile private var running = true
  private def used(): Long = sc.getRDDStorageInfo.map(_.memSize).sum
  private val thread = new Thread(() => {
    while (running) {
      try { val u = used(); if (u > high) high = u } catch { case _: Throwable => () }
      Thread.sleep(periodMs)
    }
  }, "perfbench-storage-poller")
  thread.setDaemon(true)
  thread.start()
  def reset(): Unit = high = used()
  def peak: Long = { val u = used(); if (u > high) high = u; high }
  def stop(): Unit = { running = false; thread.join(1000) }
}
