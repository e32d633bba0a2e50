package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev measurement main: one warm-up, one build/plan/exec timer and one
  * task/stage listener behind four modes. Every mode takes
  * `<sfDir> <query...|@file>` (`@file` expands to the whitespace-separated
  * query names in that file) and executes queries through a noop sink.
  *
  *  - `time`: each query once, after a lineitem noop scan that evicts
  *    whatever the previous query warmed; then the [[LayerMetrics]]
  *    manifest (per-layer exclusive build time, builds, reuses).
  *  - `profile`: each query twice; each pass also lists its top stages by
  *    task deserialize time — driver-, scheduler- or compute-bound.
  *  - `plan`: each query's formatted physical plan under a
  *    `===== name =====` header (plan artifacts come from redirection).
  *  - `ab`: `A:key=value` / `B:key=value` arguments set SQL confs on two
  *    sessions sharing one context (`newSession` + [[Sessions.tune]]);
  *    three passes, arm order alternating per pass. Pass 1 carries each
  *    arm's layer builds; compare the warm passes.
  *
  * Usage: runMain graft.Probe <time|profile|plan|ab> <sfDir> [A:k=v|B:k=v ...] <query...|@file>
  */
object Probe {

  private val Usage =
    "usage: graft.Probe <time|profile|plan|ab> <sfDir> [A:k=v|B:k=v ...] <query...|@file>"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-probe")
    try run(spark, args.toSeq, println) finally spark.stop()
  }

  /** The whole tool against a caller-owned session; every output line goes
    * to `out`. The listener is registered for the run only. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Unit = {
    val (mode, dir, rest) = args match {
      case m +: d +: r if Set("time", "profile", "plan", "ab")(m) => (m, d, r.flatMap(expand))
      case _ => throw new IllegalArgumentException(Usage)
    }
    val (confs, names) = rest.partition(_.matches("[AB]:[^=]+=.*"))
    if (names.isEmpty || (confs.nonEmpty && mode != "ab"))
      throw new IllegalArgumentException(Usage)
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    try {
      noop(spark.range(1000).selectExpr("sum(id)"))
      def timed(tag: String, s: SparkSession, name: String, pass: Int): Unit = {
        tally.reset()
        val t0 = System.nanoTime()
        val df = query(name)(s, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // analysis + optimization + physical planning
        val t2 = System.nanoTime()
        noop(df)
        val t3 = System.nanoTime()
        def sec(a: Long, b: Long) = (b - a) / 1e9
        out(f"PROBE $tag%-7s $name%-28s p$pass build=${sec(t0, t1)}%6.3f " +
          f"plan=${sec(t1, t2)}%6.3f exec=${sec(t2, t3)}%6.3f total=${sec(t0, t3)}%6.3f | ${tally.totals}")
      }
      mode match {
        case "time" =>
          names.foreach { n =>
            noop(Tables.lineitem(spark, dir))
            timed("time", spark, n, 1)
          }
          LayerMetrics.snapshot.foreach { case (k, (b, n, r)) =>
            out(f"LAYER $k build=$b%.3f s builds=$n reuses=$r")
          }
        case "profile" =>
          for (n <- names; pass <- 1 to 2) {
            timed("profile", spark, n, pass)
            tally.topStagesByDeser(30).foreach(out)
          }
        case "plan" =>
          names.foreach { n =>
            out(s"===== $n =====")
            out(query(n)(spark, dir).queryExecution.explainString(FormattedMode))
          }
        case "ab" =>
          val arms = Seq("A", "B").map { tag =>
            val arm = Sessions.tune(spark.newSession())
            confs.filter(_.startsWith(tag + ":")).foreach { c =>
              val Array(k, v) = c.drop(2).split("=", 2)
              arm.conf.set(k, v)
            }
            tag -> arm
          }
          for (pass <- 1 to 3; n <- names; (tag, arm) <- if (pass % 2 == 1) arms else arms.reverse)
            timed(tag, arm, n, pass)
      }
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  private def expand(arg: String): Seq[String] =
    if (arg.startsWith("@"))
      Files.readString(Paths.get(arg.drop(1))).split("\\s+").filter(_.nonEmpty).toSeq
    else Seq(arg)

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query: $name"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Jobs and per-stage task metrics since the last [[reset]]. Events
    * arrive on the listener-bus thread, hence the locking. */
  private[graft] final class Tally extends SparkListener {
    private final class Stage {
      var tasks = 0; var runMs = 0L; var deserMs = 0L; var gcMs = 0L; var name = ""
    }
    private var jobs = 0
    private val stages = mutable.LinkedHashMap.empty[Int, Stage]
    private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

    def reset(): Unit = synchronized { jobs = 0; stages.clear() }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stage(s.stageInfo.stageId).name = s.stageInfo.name.take(90)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val st = stage(t.stageId)
      st.tasks += 1
      Option(t.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.deserMs += m.executorDeserializeTime
        st.gcMs += m.jvmGCTime
      }
    }

    def totals: String = synchronized {
      val ss = stages.values
      f"jobs=$jobs%3d stages=${ss.size}%3d tasks=${ss.map(_.tasks).sum}%4d " +
        f"run=${ss.map(_.runMs).sum / 1e3}%7.2f deser=${ss.map(_.deserMs).sum / 1e3}%6.2f " +
        f"gc=${ss.map(_.gcMs).sum / 1e3}%5.2f"
    }

    def topStagesByDeser(n: Int): Seq[String] = synchronized {
      stages.toSeq.sortBy(-_._2.deserMs).take(n).map { case (id, s) =>
        f"STAGE $id%4d tasks=${s.tasks}%4d run=${s.runMs / 1e3}%7.2f " +
          f"deser=${s.deserMs / 1e3}%6.2f gc=${s.gcMs / 1e3}%5.2f | ${s.name}"
      }
    }
  }
}
