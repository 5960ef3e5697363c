package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** The profiling entry point, `runMain graft.Probe <mode> <sfDir> [q1,q2,…]`:
  * one line of figures per registry query (named in full or by `qNN`
  * prefix; all when omitted) on a [[Sessions.local]] session. Modes, whose
  * own arguments follow the mode name:
  *  - `time [reps]`: one untimed noop write, then `reps` (default 3) timed.
  *  - `jobs`: one untimed run, then one under [[recordJobs]].
  *  - `plans`: after one untimed construct + optimize, construct, optimize
  *    and physical-planning seconds, the static initial-plan exchange / BHJ /
  *    nested-loop counts `PlanSweepSpec` pins, and tables scanned more than
  *    once. Only construction itself executes anything.
  *  - `dump <outDir> <suffix>`: `explain("formatted")` to
  *    `<outDir>/<qNN>_<suffix>.txt`, the files kept under plans/rNN/.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe (time [reps] | jobs | plans | dump <outDir> <suffix>) <sfDir> [q1,q2,…]"
    val (mode, modeArgs, rest) = args.toList match {
      case "time" :: r :: t if r.toIntOption.exists(_ > 0) => ("time", List(r), t)
      case (m @ ("time" | "jobs" | "plans")) :: t => (m, Nil, t)
      case "dump" :: out :: suffix :: t => ("dump", List(out, suffix), t)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(rest.size == 1 || rest.size == 2, usage)
    val sfDir = rest.head
    val names = select(rest.lift(1))
    val spark = Sessions.local()
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def build() = fn(spark, sfDir)
      try mode match {
        case "time" =>
          noop(build()) // JIT, codegen cache and session memos
          val secs = Seq.fill(modeArgs.headOption.fold(3)(_.toInt))(seconds(noop(build()))._2)
          println(s"[time] $name ${secs.map(s => f"$s%.2f").mkString(" ")} " +
            f"median=${secs.sorted.apply(secs.size / 2)}%.2f s")
        case "jobs" =>
          noop(build())
          val s = recordJobs(spark, fn, sfDir)
          def mb(b: Long) = f"${b / 1e6}%.2f"
          println(f"[jobs] $name construct=${s.constructS}%.2fs(${s.constructJobs} jobs) " +
            f"execute=${s.executeS}%.2fs jobs=${s.jobs} stages=${s.stages} tasks=${s.tasks} " +
            s"inputMB=${mb(s.inputB)} shuffleReadMB=${mb(s.shuffleReadB)} " +
            s"shuffleWriteMB=${mb(s.shuffleWriteB)} spillMB=${mb(s.spillB)} " +
            f"gap=${s.gapS}%.2fs")
        case "plans" =>
          build().queryExecution.optimizedPlan
          val (df, constructS) = seconds(build())
          val (_, optimizeS) = seconds(df.queryExecution.optimizedPlan)
          val (plan, physicalS) = seconds(df.queryExecution.executedPlan)
          val text = plan.toString
          def count(re: String) = re.r.findAllIn(text).size
          val multi = scans(plan).groupBy(identity).collect { case (t, s) if s.size > 1 => s"$t=${s.size}" }
          println(f"[plans] $name construct=$constructS%.3fs optimize=$optimizeS%.3fs " +
            f"physical=$physicalS%.3fs exchanges=${count("Exchange (hashpartitioning|rangepartitioning|SinglePartition)")} " +
            s"bhj=${count("BroadcastHashJoin")} nested=${count("CartesianProduct|BroadcastNestedLoopJoin")} " +
            s"multiScan=${multi.toSeq.sorted.mkString(",")}")
        case "dump" =>
          val out = Paths.get(modeArgs(0), s"${name.takeWhile(_ != '_')}_${modeArgs(1)}.txt")
          Files.createDirectories(out.getParent)
          Files.writeString(out, build().queryExecution.explainString(FormattedMode))
          println(s"[dump] $name ok")
      } catch { case e: Throwable =>
        println(s"[$mode] $name FAILED ${e.getClass.getName}: " +
          Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
      }
    } finally spark.stop()
  }

  /** Registry names for a comma-separated list of full names or `qNN`
    * prefixes, in list order; every registry query for `None`. */
  def select(list: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    list.fold(all)(_.split(",").toSeq.map { t =>
      all.find(n => n == t || n.takeWhile(_ != '_') == t)
        .getOrElse(throw new IllegalArgumentException(s"unknown query: $t"))
    })
  }

  /** Every output row in full at zero sink cost, as [[Bench]] times it. */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Root directory name of every file scan in the plan, subqueries
    * included, once per scan. */
  private def scans(p: SparkPlan): Seq[String] = (p match {
    case f: FileSourceScanExec => f.relation.location.rootPaths.take(1).map(_.getName)
    case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
    case _ => Nil
  }) ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)

  /** What one build + noop write of a query cost the scheduler. Counts and
    * bytes cover the whole run; `constructJobs` ran during the build;
    * `gapS` is the execution wall time no job interval covered. */
  final case class JobStats(constructS: Double, executeS: Double, jobs: Int, constructJobs: Int,
                            stages: Int, tasks: Int, inputB: Long, shuffleReadB: Long,
                            shuffleWriteB: Long, spillB: Long, gapS: Double)

  /** Totals over every job that runs while the listener is attached. */
  private final class JobRecorder extends SparkListener {
    var stages, tasks = 0
    var inputB, readB, writeB, spillB = 0L
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    private val starts = mutable.HashMap.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(starts(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(spans += ((starts.remove(e.jobId).getOrElse(e.time), e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        inputB += m.inputMetrics.bytesRead
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Builds and noop-writes one query under a fresh [[JobRecorder]]. The
    * listener bus is drained before the recorder attaches and before each
    * read, so the figures hold exactly this run's jobs. Sets no job group,
    * so a caller's group covers the same jobs. */
  def recordJobs(spark: SparkSession, fn: Query, sfDir: String): JobStats = {
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val rec = new JobRecorder
    sc.addSparkListener(rec)
    try {
      val (df, constructS) = seconds(fn(spark, sfDir))
      ListenerBusBridge.drain(sc)
      val constructJobs = rec.synchronized(rec.spans.size)
      val x0 = System.currentTimeMillis()
      val (_, executeS) = seconds(noop(df))
      val x1 = System.currentTimeMillis()
      ListenerBusBridge.drain(sc)
      rec.synchronized {
        // execution wall time covered by the union of the job intervals
        var covered = 0L
        var reach = x0
        rec.spans.map { case (s, e) => (math.max(s, x0), math.min(e, x1)) }
          .filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
            if (e > reach) { covered += e - math.max(s, reach); reach = e }
          }
        JobStats(constructS, executeS, rec.spans.size, constructJobs, rec.stages, rec.tasks,
          rec.inputB, rec.readB, rec.writeB, rec.spillB, math.max(0L, x1 - x0 - covered) / 1e3)
      }
    } finally sc.removeSparkListener(rec)
  }
}
