package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionMemo, SparkEntry}
import graft.ml.SentimentPipeline

/** One benchmark run in one JVM: set up, then issue operations from one
  * thread in a closed loop until the time is up, then check the outputs.
  * Writes every per-operation record and the layer totals as one JSON
  * object; `run.py` turns that into the benchmark's metrics.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace (0|1),
  * cpus, data (table dir), local_dir, warehouse_dir, out (result file),
  * trace_out (span file), and for sentiment_serving csv, batches (dir of
  * batch files), check_batch (name of the fixed batch among them),
  * batch_size and sink.
  */
object Harness {

  /** Read-only Relational and EventQueries registry queries, one per
    * operator family: aggregation, broadcast and sort-merge joins, semi/anti
    * join, window top-k, multi-join revenue, as-of and range joins. None
    * writes a layout and none reads a session memo, so they carry the
    * per-query fixed cost alone. */
  val Relational: Seq[String] = "q01 q03 q04 q05 q08 q46 q62 q65".split(" ").toSeq

  /** Consumers of session memos, one per memo family: span pairs, the
    * daily-revenue series band, the BM25 index and the product-quantized
    * vectors. Their memos are built in the cold pass and served warm. */
  val MemoConsumers: Seq[String] = "q125 q203 q174 q172".split(" ").toSeq

  /** (id, registry name, query) of every registry-workload query, in
    * registry-workload order. */
  def registryQueries: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    (Relational ++ MemoConsumers).map { id =>
      SparkEntry.queries.collectFirst { case (k, f) if k.startsWith(id + "_") => (id, k, f) }
        .getOrElse(throw new NoSuchElementException(s"registry has no query $id"))
    }

  /** One issued operation. `error` is (exception class, message). */
  final case class Op(name: String, timed: Boolean, seconds: Double,
                      error: Option[(String, String)], digest: String)

  /** Layer figures of one operation in the traced run. */
  final case class OpLayers(constructS: Double, executeS: Double, gapS: Double,
                            construct: Tally, execute: Tally)

  /** An operation span with the bounds of its construct and execute children. */
  final case class Span(name: String, group: String, startMs: Long, constructEndMs: Long,
                        executeStartMs: Long, endMs: Long, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")

    // graft.Bench's session, with this run's own scratch directories
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", a("local_dir"))
      .config("spark.sql.warehouse.dir", a("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, trace)
    val extra = workload match {
      case "registry" => h.registry(a("data"), seed, seconds)
      case "sentiment_serving" =>
        h.sentiment(a("csv"), a("batches"), a("check_batch"), a("batch_size").toInt,
          a("sink"), seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val json = h.result(extra)
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(Paths.get(a("trace_out")), h.traceJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private[perfbench] def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[perfbench] def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private[perfbench] def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
}

final class Harness(spark: SparkSession, trace: Boolean) {
  import Harness._

  private val sc = spark.sparkContext
  private val jobs = new JobRecorder
  if (trace) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(new PlanRecorder(jobs))
  }

  private val ops = ArrayBuffer.empty[Op]
  private val layers = ArrayBuffer.empty[OpLayers]
  private val spans = ArrayBuffer.empty[Span]
  private var seq = 0
  /** Seconds each timed pass took. */
  private val passSeconds = ArrayBuffer.empty[Double]
  private var firstTimedMs = 0L
  private var selfCheck: Option[(String, Int, Int)] = None

  private def drained(): Tally = { Bus.drain(sc); jobs.tally }

  private def describe(e: Throwable): (String, String) = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val c = if (root.getMessage == null && e.getMessage != null) e else root
    (c.getClass.getName, Option(c.getMessage).getOrElse("").linesIterator.take(3).mkString(" ").take(300))
  }

  /** Runs one operation: `construct` builds the DataFrame, `execute`
    * materializes it. Returns the operation's index in `ops`. */
  private def issue(name: String, timed: Boolean)(construct: => DataFrame)
                   (execute: DataFrame => Unit): Int = {
    seq += 1
    val group = f"op-$seq%06d-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    if (timed && firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
    val before = if (trace) drained() else null
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var constructNs = 0L
    var execMs = (startMs, startMs)
    var mid: Tally = null
    val out = try {
      val df = construct
      constructNs = System.nanoTime() - t0
      if (trace) {
        // the DataFrame was analyzed eagerly while it was built; no action
        // reports that phase to the plan recorder, so read it here
        jobs.addPlan(df.queryExecution.tracker)
        mid = drained()
      }
      val (xMs, tx) = (System.currentTimeMillis(), System.nanoTime())
      execute(df)
      val ns = constructNs + (System.nanoTime() - tx)
      execMs = (xMs, System.currentTimeMillis())
      Right(ns)
    } catch { case e: Throwable => Left(describe(e)) }
    val failedNs = System.nanoTime() - t0
    sc.clearJobGroup()
    val op = out match {
      case Right(ns) => Op(name, timed, ns / 1e9, None, "")
      case Left(err) => Op(name, timed, failedNs / 1e9, Some(err), "")
    }
    if (trace) {
      val after = drained()
      val m = if (mid == null) after else mid
      val (xs, xe) = execMs
      val covered = unionMs(jobs.allJobs.filter(_.group == group), xs, xe)
      if (timed) layers += OpLayers(constructNs / 1e9, (xe - xs) / 1e3,
        math.max(0L, xe - xs - covered) / 1e3, m - before, after - m)
      spans += Span(name, group, startMs, startMs + constructNs / 1000000, xs, xe, out.isRight)
      if (selfCheck.isEmpty) {
        val tracked = sc.statusTracker.getJobIdsForGroup(group).length
        selfCheck = Some((name, jobs.allJobs.count(_.group == group), tracked))
      }
    }
    ops += op
    ops.size - 1
  }

  /** Milliseconds of [lo, hi] covered by at least one job interval. */
  private def unionMs(js: Seq[JobSpan], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    js.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi))).filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }

  /** Materializes a registry query through the noop sink, observing its
    * digest in the same execution. */
  private def registryOp(id: String, fn: (SparkSession, String) => DataFrame,
                         dir: String, timed: Boolean): Unit = {
    val obs = new Observation(s"digest$seq")
    val i = issue(id, timed)(fn(spark, dir)) { df =>
      val (d, aggs) = Digest.prepare(df)
      d.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    }
    if (ops(i).error.isEmpty) {
      val r = Await.result(obs.future, 60.seconds)
      ops(i) = ops(i).copy(digest = Digest.render(r.getLong(0), r.get(1), r.get(2)))
    }
  }

  /** Runs `pass(0)`, `pass(1)`, ... until `seconds` have passed, timing each
    * pass. Only whole passes run, so every run times the same mix. */
  private def timedPasses(seconds: Double)(pass: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline) {
      val t = System.nanoTime()
      pass(n)
      passSeconds += (System.nanoTime() - t) / 1e9
      n += 1
    }
  }

  private def memoSnapshot(): Map[String, Double] =
    SessionMemo.buildSeconds.asScala.toMap.map { case (k, v) => k -> v.doubleValue }

  private var memoBefore: Map[String, Double] = Map.empty
  private var memoAfterSetup: Map[String, Double] = Map.empty
  private var memoAfter: Map[String, Double] = Map.empty

  private def changed(from: Map[String, Double], to: Map[String, Double]): Map[String, Double] =
    to.filter { case (k, v) => !from.get(k).contains(v) }

  /** Setup is one cold pass over the queries in registry order, then one
    * untimed warm pass, so that the timed phase does not start on cold JIT
    * code. The timed phase then runs whole passes, each in an order the seed
    * permutes, until `seconds` have passed: every run times the same mix of
    * queries. */
  def registry(dir: String, seed: Long, seconds: Double): Seq[(String, String)] = {
    val fns = registryQueries.map { case (id, _, f) => id -> f }
    memoBefore = memoSnapshot()
    fns.foreach { case (id, fn) => registryOp(id, fn, dir, timed = false) }
    memoAfterSetup = memoSnapshot()
    def runPass(pass: Int, timed: Boolean): Unit =
      new scala.util.Random(seed * 1000003L + pass).shuffle(fns)
        .foreach { case (id, fn) => registryOp(id, fn, dir, timed) }
    runPass(-1, timed = false)
    timedPasses(seconds)(runPass(_, timed = true))
    memoAfter = memoSnapshot()
    Seq("relational" -> Relational.map(q).mkString("[", ",", "]"),
      "memo_consumers" -> MemoConsumers.map(q).mkString("[", ",", "]"))
  }

  /** Setup trains the five models from the CSV, loads them back from the
    * model directory and scores every batch once, untimed. Each operation
    * scores one batch file with every loaded model and writes it to the
    * parquet sink, as one micro-batch of the streaming inference loop does;
    * the timed phase runs whole passes over the batch files, each in an
    * order the seed permutes. Operations on the fixed batch `checkName` are
    * named "check"; run.py compares their digest with a stored one. */
  def sentiment(csv: String, batchDir: String, checkName: String, batchSize: Int,
                sink: String, seed: Long, seconds: Double): Seq[(String, String)] = {
    val modelDir = Paths.get("models").toAbsolutePath.toString
    val jobs0 = if (trace) drained() else null
    val t0 = System.nanoTime()
    val trained = SentimentPipeline.train(spark, csv, modelDir = Some(modelDir))
    val trainS = (System.nanoTime() - t0) / 1e9
    val jobs1 = if (trace) drained() else null
    val t1 = System.nanoTime()
    val loaded = SentimentPipeline.loadTrained(spark, modelDir)
    val loadS = (System.nanoTime() - t1) / 1e9
    val batches = new java.io.File(batchDir).listFiles().map(_.getAbsolutePath).toSeq.sorted
    // (index in `ops`, batch index) of the op that wrote batch_id=<position>
    val used = ArrayBuffer.empty[(Int, Int)]
    def score(b: Int, timed: Boolean): Unit = {
      val id = used.size
      val name = if (new java.io.File(batches(b)).getName == checkName) "check" else f"batch$b%04d"
      val i = issue(name, timed) {
        SentimentPipeline.scoreBatch(
          spark.read.text(batches(b)).withColumnRenamed("value", "tweet"), "tweet", loaded)
      } { scored =>
        scored.withColumn("batch_id", lit(id)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").partitionBy("batch_id").parquet(sink)
      }
      used += i -> b
    }
    batches.indices.foreach(score(_, timed = false))
    timedPasses(seconds) { pass =>
      new scala.util.Random(seed * 1000003L + pass).shuffle(batches.indices.toVector)
        .foreach(score(_, timed = true))
    }

    // Outside the timed region: every written micro-batch must hold its
    // batch's tweets scored exactly as the freshly trained models score them;
    // the digest of a "check" op is kept for run.py to compare.
    def scoredCols(df: DataFrame) = "tweet" +: df.columns.filter(_.startsWith("pred_")).sorted.toSeq
    val inputs = spark.read.text(batches: _*).withColumnRenamed("value", "tweet")
      .withColumn("batch_file", element_at(split(input_file_name(), "/"), -1))
    val refScored = SentimentPipeline.scoreBatch(inputs, "tweet", trained)
    val reference = Digest.byKey(refScored, col("batch_file"), scoredCols(refScored))
    val written = spark.read.parquet(sink)
    val got = Digest.byKey(written, col("batch_id"), scoredCols(written))
    used.zipWithIndex.foreach { case ((i, b), id) =>
      val op = ops(i)
      if (op.error.isEmpty) {
        val want = reference.get(new java.io.File(batches(b)).getName)
        val have = got.get(id)
        ops(i) = op.copy(digest =
          if (have.isDefined && have == want && have.get.startsWith(s"$batchSize:"))
            (if (op.name == "check") have.get else "ok")
          else s"scored ${have.getOrElse("nothing")}, reference ${want.getOrElse("nothing")}")
      }
    }
    val files = new java.io.File(sink).listFiles().filter(_.isDirectory)
      .map(_.list().count(_.endsWith(".parquet")))
    def runsRows(df: DataFrame): Seq[String] =
      df.orderBy("model_name", "metric").collect().map(r =>
        s"${r.getAs[String]("model_name")}/${r.getAs[String]("metric")}=${r.getAs[Double]("value")}").toSeq
    val trainedRuns = runsRows(trained.runs)
    val loadedRuns = runsRows(loaded.runs)
    val trainJobs = if (trace) (jobs1 - jobs0).jobs else 0L
    Seq(
      "dataset_version" -> q(loaded.version),
      "trained_version" -> q(trained.version),
      "runs" -> loadedRuns.map(q).mkString("[", ",", "]"),
      "runs_match" -> (trainedRuns == loadedRuns).toString,
      "train_s" -> num(trainS), "load_s" -> num(loadS), "train_jobs" -> trainJobs.toString,
      "write_files" -> num(if (files.isEmpty) 0.0 else files.sum.toDouble / files.length))
  }

  def result(extra: Seq[(String, String)]): String = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cacheB = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    def opJson(o: Op) = obj(Seq("name" -> q(o.name), "timed" -> o.timed.toString,
      "s" -> num(o.seconds), "digest" -> q(o.digest),
      "error" -> o.error.map { case (c, m) => s"[${q(c)},${q(m)}]" }.getOrElse("null")))
    val layerJson = if (!trace) "null" else {
      val n = math.max(1, layers.size).toDouble
      val c = layers.map(_.construct).foldLeft(Tally())(_ + _)
      val e = layers.map(_.execute).foldLeft(Tally())(_ + _)
      val mb = 1e6
      obj(Seq(
        "ops" -> layers.size.toString,
        "operators.construct_s" -> num(layers.map(_.constructS).sum / n),
        "operators.construct_jobs" -> num(c.jobs / n),
        "plans.analyze_s" -> num((c.analyzeMs + e.analyzeMs) / 1e3 / n),
        "plans.optimize_s" -> num((c.optimizeMs + e.optimizeMs) / 1e3 / n),
        "plans.physical_s" -> num((c.physicalMs + e.physicalMs) / 1e3 / n),
        "exec.execute_s" -> num(layers.map(_.executeS).sum / n),
        "exec.jobs" -> num(e.jobs / n),
        "exec.stages" -> num(e.stages / n),
        "exec.tasks" -> num(e.tasks / n),
        "exec.driver_gap_s" -> num(layers.map(_.gapS).sum / n),
        "exec.small_job_share" -> num(if (e.jobs == 0) 0.0 else e.smallJobs.toDouble / e.jobs),
        "exec.task_busy_s" -> num(e.taskBusyMs / 1e3 / n),
        "exec.gc_s" -> num(e.gcMs / 1e3 / n),
        "exec.shuffle_read_mb" -> num(e.shuffleReadB / mb / n),
        "exec.shuffle_write_mb" -> num(e.shuffleWriteB / mb / n),
        "exec.spill_mb" -> num(e.spillB / mb / n),
        "exec.failed_tasks" -> num(e.failedTasks.toDouble),
        "exec.retried_stages" -> num(e.retriedStages.toDouble),
        "sources.scan_mb" -> num(e.scanB / mb / n),
        "sources.scan_rows" -> num(e.scanRows / n),
        "sources.write_mb" -> num(e.writeB / mb / n),
        "memo.builds" -> changed(memoBefore, memoAfterSetup).size.toString,
        "memo.build_s" -> num(changed(memoBefore, memoAfterSetup).values.sum),
        "memo.warm_rebuilds" -> changed(memoAfterSetup, memoAfter).size.toString,
        "memo.cached_rdds" -> sc.getRDDStorageInfo.count(_.numCachedPartitions > 0).toString))
    }
    obj(Seq(
      "setup_s" -> num((firstTimedMs - startMs) / 1e3),
      "pass_s" -> passSeconds.map(num).mkString("[", ",", "]"),
      "cache_mb" -> num(cacheB / 1e6),
      "ops" -> ops.map(opJson).mkString("[", ",", "]"),
      "layers" -> layerJson,
      "self_check" -> selfCheck.map { case (n, r, t) =>
        obj(Seq("op" -> q(n), "recorder_jobs" -> r.toString, "tracker_jobs" -> t.toString))
      }.getOrElse("null")) ++ extra)
  }

  /** Spans of the traced run: each operation with its construct, planning
    * phase and execute children, and each Spark job with the group (the
    * operation) that caused it. */
  def traceJson: String = {
    def span(name: String, start: Long, end: Long) =
      obj(Seq("name" -> q(name), "start_ms" -> start.toString, "end_ms" -> end.toString))
    val phases = jobs.phaseSpans
    val opsJ = spans.map { s =>
      val children = Seq(span("construct", s.startMs, s.constructEndMs),
        span("execute", s.executeStartMs, s.endMs)) ++
        phases.filter(p => p._2 >= s.startMs && p._3 <= s.endMs).map(p => span(s"plan.${p._1}", p._2, p._3))
      obj(Seq("name" -> q(s.name), "group" -> q(s.group), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "ok" -> s.ok.toString, "children" -> children.mkString("[", ",", "]")))
    }
    val jobsJ = jobs.allJobs.map(j => obj(Seq("id" -> j.id.toString, "group" -> q(j.group),
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)))
    obj(Seq("ops" -> opsJ.mkString("[", ",", "]"), "jobs" -> jobsJ.mkString("[", ",", "]")))
  }
}
