package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark. Runs one workload — a list of
  * `graft.SparkEntry.queries` entries — in passes inside one
  * `local[cpus]` session and writes raw measurements as JSON lines to
  * `out`. Every statistic is computed from those lines by run.py.
  *
  * Phases, in order:
  *  1. `setups` set-ups, each on a fresh copy of the input tables in
  *     `base`: one pass over the copy, which stages the program's
  *     per-directory fixtures and warms the JVM. The last set-up also
  *     writes every query's output to parquet; its input and outputs stay
  *     in `work` for the DuckDB oracle check made by run.py, which owns
  *     `work` and removes it.
  *     A `ready` record then gives the seconds from JVM start to here.
  *  2. Timed passes over the last input until `seconds` have elapsed,
  *     at least `passes` of them. With tracing on, half of the time runs
  *     untraced and half with the Spark and streaming listeners
  *     recording, one pass or more each, so that run.py can report the
  *     tracing overhead from one process.
  *
  * A query is forced by `bit_xor(xxhash64(struct(*)))` over its output,
  * which evaluates every column; the digest must repeat in every pass.
  *
  * Usage (normally started by run.py):
  *   Harness key=value ...  with keys queries, seed, seconds, trace,
  *   base, work, out, cpus, setups, passes
  */
object Harness {

  final case class Conf(
      queries: Seq[String], seed: Long, seconds: Double, trace: Boolean,
      base: Path, work: Path, out: Path, cpus: Int, setups: Int, passes: Int)

  def parse(args: Array[String]): Conf = {
    val kv = args.map { a =>
      val i = a.indexOf('='); require(i > 0, s"expected key=value, got $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    Conf(
      queries = kv("queries").split(",").toSeq.filter(_.nonEmpty),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      base = Paths.get(kv("base")),
      work = Paths.get(kv("work")),
      out = Paths.get(kv("out")),
      cpus = kv("cpus").toInt,
      setups = kv("setups").toInt,
      passes = kv("passes").toInt)
  }

  // ---------- JSON lines ----------

  /** Writes one JSON object per line; an absent Option is written as null. */
  final class Sink(path: Path) {
    private val w = Files.newBufferedWriter(path, UTF_8)
    private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def apply(fields: (String, Any)*): Unit = synchronized {
      w.write(mapper.writeValueAsString(fields.toMap)); w.write('\n')
    }
    def close(): Unit = synchronized { w.close() }
  }

  // ---------- host probes ----------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this JVM in MB; -1 off Linux. */
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  } catch { case NonFatal(_) => -1.0 }

  /** Spark's codegen counters: (compile ns so far, classes compiled). */
  def codegen(): (Long, Long) = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val classes = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    (cg.compileTime, classes)
  }

  // ---------- input ----------

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** A fresh copy of the generated tables, so that the program stages
    * its per-directory fixtures again.
    */
  def copyInput(c: Conf, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.list(c.base).iterator().asScala.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
  }

  // ---------- tracing ----------

  /** Records Spark scheduler, SQL and streaming events as JSON lines.
    * Registered only for traced runs.
    */
  final class Recorder(sink: Sink) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      sink("k" -> "job", "id" -> e.jobId, "t0" -> e.time,
        "stages" -> e.stageIds,
        "sql" -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      sink("k" -> "job_end", "id" -> e.jobId, "t1" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      sink("k" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "name" -> s.name, "details" -> s.details, "tasks" -> s.numTasks,
        "t0" -> s.submissionTime, "t1" -> s.completionTime,
        "rdds" -> s.rddInfos.map(_.callSite),
        "run_ms" -> Option(m).map(_.executorRunTime).getOrElse(0L),
        "cpu_ns" -> Option(m).map(_.executorCpuTime).getOrElse(0L),
        "gc_ms" -> Option(m).map(_.jvmGCTime).getOrElse(0L),
        "sh_read" -> Option(m).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        "sh_write" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill" -> Option(m).map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        "failed" -> s.failureReason.isDefined)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      sink("k" -> "task", "stage" -> e.stageId, "t0" -> e.taskInfo.launchTime,
        "t1" -> e.taskInfo.finishTime)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sink("k" -> "sql", "id" -> s.executionId, "t0" -> s.time,
          "desc" -> s.description, "details" -> s.details)
      case s: SparkListenerSQLExecutionEnd =>
        sink("k" -> "sql_end", "id" -> s.executionId, "t1" -> s.time)
      case _ => ()
    }
  }

  final class StreamRecorder(sink: Sink) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      sink("k" -> "sq_start", "id" -> e.runId.toString,
        "t0" -> java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      sink("k" -> "batch", "id" -> p.runId.toString, "batch" -> p.batchId,
        "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem" -> ops.map(_.memoryUsedBytes).sum)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      sink("k" -> "sq_end", "id" -> e.runId.toString, "t1" -> System.currentTimeMillis)
  }

  // ---------- passes ----------

  /** Digest of a query's output: every column of every row is evaluated. */
  def digest(df: DataFrame): Long =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))).head().getLong(0)

  /** Run every query once in a seeded order; returns the pass seconds.
    * With `dump`, each output is also written to dump/<query>, after the
    * digest, so that set-ups warm the same code the timed passes run.
    */
  def pass(spark: SparkSession, c: Conf, sink: Sink, rng: scala.util.Random,
           dir: Path, phase: String, n: Int, dump: Option[Path] = None): Double = {
    val cpu0 = processCpuS()
    val (cg0, cl0) = codegen()
    val wall0 = System.currentTimeMillis
    var total = 0.0
    rng.shuffle(c.queries).foreach { q =>
      val t0 = System.nanoTime(); val w0 = System.currentTimeMillis
      var t1 = t0
      val result: Either[String, Long] = try {
        val df = graft.SparkEntry.queries(q)(spark, dir.toString)
        t1 = System.nanoTime()
        val dg = digest(df)
        dump.foreach(d => df.write.parquet(d.resolve(q).toString))
        Right(dg)
      } catch { case NonFatal(e) =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      total += (t2 - t0) / 1e9
      sink("k" -> "query", "phase" -> phase, "pass" -> n, "q" -> q,
        "t0" -> w0, "t1" -> System.currentTimeMillis,
        "call_s" -> (t1 - t0) / 1e9, "force_s" -> (t2 - t1) / 1e9,
        "digest" -> result.toOption.map(_.toString), "err" -> result.left.toOption)
      hygiene(spark)
    }
    val (cg1, cl1) = codegen()
    sink("k" -> "pass", "phase" -> phase, "pass" -> n, "s" -> total,
      "t0" -> wall0, "t1" -> System.currentTimeMillis,
      "cpu_s" -> (processCpuS() - cpu0),
      "compile_ms" -> (cg1 - cg0) / 1e6, "classes" -> (cl1 - cl0))
    total
  }

  /** Release what a query leaves cached (as Bench does between queries),
    * outside the timed window.
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val sink = new Sink(c.out)
    var spark: SparkSession = null
    // an interrupt (SIGTERM from run.py) must not leave a streaming
    // query writing into the run directory while it is being removed
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(spark).foreach(_.streams.active.foreach(q =>
        try q.stop() catch { case NonFatal(_) => () }))))
    try {
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[${c.cpus}]")
        .config("spark.sql.shuffle.partitions", c.cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      sink("k" -> "host", "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cpus" -> c.cpus, "jvm_start" -> jvmStart,
        "session_s" -> (System.nanoTime() - t0) / 1e9,
        "jvm_to_session_s" -> (System.currentTimeMillis - jvmStart) / 1000.0)

      val oracle = graft.SparkEntry.oracleSql
      c.queries.foreach(q => sink("k" -> "oracle", "q" -> q, "sql" -> oracle.get(q)))
      val rng = new scala.util.Random(c.seed)
      var dir: Path = null
      (1 to c.setups).foreach { k =>
        val prev = dir
        dir = c.work.resolve(s"setup-$k")
        val s0 = System.nanoTime()
        copyInput(c, dir.resolve("input"))
        val p = pass(spark, c, sink, rng, dir.resolve("input"), "setup", k,
          if (k == c.setups) Some(dir.resolve("dump")) else None)
        sink("k" -> "setup", "i" -> k, "pass_s" -> p, "s" -> (System.nanoTime() - s0) / 1e9,
          "dir" -> dir.toString)
        if (prev != null) deleteTree(prev)
      }
      val input = dir.resolve("input")
      // the set-up time: JVM start to the first timed pass (session start,
      // fixture staging and every set-up pass)
      sink("k" -> "ready", "since_jvm_start_s" -> (System.currentTimeMillis - jvmStart) / 1000.0)

      // at least `minPasses`, so that a pass close to `seconds` long does
      // not leave some runs with fewer samples than others
      def timed(phase: String, seconds: Double, minPasses: Int): Unit = {
        val start = System.nanoTime()
        var n = 0
        while (n < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
          n += 1
          pass(spark, c, sink, rng, input, phase, n)
        }
      }
      if (c.trace) {
        timed("timed", c.seconds / 2, 1)
        val rec = new Recorder(sink)
        val srec = new StreamRecorder(sink)
        spark.sparkContext.addSparkListener(rec)
        spark.streams.addListener(srec)
        // the listeners stay registered: spark.stop() delivers the events
        // still queued for them before the record file is closed
        timed("traced", c.seconds / 2, 1)
      } else timed("timed", c.seconds, c.passes)
      sink("k" -> "rss", "peak_mb" -> rssPeakMb())

      sink("k" -> "done")
    } finally {
      if (spark != null) {
        spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
        spark.stop()
      }
      sink.close()
    }
  }
}
