package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Times `graft.SparkEntry.queries` from outside the program.
  *
  * One JVM is one benchmark run: build the session (set-up), run the given
  * passes in order, then build and stop the session a few more times so
  * the set-up time is a median. The first pass is the cold pass;
  * every query of a pass is timed through the calls the program exposes:
  * `fn(spark, sfDir)` (build), `df.queryExecution.executedPlan` (plan) and
  * `df.write.format("noop")` (exec). The first warm pass also times
  * `fn(spark, sfDir).count()`, the call graft.Bench times, beside them.
  * After the timed passes the DataFrame each query last timed is written
  * to parquet, one file per partition, for the oracle check.
  *
  * Passes listed with `--traced-pass` run with the trace listeners
  * attached; their jobs, stages, stream progress events and executed-plan
  * metrics are written as records, tagged with the phase they ran in.
  * Every record stays in memory and is written as JSON lines at the end.
  *
  * Package `org.apache.spark` gives access to the listener bus drain.
  */
object Runner {
  private val PhaseProp = "graftbench.phase"

  private case class Opts(sf: String, out: String, cpus: String, setupReps: Int,
      passes: Seq[Seq[String]], traced: Set[Int], verifyDir: Option[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map(a => a(0) -> a(1)).toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
    Opts(one("--sf").get, one("--out").get, one("--cpus").getOrElse("4"),
      one("--setup-reps").map(_.toInt).getOrElse(1),
      kv.collect { case ("--pass", v) => v.split(',').toSeq },
      kv.collect { case ("--traced-pass", v) => v.toInt }.toSet,
      one("--verify-dir"))
  }

  /** graft.Bench's session, key for key; only the core count is passed in. */
  private def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- JSON lines ------------------------------------------------------

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case Raw(text) => text
    case o => js(o.toString)
  }
  private case class Raw(text: String)

  private val records = new ConcurrentLinkedQueue[String]()
  private def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(js(Map("type" -> kind) ++ fields))

  // Wall-clock milliseconds with nanoTime resolution, on the same epoch
  // as the listener event timestamps.
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // ---- listeners ---------------------------------------------------------

  private class TraceListener extends SparkListener {
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageQueueMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageFailed = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      val phase = Option(e.properties).map(_.getProperty(PhaseProp)).orNull
      emit("job_start", "job" -> e.jobId, "t" -> e.time, "phase" -> phase)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job_end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(stageSubmit.put(e.stageInfo.stageId, _))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      stageQueueMs.merge(e.stageId, math.max(0L, e.taskInfo.launchTime - sub), _ + _)
      if (e.taskInfo.failed) stageFailed.merge(e.stageId, 1, _ + _)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val id = s.stageId
      emit("stage", "stage" -> id, "job" -> stageJob.getOrDefault(id, -1),
        "tasks" -> s.numTasks,
        "t0" -> s.submissionTime.getOrElse(0L), "t1" -> s.completionTime.getOrElse(0L),
        "failed_tasks" -> stageFailed.getOrDefault(id, 0),
        "queue_ms" -> stageQueueMs.getOrDefault(id, 0L),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      emit("stream_start", "run" -> e.runId.toString, "name" -> e.name)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      emit("progress", "p" -> Raw(e.progress.json))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      emit("stream_end", "run" -> e.runId.toString)
  }

  /** Keeps the query executions of finished writes, so the executed plan
    * of each noop write (its row count, and in traced passes its operator
    * metrics) can be read once the listener bus is drained. */
  private class WriteListener extends QueryExecutionListener {
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = done.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- executed-plan metrics -------------------------------------------

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** Rows the noop sink received: the V2 write node's committed count. */
  private def writtenRows(qe: QueryExecution): Option[Long] =
    nodes(qe.executedPlan).collectFirst { case w: V2TableWriteExec => w.commitProgress }
      .flatten.map(_.numOutputRows)

  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "timing" => m.value / 1e3
    case "nsTiming" => m.value / 1e9
    case _ => 0.0
  }

  /** SQLMetrics rollup of one executed plan: operator times and the rows
    * the leaves produced. */
  private def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val all = nodes(plan)
    def sumTime(keys: String*) = all.flatMap(n => keys.flatMap(n.metrics.get)).map(seconds).sum
    val leafRows = all.filter(n => n.children.isEmpty && !n.isInstanceOf[QueryStageExec])
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val scans = all.filter(_.nodeName.startsWith("Scan"))
    Map("scan_s" -> scans.flatMap(n => n.metrics.get("scanTime")).map(seconds).sum,
      "agg_s" -> sumTime("aggTime"), "sort_s" -> sumTime("sortTime"),
      "join_build_s" -> sumTime("buildTime"), "leaf_rows" -> leafRows.toDouble)
  }

  // ---- JVM counters ----------------------------------------------------

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (mx, rem) => mx - rem }.sum / 1048576.0

  /** Bytes under the stream scratch dirs the program keeps for the
    * session: the cachedScratchDir builds StreamRuntime pins, read through
    * the `pinnedDirs` accessor of the object that mixes it in. */
  private def scratchMb: Double = try {
    val cls = Class.forName("graft.streaming.StreamOps$")
    val mod = cls.getField("MODULE$").get(null)
    val m = cls.getMethods.find(m => m.getName.endsWith("$pinnedDirs") && m.getParameterCount == 0).get
    val dirs = m.invoke(mod).asInstanceOf[java.util.Set[String]].asScala.toSeq
    dirs.map { d =>
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p).iterator.asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
    }.sum / 1048576.0
  } catch { case _: Throwable => 0.0 }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }

  private def err(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  // ---- run -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle")) {
      // every query name with its oracle SQL (null where none is declared)
      val oracle = graft.SparkEntry.oracleSql
      val all = graft.SparkEntry.queries.keys.map(k => k -> oracle.get(k).orNull).toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), js(all))
      return
    }
    val o = parse(args)
    val queries = graft.SparkEntry.queries

    // set-up: a fresh session with Bench's config, up to the point the
    // first query can be submitted. The queries run in this first session,
    // as in Bench; the repeats for a stable median come after the passes,
    // so no stopped context precedes them.
    def timedSession(): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val s = newSession(o.cpus)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val (spark, firstSetupS) = timedSession()
    val sc = spark.sparkContext
    val trace = new TraceListener
    val stream = new StreamListener
    val writes = new WriteListener
    spark.listenerManager.register(writes)

    def drain(): Unit = sc.listenerBus.waitUntilEmpty()
    def phase[A](tag: String)(body: => A): (A, Double, Double) = {
      sc.setLocalProperty(PhaseProp, tag)
      val t0 = nowMs
      try { val a = body; (a, t0, nowMs) } finally sc.setLocalProperty(PhaseProp, null)
    }

    val timed = scala.collection.mutable.Map[String, DataFrame]()
    o.passes.zipWithIndex.foreach { case (order, pass) =>
      val traced = o.traced(pass)
      if (traced) {
        sc.addSparkListener(trace)
        spark.streams.addListener(stream)
      }
      order.foreach { name =>
        val fn = queries(name)
        val tag = s"$pass/$name"
        val rec = scala.collection.mutable.LinkedHashMap[String, Any](
          "pass" -> pass, "query" -> name, "traced" -> traced)
        val jvm0 = if (traced) Some((gcMs, jitMs, codegen, storageMb(spark))) else None
        try {
          val (df, b0, b1) = phase(s"$tag/build")(fn(spark, o.sf))
          val (_, p0, p1) = phase(s"$tag/plan")(df.queryExecution.executedPlan)
          drain(); writes.done.clear()
          val (_, e0, e1) = phase(s"$tag/exec")(df.write.format("noop").mode("overwrite").save())
          drain()
          val written = writes.done.asScala.lastOption
          rec ++= Seq("build" -> Seq(b0, b1), "plan" -> Seq(p0, p1), "exec" -> Seq(e0, e1),
            "noop_rows" -> written.flatMap(writtenRows).getOrElse(-1L))
          if (traced) {
            val tracker = df.queryExecution.tracker.phases
            rec("plan_phases") = tracker.map { case (k, v) => k -> v.durationMs }
            written.foreach(qe => rec("plan_metrics") = planMetrics(qe.executedPlan))
          }
          timed(name) = df
          if (pass == 1) {
            val (n, c0, c1) = phase(s"$tag/count")(fn(spark, o.sf).count())
            rec ++= Seq("count" -> Seq(c0, c1), "count_rows" -> n)
          }
        } catch { case t: Throwable => rec("error") = err(t) }
        jvm0.foreach { case (gc, jit, (cg, cgS), st) =>
          val (cg1, cgS1) = codegen
          rec ++= Seq("gc_s" -> (gcMs - gc) / 1e3, "jit_s" -> (jitMs - jit) / 1e3,
            "codegen_compiles" -> (cg1 - cg), "codegen_s" -> math.max(0.0, cgS1 - cgS),
            "storage_mb" -> (storageMb(spark) - st))
        }
        records.add(js(Map("type" -> "query") ++ rec))
      }
      if (traced) {
        drain()
        sc.removeSparkListener(trace)
        spark.streams.removeListener(stream)
      }
    }
    emit("caches", "storage_mb" -> storageMb(spark), "scratch_mb" -> scratchMb)

    // outside the timed passes: the DataFrame each query's last pass
    // timed, written to parquet for the oracle check
    o.verifyDir.foreach { dir =>
      o.passes.flatten.distinct.foreach { name =>
        try timed(name).write.mode("overwrite").parquet(s"$dir/$name")
        catch { case t: Throwable => emit("verify_error", "query" -> name, "error" -> err(t)) }
      }
    }
    emit("end", "peak_rss_mb" -> peakRssMb, "gc_s" -> gcMs / 1e3, "jit_s" -> jitMs / 1e3)
    spark.stop()
    val setupS = firstSetupS +: (2 to o.setupReps).map { _ =>
      val (s, dt) = timedSession()
      s.stop()
      dt
    }
    emit("setup", "s" -> setupS)
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try records.asScala.foreach(w.println) finally w.close()
  }
}
