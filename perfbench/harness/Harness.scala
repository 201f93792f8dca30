package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, single-client benchmark driver over the graft query catalog.
  *
  *   Harness key=value...   (keys: data queries out seconds trace master
  *                           scratch)
  *
  * Runs `Setups` set-ups (fresh temp roots, fresh session, one untimed
  * warm-up pass; the first one also dumps each query's result for the
  * oracle check, outside its timed window), then timed passes over the
  * query list until `seconds` have elapsed, and at least three.
  * It calls the program only through `graft.SparkEntry` and observes it
  * only through Spark's listener APIs. With trace=1, untraced and traced
  * passes interleave as U T T U, and the traced ones record spans
  * (pass -> query -> build/final -> job) plus job, plan and stream records.
  * Everything is kept in memory and written to `out` at exit; perfbench's
  * Python side turns it into metrics.
  */
object Harness {
  /** The consumer of graft.Bench: hashing a struct of every output column
    * forces every column to be computed; bit_xor cannot overflow. */
  def consume(df: DataFrame): String = {
    val v = df.agg(expr("bit_xor(xxhash64(struct(*)))")).collect()(0).get(0)
    String.valueOf(v)
  }

  /** Local property that tags every job with the span that submitted it. */
  val SpanKey = "perfbench.span"

  /** Set-ups per run; setup_s is their median. */
  val Setups = 2

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def json(v: Any): Array[Byte] = mapper.writeValueAsBytes(v)

  /** Bytes written through Hadoop FileSystems in this JVM (driver and local
    * executors): graft-tsv data, manifests and checksums, parquet output.
    * Shuffle and spill files do not go through it. */
  def fsBytesWritten: Long = FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  private val clockEpochMs = System.currentTimeMillis()
  private val clockNano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same scale
    * as the scheduler's job times. */
  def nowMs: Double = clockEpochMs + (System.nanoTime() - clockNano0) / 1e6

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Double, end: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    new Run(names, opt("data"), opt("out"), opt("seconds").toDouble,
      opt("trace") == "1", opt("master"), opt("scratch")).run()
  }
}

final class Run(names: Seq[String], data: String, out: String, seconds: Double,
    traced: Boolean, master: String, scratch: String) {
  import Harness._

  private val heapBean = ManagementFactory.getMemoryMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private var peakHeapAfterGc = 0L

  // ---- always-on counters (stage-completed shuffle bytes, job count) ----
  private val shuffleWrite = new AtomicLong
  private val jobCount = new AtomicLong
  private val counters = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
  }

  // ---- traced-pass records; listener callbacks run on one bus thread ----
  @volatile private var tracing = false
  @volatile private var passId = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextSpan = new AtomicLong
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def add(m: mutable.Map[String, Any], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0).asInstanceOf[Double] + v

  /** SQL execution id -> call site of the thread that started it; AQE
    * submits the execution's jobs from a pool thread, so a job's own call
    * site names the pool, not the program. */
  private val execSites = mutable.Map.empty[Long, String]

  private val tracer = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if tracing =>
        execSites(x.executionId) = x.description
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
      jobs(e.jobId) = mutable.Map[String, Any](
        "id" -> e.jobId, "pass" -> passId,
        "parent" -> prop(SpanKey).getOrElse("-1").toLong,
        "start" -> e.time.toDouble, "end" -> e.time.toDouble,
        "callsite" -> site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_("end") = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(add(_, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        add(j, "tasks", 1)
        add(j, "task_ms", e.taskInfo.duration.toDouble)
        add(j, "run_ms", m.executorRunTime.toDouble)
        add(j, "cpu_ms", m.executorCpuTime / 1e6)
        add(j, "gc_ms", m.jvmGCTime.toDouble)
        j("peak_mem") = math.max(j.getOrElse("peak_mem", 0.0).asInstanceOf[Double],
          m.peakExecutionMemory.toDouble)
        val sr = m.shuffleReadMetrics
        add(j, "shuffle_read", (sr.remoteBytesRead + sr.localBytesRead).toDouble)
        add(j, "fetch_wait_ms", sr.fetchWaitTime.toDouble)
        add(j, "spill_disk", m.diskBytesSpilled.toDouble)
        add(j, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(j, "input_rows", m.inputMetrics.recordsRead.toDouble)
      }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def metric(plan: SparkPlan, name: String): Double =
      collectWithSubqueries(plan) { case p => p.metrics.get(name).map(_.value).getOrElse(0L) }
        .sum.toDouble
    /** Table writes in a plan: V2 appends, row-level rewrites and
      * micro-batch sinks, and V1 file writes. */
    def writes(plan: SparkPlan): Int =
      collectWithSubqueries(plan) {
        case p @ (_: V2TableWriteExec | _: DataWritingCommandExec) => p
      }.size
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (tracing) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val plan = qe.executedPlan
      plans += Map("pass" -> passId,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "lines_read" -> PlanWalk.metric(plan, "linesRead"),
        "rows_emitted" -> PlanWalk.metric(plan, "rowsEmitted"),
        "writes" -> PlanWalk.writes(plan))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) {
        val d = e.progress.durationMs.asScala
        batches += Map("pass" -> passId,
          "add_batch_ms" -> d.get("addBatch").map(_.toDouble).getOrElse(0.0),
          "wal_commit_ms" -> d.get("walCommit").map(_.toDouble).getOrElse(0.0))
      }
  }

  private def session(i: Int): SparkSession = {
    val root = Paths.get(scratch, s"setup$i")
    val tmp = root.resolve("tmp")
    Files.createDirectories(tmp)
    Files.createDirectories(root.resolve("local"))
    // graft's artifact, export and catalog roots read this property per
    // call. Files.createTempDirectory keeps the tmpdir the JVM started with
    // (the run's own, set by run.py), so those roots stay inside the run
    // too; they get fresh names, so no set-up reuses another's.
    System.setProperty("java.io.tmpdir", tmp.toString)
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft.Bench's confs, sized from the live session's parallelism
    val cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (cores * 16).toString)
    spark.sparkContext.addSparkListener(counters)
    spark
  }

  /** graft.Bench's isolate(): drop cached blocks, GC so the ContextCleaner
    * releases shuffle files and broadcasts, and let it settle. */
  private def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    peakHeapAfterGc = math.max(peakHeapAfterGc, heapBean.getHeapMemoryUsage.getUsed)
    Thread.sleep(50)
  }

  private def span(kind: String, name: String, parent: Long, start: Double): Long = {
    val id = nextSpan.incrementAndGet()
    if (tracing) spans += Span(id, parent, kind, name, start, start)
    id
  }
  private def close(id: Long): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(end = nowMs)
  }

  /** One query: the builder call, then the final action. */
  private def runQuery(spark: SparkSession, name: String, parent: Long)
      : Map[String, Any] = {
    val sc = spark.sparkContext
    val gc0 = gcMs
    val q = span("query", name, parent, nowMs)
    val t0 = System.nanoTime()
    var t1 = t0
    var hash = ""
    var err = ""
    try {
      val b = span("build", name, q, nowMs)
      sc.setLocalProperty(SpanKey, b.toString)
      val df = graft.SparkEntry.queries(name)(spark, data)
      t1 = System.nanoTime()
      close(b)
      val f = span("final", name, q, nowMs)
      sc.setLocalProperty(SpanKey, f.toString)
      hash = consume(df)
      close(f)
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $name FAILED: $err")
    } finally sc.setLocalProperty(SpanKey, null)
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    close(q)
    Bus.flush(sc)
    System.err.println(f"[perfbench] pass $passId $name ${(t2 - t0) / 1e9}%.3f s")
    Map("name" -> name, "ok" -> err.isEmpty, "hash" -> hash, "error" -> err,
      "build_s" -> (t1 - t0) / 1e9, "final_s" -> (t2 - t1) / 1e9,
      "driver_gc_s" -> (gcMs - gc0) / 1e3)
  }

  private def pass(spark: SparkSession, id: Long, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    Bus.flush(sc)
    tracing = traced
    passId = id
    shuffleWrite.set(0); jobCount.set(0)
    val written0 = fsBytesWritten
    val p = span("pass", s"pass$id", -1, nowMs)
    val qs = names.map { n => isolate(spark); runQuery(spark, n, p) }
    close(p)
    Bus.flush(sc)
    tracing = false
    Map("id" -> id, "traced" -> traced, "queries" -> qs,
      "shuffle_write_bytes" -> shuffleWrite.get, "written_bytes" -> (fsBytesWritten - written0),
      "jobs" -> jobCount.get)
  }

  private def attachTracing(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    // Each set-up's warm-up pass consumes like a timed pass; its hashes
    // head the pass-to-pass hash chain. The first one also writes each
    // result once for the oracle check; that write is left out of setup_s.
    val dump = Paths.get(out, "dump")
    val dumpErrors = mutable.LinkedHashMap.empty[String, String]
    val warmHashes = (0 until Setups).map(_ => mutable.LinkedHashMap.empty[String, String])
    val setupS = (0 until Setups).map { i =>
      val t0 = if (i == 0) jvmStartMs else nowMs
      var dumpMs = 0.0
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(i)
      names.foreach { n =>
        isolate(spark)
        val q0 = System.nanoTime()
        warmHashes(i)(n) = ""
        try {
          val df = graft.SparkEntry.queries(n)(spark, data)
          warmHashes(i)(n) = consume(df)
          if (i == 0) {
            val d0 = nowMs
            try df.write.mode("overwrite").parquet(dump.resolve(n).toString)
            finally dumpMs += nowMs - d0
          }
        } catch {
          case e: Throwable =>
            if (i == 0) dumpErrors(n) = String.valueOf(e.getMessage).take(300)
            System.err.println(s"[perfbench] warm-up $n FAILED: $e")
        }
        System.err.println(f"[perfbench] setup $i $n ${(System.nanoTime() - q0) / 1e9}%.3f s")
      }
      (nowMs - t0 - dumpMs) / 1e3
    }
    if (traced) attachTracing(spark)
    // closed loop: passes back to back until the run length is used up;
    // traced runs interleave untraced and traced passes as U T T U, so
    // warm-up drift does not bias the tracing overhead
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (passes.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds ||
        (traced && passes.size % 4 != 0)) {
      val id = passes.size.toLong
      passes += pass(spark, id, traced && (id % 4 == 1 || id % 4 == 2))
    }

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(dump)
    Files.write(dump.resolve("oracle_sql.json"), json(oracle))

    val result = Map(
      "setup_s" -> setupS, "passes" -> passes.toSeq,
      "dump_errors" -> dumpErrors, "warmup_hashes" -> warmHashes,
      "peak_heap_bytes" -> peakHeapAfterGc,
      "cores" -> spark.sparkContext.defaultParallelism,
      "max_heap_bytes" -> heapBean.getHeapMemoryUsage.getMax,
      "spark_version" -> spark.version)
    Files.write(Paths.get(out, "result.json"), json(result))
    if (traced) {
      val trace = Map(
        "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
        "jobs" -> jobs.values.map(_.toMap).toSeq, "plans" -> plans.toSeq,
        "batches" -> batches.toSeq)
      Files.write(Paths.get(out, "trace.json"), json(trace))
    }
    spark.stop()
  }
}
