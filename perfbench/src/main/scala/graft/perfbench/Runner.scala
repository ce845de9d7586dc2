package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One benchmark run in one JVM: a closed loop of `SparkEntry.queries` driven
  * by a single client thread.
  *
  * Phases: session start; set-up, in which each distinct query first runs
  * once with its result written as parquet for the oracle compare and then
  * runs again until its time stops falling; the timed window of seeded
  * rounds, each a permutation of the distinct queries, until `seconds` have
  * passed and at least `min_queries` have run, at a round boundary.
  * The engine is observed only from outside: the query-function call and the
  * noop materialization are timed separately, and with `trace=1` a
  * SparkListener plus a QueryExecutionListener count what each query did and
  * record spans, written once at exit.
  *
  * Arguments are `key=value`: data, out, queries (comma list), seed, seconds,
  * min_queries, max_warm, cores, trace (0|1), t0 (epoch ns when the JVM was
  * launched).
  */
object Runner {

  final case class Span(id: String, parent: String, name: String,
    startNs: Long, endNs: Long)

  /** Listener-side counters of one traced query. */
  final class Tally {
    var jobs, stages, tasks, taskFailures = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
    var busyMs, schedWaitMs, exchanges, broadcasts, filesRead, filesWritten = 0L
    var analysisMs, optimizeMs, planningMs = 0L
  }

  class Tracer extends SparkListener with QueryExecutionListener {
    private var cur = new Tally
    val spans = mutable.ArrayBuffer[Span]()
    private val stageSubmit = mutable.Map[(Int, Int), Long]()
    private val stageJob = mutable.Map[Int, Int]()
    private val jobStart = mutable.Map[Int, (Long, String)]()

    /** Hands back what was counted since the last call. */
    def take(): Tally = synchronized { val t = cur; cur = new Tally; t }
    def addSpan(s: Span): Unit = synchronized { spans += s }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, desc)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      cur.jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, desc) =>
        spans += Span(s"job${e.jobId}", desc, "spark.job",
          t0 * 1000000L, e.time * 1000000L)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val i = e.stageInfo
        stageSubmit((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val t0 = stageSubmit.getOrElse((i.stageId, i.attemptNumber()), 0L)
        val t1 = i.completionTime.getOrElse(System.currentTimeMillis())
        spans += Span(s"stage${i.stageId}.${i.attemptNumber()}",
          s"job${stageJob.getOrElse(i.stageId, -1)}", "spark.stage",
          t0 * 1000000L, t1 * 1000000L)
        cur.stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val info = e.taskInfo
      cur.tasks += 1
      if (!info.successful) cur.taskFailures += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
        cur.schedWaitMs += math.max(0L, info.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        cur.busyMs += m.executorRunTime
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.inputBytes += m.inputMetrics.bytesRead
        cur.inputRows += m.inputMetrics.recordsRead
      }
    }

    private def planned(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      cur.analysisMs += ms("analysis")
      cur.optimizeMs += ms("optimization")
      cur.planningMs += ms("planning")
      // each exchange instance once: a reused one is reachable twice
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        p match {
          case _: ShuffleExchangeLike => cur.exchanges += 1
          case _: BroadcastExchangeLike => cur.broadcasts += 1
          case s: FileSourceScanExec =>
            cur.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case w: DataWritingCommandExec =>
            cur.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(qe.executedPlan)
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
  }

  /** Counters the program keeps itself, read before and after a query. */
  private def programCounters(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "meta_rpcs" -> graft.sources.TxTable.metaRpcCount,
      "scratch_ns" -> graft.Scratch.buildNanos.get(),
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum,
      "fs_bytes_read" -> fs.map(_.getBytesRead).sum,
      "fs_bytes_written" -> fs.map(_.getBytesWritten).sum)
  }

  private def peakRssKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists) return 0L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val data = kv("data")
    val out = new File(kv("out")).getAbsoluteFile
    val names = kv("queries").split(",").toVector
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val cores = kv("cores").toInt
    val trace = kv("trace") == "1"
    val t0Epoch = kv("t0").toLong
    val minQueries = kv("min_queries").toInt
    val maxWarm = kv("max_warm").toInt
    out.mkdirs()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

    // epoch-aligned monotonic clock, so query spans and listener times
    // (epoch ms) share one axis
    val baseEpoch = java.time.Instant.now()
    val baseEpochNs = baseEpoch.getEpochSecond * 1000000000L + baseEpoch.getNano
    val baseNano = System.nanoTime()
    def epochNs(nano: Long): Long = baseEpochNs + (nano - baseNano)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .config("spark.graft.scratchDir",
        new File(out, "scratch").toURI.toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    /** Runs one query: the call into its function, then materialization
      * of the frame it returns through `sink`. Returns the two durations
      * and the error, if any. */
    def runQuery(name: String, qid: String,
      sink: org.apache.spark.sql.DataFrame => Unit = _.write.format("noop")
        .mode("overwrite").save()): (Long, Long, Option[String]) = {
      spark.catalog.clearCache()
      sc.setJobDescription(qid)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = fns(name)(spark, data)
        t1 = System.nanoTime()
        sink(df)
        (t1 - t0, System.nanoTime() - t1, None)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name ($qid) failed: $e")
          val now = System.nanoTime()
          if (t1 == t0) (now - t0, 0L, Some(e.toString))
          else (t1 - t0, now - t1, Some(e.toString))
      } finally sc.setJobDescription(null)
    }

    // ---- set-up: a checked run, then warm-up until times stop falling ----
    val rng = new java.util.Random(seed)
    def permutation(): Vector[String] = {
      val a = names.toArray
      for (i <- a.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector
    }
    val scratch0 = graft.Scratch.buildNanos.get()
    val warm = mutable.LinkedHashMap[String, Vector[Double]]()
    val checkErrors = mutable.LinkedHashMap[String, String]()
    permutation().foreach { n =>
      val (cb, ce, cerr) = runQuery(n, s"check-$n", _.write.mode("overwrite")
        .parquet(new File(out, s"check/$n").getPath))
      cerr.foreach(checkErrors(n) = _)
      var ts = Vector((cb + ce) / 1e9)
      var falling = cerr.isEmpty
      while (falling && ts.size <= maxWarm) {
        val (b, e, err) = runQuery(n, s"warm-$n-${ts.size}")
        val t = (b + e) / 1e9
        falling = err.isEmpty && t < 0.95 * ts.min
        ts :+= t
      }
      warm(n) = ts
    }
    val scratchSetupNs = graft.Scratch.buildNanos.get() - scratch0
    Files.writeString(Paths.get(out.getPath, "check", "oracle_sql.json"),
      json(SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) }), UTF_8)

    // ---- timed window ----
    val tracer = if (trace) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val sequence = mutable.ArrayBuffer[String]()
    val gc0 = programCounters()("gc_ms")
    val wStart = System.nanoTime()
    val setupNs = epochNs(wStart) - t0Epoch
    var round = 0
    while (execs.size < minQueries ||
      (System.nanoTime() - wStart) / 1e9 < seconds) {
      permutation().foreach { n =>
        val qid = s"q${execs.size}"
        val before = if (trace) programCounters() else Map.empty[String, Long]
        val s = System.nanoTime()
        val (b, e, err) = runQuery(n, qid)
        var rec = Map[String, Any]("qid" -> qid, "round" -> round, "name" -> n,
          "start_ns" -> (s - wStart), "build_ns" -> b, "exec_ns" -> e,
          "ok" -> err.isEmpty, "error" -> err.orNull)
        tracer.foreach { tr =>
          tr.addSpan(Span(qid, "", "query", epochNs(s), epochNs(s + b + e)))
          tr.addSpan(Span(s"$qid.build", qid, "operators.build",
            epochNs(s), epochNs(s + b)))
          tr.addSpan(Span(s"$qid.exec", qid, "operators.exec",
            epochNs(s + b), epochNs(s + b + e)))
          BusDrain(sc)
          val t = tr.take()
          val after = programCounters()
          rec ++= after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
            "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
            "task_failures" -> t.taskFailures,
            "shuffle_write_bytes" -> t.shuffleWrite,
            "shuffle_read_bytes" -> t.shuffleRead, "spill_bytes" -> t.spill,
            "input_bytes" -> t.inputBytes, "input_rows" -> t.inputRows,
            "files_read" -> t.filesRead, "files_written" -> t.filesWritten,
            "exchanges" -> t.exchanges,
            "broadcasts" -> t.broadcasts, "analysis_ms" -> t.analysisMs,
            "optimize_ms" -> t.optimizeMs, "planning_ms" -> t.planningMs,
            "task_busy_ms" -> t.busyMs, "sched_wait_ms" -> t.schedWaitMs)
        }
        sequence += n
        execs += rec
      }
      round += 1
    }
    val windowNs = System.nanoTime() - wStart
    val gcWindowMs = programCounters()("gc_ms") - gc0
    val rssKb = peakRssKb()
    tracer.foreach { t =>
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      val w = new PrintWriter(new File(out, "spans.jsonl"), UTF_8)
      try t.spans.foreach { s =>
        w.println(json(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      } finally w.close()
    }
    Files.writeString(Paths.get(out.getPath, "result.json"), json(Map(
      "setup_ns" -> setupNs, "window_ns" -> windowNs, "rounds" -> round,
      "peak_rss_kb" -> rssKb, "gc_window_ms" -> gcWindowMs,
      "scratch_setup_ns" -> scratchSetupNs, "warm" -> warm.toMap,
      "sequence" -> sequence,
      "execs" -> execs, "check_errors" -> checkErrors.toMap)), UTF_8)
    spark.stop()
  }
}
