package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort,
  SubqueryAlias, GlobalLimit, LocalLimit, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan,
  TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.{GraftLakeScanMetrics, GraftMongoScanMetrics, Tables}

import Harness.{PlanRec, PlanWalk, endsInSort, isTotalSort}

/** Records actions whose planning started while recording was on. The
  * callback runs later on the listener bus, so the decision is made from
  * the action's own start time, not from the time of delivery.
  * Registered through `spark.sql.queryExecutionListeners`, so every
  * session the engine opens gets one; they share one store. */
final class PlanListener extends QueryExecutionListener {
  import PlanListener._
  override def onSuccess(fn: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def dur(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val start = if (starts.isEmpty) 0L else starts.min
    if (!recording(start)) return
    val all = PlanWalk.nodes(qe.executedPlan)
    def metricMs(n: SparkPlan, names: String*): Double =
      names.flatMap(n.metrics.get).map { m =>
        if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
      }.sum
    val rowsOut = all.flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).sum
    plans.add(PlanRec(start,
      if (ends.isEmpty) 0L else ends.max,
      dur("analysis"), dur("optimization"), dur("planning"),
      all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      all.collect { case w: WholeStageCodegenExec =>
        metricMs(w, "pipelineTime") }.sum,
      all.collect { case s: SortExec => metricMs(s, "sortTime") }.sum,
      all.map(metricMs(_, "aggTime")).sum,
      all.collect { case b: BroadcastExchangeLike =>
        metricMs(b, "collectTime", "buildTime", "broadcastTime") }.sum,
      rowsOut,
      endsInSort(qe.analyzed),
      all.exists(isTotalSort)))
  }
  override def onFailure(fn: String, qe: QueryExecution,
      e: Exception): Unit = ()
}


object PlanListener {
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  @volatile private var windows: List[(Long, Long)] = Nil
  def on(): Unit =
    windows = (System.currentTimeMillis(), Long.MaxValue) :: windows
  def off(): Unit =
    windows = (windows.head._1, System.currentTimeMillis()) :: windows.tail
  private[perfbench] def recording(startMs: Long): Boolean =
    windows.exists { case (a, b) => startMs >= a && startMs <= b }
}


/** JVM side of the benchmark: one closed-loop client thread drives a list
  * of `SparkEntry.queries` keys through the engine's public entry points
  * and writes a raw JSON record (invocations, jobs, stages, plans,
  * streaming progress) that `run.py` turns into metrics and spans.
  *
  * Phases, in order:
  *  1. setup  — session, one serial pass that dumps every key's result as
  *     parquet for the oracle check (the first touch builds the fixtures
  *     and memos), then one serial warm-up pass with the timed action;
  *  2. verify — prints `@@verify-done` and waits on stdin while `run.py`
  *     runs `tools/check.py` over the dump, untimed;
  *  3. timed  — whole passes, each in a seeded shuffled order; with
  *     `trace=1` an untraced and then a traced segment (plan metrics on),
  *     each given half of `seconds`.
  *
  * Arguments are `name=value` pairs; see `run.py`.
  */
object Harness {

  private val invProp = "perfbench.inv"

  // ---------------------------------------------------------------- records

  final class Inv(val id: Int, val key: String, val phase: String,
      val pass: Int) {
    var startMs, constructEndMs, endMs = 0L
    var startNs, constructEndNs, endNs = 0L
    var error: String = null
    var resultRows = -1L
    var resultHash = 0
    val lake = new Array[Long](LakeCounters.names.size)
  }

  /** The connector counters `GraftLakeScanMetrics` and
    * `GraftMongoScanMetrics` expose, read as deltas around an invocation. */
  object LakeCounters {
    val names: Seq[String] = Seq("lake_shards_planned", "lake_shards_skipped",
      "lake_parts_skipped", "lake_columns_decoded", "lake_batches_decoded",
      "lake_metadata_only_reads", "lake_agg_pushdowns", "lake_parts_adopted",
      "lake_parts_merged", "lake_writer_rotations", "mongo_columns_decoded")
    def read(): Array[Long] = {
      val m = GraftLakeScanMetrics
      Array(m.planned.get, m.skippedByStats.get + m.skippedByBloom.get,
        m.skippedParts.get, m.decodedColumns.get, m.batchesDecoded.get,
        m.metadataOnlyReads.get, m.aggPushdowns.get, m.adoptedParts.get,
        m.mergedParts.get, m.writerRotations.get,
        GraftMongoScanMetrics.decodedColumns.get)
    }
  }

  final class StageRec(val stageId: Int, val attempt: Int, val job: Int,
      val inv: Int) {
    var submitMs, endMs = 0L
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleW, shuffleR, spill, inBytes, inRows, outBytes, outRows = 0L
  }

  final class JobRec(val jobId: Int, val inv: Int, val startMs: Long) {
    var endMs = 0L
    var ok = true
  }

  /** Job and stage spans plus aggregated task metrics, keyed by the
    * invocation id carried in the job's local properties. Runs on the
    * listener bus thread; read only after [[fence]]. */
  final class WorkListener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
    private val stageInv = mutable.HashMap[Int, (Int, Int)]()
    val progress = mutable.ArrayBuffer[Progress]()
    @volatile var fenced = false

    // streaming progress reaches every SparkContext listener, whichever
    // session (the replays run on `newSession()`s) owns the query
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        progress += progressOf(p.progress)
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val inv = Option(e.properties).flatMap(p =>
        Option(p.getProperty(invProp))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.jobId, inv, e.time)
      e.stageIds.foreach(s => stageInv(s) = (e.jobId, inv))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
        if (j.inv == -2) fenced = true
      }
    private def stage(id: Int, attempt: Int): StageRec =
      stages.getOrElseUpdate((id, attempt), {
        val (job, inv) = stageInv.getOrElse(id, (-1, -1))
        new StageRec(id, attempt, job, inv)
      })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.endMs = i.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s.shuffleW += m.shuffleWriteMetrics.bytesWritten
        s.shuffleR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** One streaming micro-batch, from `StreamingQueryProgress`. */
  final case class Progress(tsMs: Long, rows: Long, triggerMs: Long,
      addBatchMs: Long, planningMs: Long, walMs: Long, stateRows: Long,
      stateBytes: Long, stateCommitMs: Long, dropped: Long)

  private def progressOf(p: StreamingQueryProgress): Progress = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val ops = p.stateOperators
    Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, d.getOrElse("triggerExecution", 0L),
      d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
      d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Catalyst phases and operator SQLMetrics of one finished action. */
  final case class PlanRec(startMs: Long, endMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, exchanges: Int, codegenMs: Double,
      sortMs: Double, aggMs: Double, broadcastMs: Double, rowsOut: Long,
      querySorts: Boolean, planSorts: Boolean)

  object PlanWalk extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case n => n
    }
  }

  /** The query under a write command, with projections and limits peeled:
    * is it a total sort? */
  private[perfbench] def endsInSort(plan: LogicalPlan): Boolean = plan match {
    case w: V2WriteCommand => endsInSort(w.query)
    case s: Sort => s.global
    case Project(_, c) => endsInSort(c)
    case SubqueryAlias(_, c) => endsInSort(c)
    case GlobalLimit(_, c) => endsInSort(c)
    case LocalLimit(_, c) => endsInSort(c)
    case _ => false
  }

  private[perfbench] def isTotalSort(p: SparkPlan): Boolean = p match {
    case s: SortExec => s.global
    case _: TakeOrderedAndProjectExec => true
    case _ => false
  }

  /** Counts the engine's `[graft-memo]` stdout lines (persistent memo and
    * fixture builds) per phase, and passes all output through. */
  final class MemoTap(out: PrintStream) extends OutputStream {
    @volatile var phase = "setup"
    val events = new ConcurrentLinkedQueue[(String, String, Double)]()
    private val line = new java.io.ByteArrayOutputStream()
    private val built = """\[graft-memo\] (\S+) built in ([0-9.]+) s""".r
    private val reused = """\[graft-memo\] (\S+) reused.*""".r
    override def write(b: Int): Unit = synchronized {
      out.write(b)
      if (b == '\n') {
        line.toString(StandardCharsets.UTF_8).trim match {
          case built(what, s) => events.add((phase, s"build:$what", s.toDouble))
          case reused(what) => events.add((phase, s"hit:$what", 0.0))
          case _ => ()
        }
        line.reset()
      } else line.write(b)
    }
    override def flush(): Unit = out.flush()
  }

  // ------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val keys = args("keys").split(",").toSeq
    val sf = args("sf")
    val sink = args("sink")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val launchMs = args("launch_ms").toLong
    val dumpDir = args("dump")

    val realOut = new PrintStream(new java.io.FileOutputStream(
      java.io.FileDescriptor.out), true, "UTF-8")
    val tap = new MemoTap(realOut)
    System.setOut(new PrintStream(tap, true, "UTF-8"))

    val spark = session(args("local_dir"))
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    val plans = PlanListener

    val missing = keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val noOracle = keys.filterNot(SparkEntry.oracleSql.contains)
    require(noOracle.isEmpty, s"keys without oracle: ${noOracle.mkString(",")}")

    val invs = mutable.ArrayBuffer[Inv]()
    def invoke(key: String, phase: String, pass: Int)(
        action: (Inv, DataFrame) => Unit): Inv = {
      val inv = new Inv(invs.size, key, phase, pass)
      invs += inv
      spark.sparkContext.setLocalProperty(invProp, inv.id.toString)
      val before = LakeCounters.read()
      inv.startMs = System.currentTimeMillis(); inv.startNs = System.nanoTime()
      try {
        val df = SparkEntry.queries(key)(spark, sf)
        inv.constructEndNs = System.nanoTime()
        inv.constructEndMs = System.currentTimeMillis()
        action(inv, df)
      } catch {
        case e: Throwable =>
          inv.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      inv.endNs = System.nanoTime(); inv.endMs = System.currentTimeMillis()
      if (inv.constructEndNs == 0L) {
        inv.constructEndNs = inv.endNs; inv.constructEndMs = inv.endMs
      }
      val after = LakeCounters.read()
      after.indices.foreach(i => inv.lake(i) = after(i) - before(i))
      spark.sparkContext.setLocalProperty(invProp, null)
      // operators persist shared stages; drop them outside the timed window
      spark.catalog.clearCache()
      inv
    }

    val expect = mutable.HashMap[String, (Long, Int)]()
    def timedAction(me: Inv, df: DataFrame): Unit = sink match {
      case "collect" =>
        val rows = df.collect()
        me.resultRows = rows.length.toLong
        me.resultHash = rows.foldLeft(17)((h, r) => 31 * h + r.hashCode)
        // every later invocation must return what the first one did
        val fp = (me.resultRows, me.resultHash)
        expect.get(me.key) match {
          case Some(first) if first != fp =>
            me.error = s"perfbench.ResultMismatch: $fp != first $first"
          case None => expect(me.key) = fp
          case _ => ()
        }
      case "noop" =>
        df.write.format("noop").mode("overwrite").save()
    }

    // 1. set-up: the session, then one serial pass in workload order that
    // dumps each result as parquet for the oracle check (the layout
    // graft.Verify writes), then one serial warm-up pass with the timed
    // action. The first touch builds the fixtures and memos; a second
    // warm-up pass would steady the JIT further but does not fit the run
    // budget.
    new File(dumpDir).mkdirs()
    keys.foreach { key =>
      invoke(key, "setup", 0) { (_, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$key")
      }
    }
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
      keys.map(k => s"${jstr(k)}: ${jstr(SparkEntry.oracleSql(k))}")
        .mkString("{", ",", "}"))
    keys.foreach(key => invoke(key, "warmup", 0)(timedAction))
    val setupEndMs = System.currentTimeMillis()

    // 2. verify, untimed: run.py runs tools/check.py over the dump while
    // this JVM idles
    tap.phase = "verify"
    realOut.println("@@verify-done")
    val verdict = Option(scala.io.StdIn.readLine()).getOrElse("")
    require(verdict == "go", s"verify step aborted: '$verdict'")

    // 3. timed passes
    case class Segment(name: String, startMs: Long, endMs: Long,
        passes: Seq[(Int, Long, Long, Long)])
    var pass = 0
    def segment(name: String, budgetS: Double, withPlans: Boolean): Segment = {
      val passes = mutable.ArrayBuffer[(Int, Long, Long, Long)]()
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      // whole passes only: at least three; more while one is expected to
      // end within the budget
      def elapsed = (System.nanoTime() - t0) / 1e9
      def typical = passes.map(p => (p._4 - p._3) / 1e9).sorted
        .apply(passes.size / 2)
      tap.phase = name
      while (passes.size < 3 || elapsed + typical <= budgetS) {
        pass += 1
        // plan metrics are on in a traced segment, and for the first pass
        // of the run, which carries the final-sort check
        val planned = withPlans || pass == 1
        if (planned) plans.on()
        val p0 = System.nanoTime(); val pm = System.currentTimeMillis()
        new Random(seed * 1000003L + pass).shuffle(keys).foreach { key =>
          invoke(key, name, pass)(timedAction)
        }
        passes += ((pass, pm, p0, System.nanoTime()))
        if (planned) plans.off()
      }
      Segment(name, m0, System.currentTimeMillis(), passes.toSeq)
    }
    val segments =
      if (traced) Seq(segment("timed", seconds / 2, withPlans = false),
        segment("traced", seconds / 2, withPlans = true))
      else Seq(segment("timed", seconds, withPlans = false))
    val rssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
    fence(spark, work)

    val record = obj(
      "host" -> obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "spark_version" -> jstr(spark.version),
        "java_version" -> jstr(System.getProperty("java.version"))),
      "launch_ms" -> launchMs,
      "setup_end_ms" -> setupEndMs,
      "rss_peak_kb" -> rssKb,
      "tmp_bytes" -> treeBytes(new File(System.getProperty("java.io.tmpdir"))),
      "lake_counters" -> arr(LakeCounters.names.map(jstr)),
      "segments" -> arr(segments.map(s => obj(
        "name" -> jstr(s.name), "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "passes" -> arr(s.passes.map { case (p, m, a, b) =>
          obj("pass" -> p, "start_ms" -> m, "seconds" -> (b - a) / 1e9) })))),
      "invocations" -> arr(invs.toSeq.map(i => obj(
        "id" -> i.id, "key" -> jstr(i.key), "phase" -> jstr(i.phase),
        "pass" -> i.pass,
        "start_ms" -> i.startMs, "construct_end_ms" -> i.constructEndMs,
        "end_ms" -> i.endMs,
        "construct_s" -> (i.constructEndNs - i.startNs) / 1e9,
        "seconds" -> (i.endNs - i.startNs) / 1e9,
        "result_rows" -> i.resultRows,
        "error" -> (if (i.error == null) "null" else jstr(i.error)),
        "lake" -> arr(i.lake.toSeq.map(_.toString))))),
      "jobs" -> arr(work.jobs.values.filter(_.inv >= 0).toSeq.map(j => obj(
        "id" -> j.jobId, "inv" -> j.inv, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "ok" -> j.ok))),
      "stages" -> arr(work.stages.values.filter(_.inv >= 0).toSeq.map(s =>
        obj("id" -> s.stageId, "attempt" -> s.attempt, "job" -> s.job,
          "inv" -> s.inv, "submit_ms" -> s.submitMs, "end_ms" -> s.endMs,
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "sched_ms" -> s.schedMs, "shuffle_write" -> s.shuffleW,
          "shuffle_read" -> s.shuffleR, "spill" -> s.spill,
          "input_bytes" -> s.inBytes, "input_rows" -> s.inRows,
          "output_bytes" -> s.outBytes, "output_rows" -> s.outRows))),
      "plans" -> arr(plans.plans.asScala.toSeq.map(p => obj(
        "start_ms" -> p.startMs, "end_ms" -> p.endMs,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs, "exchanges" -> p.exchanges,
        "codegen_ms" -> p.codegenMs, "sort_ms" -> p.sortMs,
        "agg_ms" -> p.aggMs, "broadcast_ms" -> p.broadcastMs,
        "rows_out" -> p.rowsOut,
        "query_sorts" -> p.querySorts, "plan_sorts" -> p.planSorts))),
      "progress" -> arr(work.progress.toSeq.map(p => obj(
        "ts_ms" -> p.tsMs, "rows" -> p.rows, "trigger_ms" -> p.triggerMs,
        "add_batch_ms" -> p.addBatchMs, "planning_ms" -> p.planningMs,
        "wal_ms" -> p.walMs, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes, "state_commit_ms" -> p.stateCommitMs,
        "dropped" -> p.dropped))),
      "memo" -> arr(tap.events.asScala.toSeq.map { case (ph, what, s) =>
        obj("phase" -> jstr(ph), "event" -> jstr(what), "seconds" -> s) }))
    Files.writeString(Paths.get(args("record")), record)
    spark.stop()
    realOut.println("@@record-written")
  }

  /** The driver session every run uses: 4 cores, 4 shuffle partitions. */
  def session(localDir: String): SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.queryExecutionListeners",
        classOf[PlanListener].getName)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Waits until the listener bus has delivered every event posted before
    * now: runs a tagged one-task job and polls for its end. The plan
    * listeners share the work listener's queue, which delivers in order. */
  private def fence(spark: SparkSession, work: WorkListener): Unit = {
    spark.sparkContext.setLocalProperty(invProp, "-2")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(invProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!work.fenced && System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  // -------------------------------------------------------- tiny JSON writer

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case s: String => s // pre-encoded
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
  private def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${jstr(k)}:${value(v)}" }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
