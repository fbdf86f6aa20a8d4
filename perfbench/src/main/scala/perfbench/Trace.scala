package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans around every call the benchmark
  * makes into a layer, plus counts from listeners the benchmark itself
  * registers (Spark jobs/stages/tasks, query-planning phases,
  * streaming progress) and Hadoop FileSystem statistics snapshotted at
  * span boundaries. Everything stays in memory until [[report]].
  *
  * Listener events arrive asynchronously, so they are attributed by
  * time: the client is one thread, its spans nest, and an event
  * belongs to the innermost span open at its timestamp.
  */
object Trace {
  final case class Fs(bytesRead: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  /** Hadoop FileSystem statistics, summed over every scheme in use.
    * The local file system counts bytes only (its operation counters
    * stay at zero), so bytes are what the trace records. */
  def fsNow(): Fs = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator().asScala.toSeq
    def sum(k: String) = all.flatMap(s => Option(s.getLong(k))).map(_.longValue).sum
    Fs(sum("bytesRead"), sum("bytesWritten"))
  }

  final case class Span(id: Int, name: String, parent: Int, unit: Int,
                        startMs: Double, endMs: Double, fs: Fs) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = endMs - startMs
  }

  final case class Job(id: Int, startMs: Long, var endMs: Long) {
    var tasks = 0L
    var executorRunMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var stagesDone = 0
  }

  final case class Phase(startMs: Long, analysisMs: Long,
                         optimizationMs: Long, physicalMs: Long)
  final case class Progress(startMs: Long, triggerMs: Long, addBatchMs: Long,
                            walCommitMs: Long, planningMs: Long, rows: Long)

  private[perfbench] final case class Open(id: Int, name: String, parent: Int,
                                           unit: Int, startMs: Double, fs0: Fs)

  /** Self time: a span's duration minus the part its children cover
    * (children never overlap: one client thread). */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - children.map(_.ms).sum

  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    for ((s, e) <- iv.sortBy(_._1)) {
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

/** Spans of the single client thread, kept in memory: each has a
  * parent (the span open when it started) and the unit of work it
  * belongs to. Off, a span costs one branch. */
class SpanRecorder {
  import Trace._

  private val nanoAnchor = System.nanoTime()
  private val epochAnchor = System.currentTimeMillis().toDouble
  def nowMs: Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Open] = Nil
  private var nextId = 0
  /** (time, innermost open span) at every span boundary. */
  private val timeline = ArrayBuffer.empty[(Double, Int)]
  protected var on = false

  def enabled: Boolean = on

  /** A span around `body`; `unit` >= 0 opens a unit-of-work root. */
  def span[A](name: String, unit: Int = -1)(body: => A): A = if (!on) body else {
    val parent = stack.headOption
    val o = Open(nextId, name, parent.map(_.id).getOrElse(-1),
      if (unit >= 0) unit else parent.map(_.unit).getOrElse(-1), nowMs, fsNow())
    nextId += 1
    stack = o :: stack
    timeline += ((o.startMs, o.id))
    try body
    finally {
      val end = nowMs
      spans += Span(o.id, o.name, o.parent, o.unit, o.startMs, end, fsNow() - o.fs0)
      stack = stack.tail
      timeline += ((end, stack.headOption.map(_.id).getOrElse(-1)))
    }
  }


  /** The innermost span open at epoch time `t`, or -1. */
  def spanAt(t: Double): Int = {
    var lo = 0; var hi = timeline.size - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (timeline(mid)._1 <= t) { ans = timeline(mid)._2; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

}

/** The traced run's recorder: [[SpanRecorder]] plus the listeners the
  * benchmark registers, and the per-layer report. */
final class Tracer(spark: SparkSession) extends SpanRecorder {
  import Trace._

  val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  var persistedPeak = 0
  var storagePeak = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = Job(e.jobId, e.time, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(j =>
        j.synchronized { j.stagesDone += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
           if e.taskMetrics != null) {
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          j.executorRunMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases.add(Phase(start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add(Progress(start, d("triggerExecution"), d("addBatch"),
        d("walCommit"), d("queryPlanning"), p.numInputRows))
    }
  }

  def start(): Unit = if (!on) {
    on = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Pin accounting from outside the program, after each operation. */
  def checkPins(): Unit = if (on) {
    val sc = spark.sparkContext
    persistedPeak = math.max(persistedPeak, sc.getPersistentRDDs.size)
    storagePeak = math.max(storagePeak,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Per-layer figures over the traced units of work; `units` maps each
    * traced unit to its wall time. */
  def report(units: Map[Int, Double], cores: Int): Map[String, Double] = {
    val all = spans.toIndexedSeq
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    def unitOf(spanId: Int): Int = byId.get(spanId).map(_.unit).getOrElse(-1)
    val traced = units.keySet
    val n = math.max(1, traced.size).toDouble
    val jsAll = jobs.values.toIndexedSeq.map(j => j -> spanAt(j.startMs.toDouble))
    val js = jsAll.filter { case (_, sid) => traced(unitOf(sid)) }
    val jobsBySpan = js.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val ph = phases.toArray(Array.empty[Phase]).toIndexedSeq
      .map(p => p -> spanAt(p.startMs.toDouble)).filter(x => traced(unitOf(x._2)))
    val pr = progress.toArray(Array.empty[Progress]).toIndexedSeq
      .map(p => p -> spanAt(p.startMs.toDouble))
      .filter(x => traced(unitOf(x._2)) && x._1.rows > 0).map(_._1)

    val inUnits = all.filter(s => traced(s.unit))
    def self(s: Span) = selfMs(s, children.getOrElse(s.id, Nil))
    def sparkMs(s: Span): Double = math.max(0.0, math.min(self(s), unionMs(
      jobsBySpan.getOrElse(s.id, Nil).map(j =>
        (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))
        .filter(iv => iv._2 > iv._1))))
    val layerSelf = inUnits.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s) - sparkMs(s)).sum / n }
    val sparkSelf = inUnits.map(sparkMs).sum / n

    def jsum(f: Job => Long): Double = js.map(x => f(x._1)).sum / n
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Metrics.median(xs)
    // named operations: spans in traced units, else set-up spans
    val named = all.groupBy(_.name).map { case (k, v) =>
      val inUnit = v.filter(s => traced(s.unit))
      k -> med((if (inUnit.nonEmpty) inUnit else v).map(_.ms))
    }
    val unitSpans = inUnits.filter(s => s.parent == -1 || !byId.contains(s.parent))
    val wallMs = units.values.sum * 1000
    val execMs = jsum(_.executorRunMs)

    // request time not spent with executors busy: planning, per-job
    // scheduling and driver-side work
    def driverShare(spanFilter: Span => Boolean): Double = {
      val ss = inUnits.filter(spanFilter)
      val total = ss.map(_.ms).sum
      val ids = ss.map(_.id).toSet
      val exec = js.filter(x => ids(x._2)).map(_._1.executorRunMs.toDouble).sum
      if (total <= 0) 0.0 else math.max(0.0, 1.0 - exec / cores / total)
    }
    // the batch release: executor task time over wall x cores
    val releaseShare = {
      val rs = all.filter(_.name == "ext.release")
      val ids = rs.map(_.id).toSet
      val ms = rs.map(_.ms).sum
      if (ms <= 0) 0.0
      else jsAll.filter(x => ids(x._2)).map(_._1.executorRunMs.toDouble).sum / (ms * cores)
    }
    val dropSpans = inUnits.filter(_.name == "bench.drop")
    val dropShare = {
      val total = dropSpans.map(_.ms).sum
      if (total <= 0) 0.0 else dropSpans.flatMap(d => children.getOrElse(d.id, Nil))
        .filter(_.layer == "store").map(_.ms).sum / total
    }

    val out = Map(
      "spark.jobs" -> js.size / n,
      "spark.stages" -> jsum(_.stagesDone.toLong),
      "spark.tasks" -> jsum(_.tasks),
      "spark.plan_analysis_ms" -> ph.map(_._1.analysisMs.toDouble).sum / n,
      "spark.plan_optimization_ms" -> ph.map(_._1.optimizationMs.toDouble).sum / n,
      "spark.plan_physical_ms" -> ph.map(_._1.physicalMs.toDouble).sum / n,
      "spark.executor_run_ms" -> execMs,
      "spark.parallel_efficiency" -> (if (wallMs > 0) execMs * n / (wallMs * cores) else 0.0),
      "spark.shuffle_write_bytes" -> jsum(_.shuffleWriteBytes),
      "spark.shuffle_read_bytes" -> jsum(_.shuffleReadBytes),
      "spark.spill_bytes" -> jsum(_.spillBytes),
      "spark.gc_ms" -> jsum(_.gcMs),
      "sources.input_bytes" -> jsum(_.inputBytes),
      "spark.persisted_rdds_left" -> persistedPeak.toDouble,
      "spark.storage_bytes_peak" -> storagePeak.toDouble,
      "streaming.batches" -> pr.size / n,
      "streaming.trigger_ms" -> med(pr.map(_.triggerMs.toDouble)),
      "streaming.add_batch_ms" -> med(pr.map(_.addBatchMs.toDouble)),
      "streaming.wal_commit_ms" -> med(pr.map(_.walCommitMs.toDouble)),
      "streaming.query_planning_ms" -> med(pr.map(_.planningMs.toDouble)),
      "sources.fs_bytes_read" -> unitSpans.map(_.fs.bytesRead.toDouble).sum / n,
      "sources.fs_bytes_written" -> unitSpans.map(_.fs.bytesWritten.toDouble).sum / n,
      "stress.f1_plan_job_share" -> driverShare(s => s.layer == "f1" || s.layer == "operators"),
      "stress.release_executor_share" -> releaseShare,
      "stress.store_action_share" -> dropShare) ++
      named.map { case (k, v) => s"${k}_ms" -> v } ++
      Metrics.Layers.map(l => s"self.${l}_ms" -> (if (l == "spark") sparkSelf
        else layerSelf.getOrElse(l, 0.0)))
    out
  }

  /** The trace file: every span, job, planning phase and streaming
    * batch, with the span each was attributed to, and the per-layer
    * figures. */
  def write(file: java.nio.file.Path, layers: Map[String, Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def n(d: Double) = Metrics.num(d)
    val sb = new StringBuilder("{\n\"spans\": [\n")
    sb ++= spans.map(s => s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "unit": ${s.unit}, "start_ms": ${n(s.startMs)}, "end_ms": ${n(s.endMs)}, "fs_bytes_read": ${s.fs.bytesRead}, "fs_bytes_written": ${s.fs.bytesWritten}}""").mkString(",\n")
    sb ++= "],\n\"jobs\": [\n"
    sb ++= jobs.values.toSeq.sortBy(_.id).map(j => s"""{"id": ${j.id}, "span": ${spanAt(j.startMs.toDouble)}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stagesDone}, "tasks": ${j.tasks}, "executor_run_ms": ${j.executorRunMs}, "gc_ms": ${j.gcMs}, "shuffle_read_bytes": ${j.shuffleReadBytes}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, "spill_bytes": ${j.spillBytes}, "input_bytes": ${j.inputBytes}}""").mkString(",\n")
    sb ++= "],\n\"planning\": [\n"
    sb ++= phases.toArray(Array.empty[Phase]).map(p => s"""{"span": ${spanAt(p.startMs.toDouble)}, "start_ms": ${p.startMs}, "analysis_ms": ${p.analysisMs}, "optimization_ms": ${p.optimizationMs}, "physical_ms": ${p.physicalMs}}""").mkString(",\n")
    sb ++= "],\n\"streaming\": [\n"
    sb ++= progress.toArray(Array.empty[Progress]).map(p => s"""{"span": ${spanAt(p.startMs.toDouble)}, "start_ms": ${p.startMs}, "trigger_ms": ${p.triggerMs}, "add_batch_ms": ${p.addBatchMs}, "wal_commit_ms": ${p.walCommitMs}, "query_planning_ms": ${p.planningMs}, "rows": ${p.rows}}""").mkString(",\n")
    sb ++= "],\n\"layers\": {"
    sb ++= layers.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${n(v)}" }.mkString(", ")
    sb ++= "}\n}\n"
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(file, sb.toString)
  }
}
