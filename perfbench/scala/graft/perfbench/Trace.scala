package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters of one job, or summed over several. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val peakExecMem = new AtomicLong

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "task_ms" -> taskMs.get,
    "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get, "peak_exec_mem" -> peakExecMem.get)
}

/** Task counters per job, with the job group and submission time of
  * each job. The benchmark sets a fresh job group around each traced
  * phase, so jobs a library call runs while it constructs its frame
  * count for that phase. Streaming micro-batches run under their
  * query's run id as job group; a streaming span claims the jobs of its
  * query submitted inside its window. */
final class PhaseListener extends SparkListener {
  /** job id -> (job group, submission wall ms, counters) */
  val jobs = new ConcurrentHashMap[Int, (String, Long, Counters)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    val c = new Counters
    c.jobs.incrementAndGet()
    jobs.put(e.jobId, (g, e.time, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    if (m != null) job.foreach { case (_, _, c) =>
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def all: Seq[(String, Long, Counters)] = jobs.values.asScala.toSeq
}

/** Rows read by parquet scans and rows written by write commands, over
  * every query the session runs. */
final class ScanListener extends QueryExecutionListener {
  val scanned = new AtomicLong
  val written = new AtomicLong

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val all = nodes(qe.executedPlan)
    all.foreach {
      case s: FileSourceScanExec => scanned.addAndGet(metric(s, "numOutputRows"))
      case w: DataWritingCommandExec =>
        written.addAndGet(w.cmd.metrics.get("numOutputRows")
          .map(_.value).getOrElse(0L))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Per micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Map(
        "name" -> Option(p.name).getOrElse(""),
        "input_rows" -> p.numInputRows,
        "query_planning_ms" -> d("queryPlanning"),
        "add_batch_ms" -> d("addBatch"),
        "wal_commit_ms" -> d("walCommit"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }
}

/** One recorded phase of a span. */
final case class Phase(span: String, phase: String, group: String,
                       op: Int, parent: String, startMs: Long,
                       wallNs: Long, stream: Option[String])

/** Span recorder. Every call into a graft module goes through [[call]],
  * which runs it as three phases: construct (the call that returns the
  * frame, including any eager jobs it runs), plan (forcing each frame's
  * executedPlan) and exec (the action). When the current cycle is
  * traced, each phase runs under its own job group and is recorded;
  * otherwise the phases run identically with no group and no record. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  val jobs: Option[PhaseListener] =
    if (enabled) Some(new PhaseListener) else None
  val scans: Option[ScanListener] =
    if (enabled) Some(new ScanListener) else None
  val streams: Option[StreamListener] =
    if (enabled) Some(new StreamListener) else None
  /** streaming query run id -> the stream name spans refer to */
  val streamRuns = new ConcurrentHashMap[String, String]()
  private val seq = new AtomicInteger
  @volatile var active = false
  @volatile var op = -1
  @volatile var parent = ""

  jobs.foreach(spark.sparkContext.addSparkListener)
  scans.foreach(spark.listenerManager.register)
  streams.foreach(spark.streams.addListener)

  def phase[T](span: String, ph: String,
               stream: Option[String] = None)(body: => T): T =
    if (!active) body
    else {
      val g = s"pb-${seq.incrementAndGet()}"
      val sc = spark.sparkContext
      sc.setJobGroup(g, s"graft:$span:$ph", interruptOnCancel = false)
      val wall = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        phases.add(Phase(span, ph, g, op, parent, wall,
          System.nanoTime() - t0, stream))
        sc.clearJobGroup()
      }
    }

  def call[A, R](span: String, stream: Option[String] = None)(
      construct: => A)(frames: A => Seq[DataFrame])(exec: A => R): R = {
    val a = phase(span, "construct")(construct)
    phase(span, "plan")(frames(a).foreach(_.queryExecution.executedPlan))
    phase(span, "exec", stream)(exec(a))
  }

  /** Start a streaming query whose micro-batch jobs belong to stream
    * `name`: micro-batches run under the query's run id as job group. */
  def startStream(name: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = start
    streamRuns.put(q.runId.toString, name)
    q
  }

  /** Wait until the listener bus has delivered every event: the event
    * count must stay unchanged for a quiet period. */
  def drain(): Unit = jobs.foreach { l =>
    var last = -1L
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val now = l.events.get
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  private def sum(cs: Seq[Counters]): Map[String, Any] = {
    val t = new Counters
    cs.foreach { c =>
      t.jobs.addAndGet(c.jobs.get); t.tasks.addAndGet(c.tasks.get)
      t.taskMs.addAndGet(c.taskMs.get); t.gcMs.addAndGet(c.gcMs.get)
      t.shuffleBytes.addAndGet(c.shuffleBytes.get)
      t.spillBytes.addAndGet(c.spillBytes.get)
      t.peakExecMem.accumulateAndGet(c.peakExecMem.get, math.max)
    }
    t.toMap
  }

  /** Per-phase records with their counters, as plain maps. */
  def phaseRecords: Seq[Map[String, Any]] = {
    val all = jobs.get.all
    val byGroup = all.groupBy(_._1)
    phases.asScala.toSeq.map { p =>
      val own = byGroup.getOrElse(p.group, Nil).map(_._3)
      val end = p.startMs + p.wallNs / 1000000 + 1
      val streamed = p.stream.toSeq.flatMap { s =>
        val runIds = streamRuns.asScala.collect { case (r, n) if n == s => r }.toSet
        all.collect {
          case (g, t, c) if runIds(g) && t >= p.startMs && t <= end => c
        }
      }
      Map("span" -> p.span, "phase" -> p.phase, "op" -> p.op,
        "parent" -> p.parent, "start_ms" -> p.startMs,
        "wall_ms" -> p.wallNs / 1e6) ++ sum(own ++ streamed)
    }
  }

  def totals: Map[String, Any] =
    jobs.map(l => sum(l.all.map(_._3))).getOrElse(Map.empty)
}
