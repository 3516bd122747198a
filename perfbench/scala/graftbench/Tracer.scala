package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds. `parent` is filled in
  * by [[Tracer.link]]: run → op → public call → Spark job → stage.
  */
final case class Span(id: Long, kind: String, name: String, layer: String,
                      startUs: Long, endUs: Long, var parent: Long = -1L) {
  def durUs: Long = endUs - startUs
}

/** One streaming micro-batch, from `StreamingQueryProgress`. */
final case class Progress(queryId: String, batchId: Long, startUs: Long,
                          durationMs: Map[String, Long], inputRows: Long) {
  def triggerMs: Long = durationMs.getOrElse("triggerExecution", 0L)
  def endUs: Long = startUs + triggerMs * 1000
}

/** One Spark job, one completed stage and one query execution, as the
  * listeners saw them.
  */
final case class JobRec(jobId: Int, startUs: Long, module: Option[String],
                        stageIds: Seq[Int], var endUs: Long = -1L)
final case class StageRec(stageId: Int, name: String, startUs: Long, endUs: Long,
                          numTasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          inputBytes: Long, outputBytes: Long, outputRows: Long)
final case class QeRec(atUs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
                       exchanges: Int, broadcasts: Int)

/** Observes the engine from outside: a streaming-progress listener that is
  * always on (the CDC workload's op latencies come from it), and, while
  * [[enabled]], client spans, a `SparkListener`, a `QueryExecutionListener`
  * and the counting Hadoop FS.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  def nowUs: Long = t0Ms * 1000 + (System.nanoTime() - t0Ns) / 1000

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` as a span when tracing is on. */
  def span[T](kind: String, name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = nowUs
      try body finally addSpan(kind, name, layer, s, nowUs)
    }

  def addSpan(kind: String, name: String, layer: String, s: Long, e: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), kind, name, layer, s, e))

  /** Windows in which [[untraced]] ran during the traced pass. */
  private val pauses = new ConcurrentLinkedQueue[(Long, Long)]()
  private def paused(t: Long): Boolean = pauses.asScala.exists { case (s, e) => s <= t && t <= e }

  /** Bytes read and written inside [[untraced]] windows. */
  private var pausedBytes = (0L, 0L)

  /** Runs `body` (the harness's own reads) with tracing off; its Spark
    * jobs, stages and query executions are dropped at [[stop]], and its FS
    * calls and bytes are not counted. Returns the window's length in
    * microseconds, for the pass to leave out of its clock.
    */
  def untraced(body: => Unit): Long = {
    val was = enabled
    if (was) org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val s = nowUs
    val (r0, w0) = fsBytes()
    enabled = false
    FsCounters.on = false
    try body
    finally if (was) {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      pauses.add((s, nowUs))
      val (r1, w1) = fsBytes()
      pausedBytes = (pausedBytes._1 + r1 - r0, pausedBytes._2 + w1 - w0)
      FsCounters.on = true
      enabled = true
    }
    nowUs - s
  }

  // ---------------------------------------------------------- streaming
  val progress = new ConcurrentLinkedQueue[Progress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      progress.add(Progress(p.id.toString, p.batchId,
        start.getEpochSecond * 1000000L + start.getNano / 1000,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  })

  // -------------------------------------------------------------- spark
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()

  /** Module of the first engine frame in a call stack: `graft.<module>.…`. */
  private def moduleOf(callStack: String): Option[String] =
    callStack.split("\n").iterator.map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") && !l.startsWith("graftbench.") =>
        val parts = l.split('.')
        if (parts.length > 2 && parts(1).head.isLower) parts(1) else "contract"
      }
      .map(m => if (m == "functions") "llm" else m)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = e.stageInfos.map(_.details).mkString("\n")
      jobs.put(e.jobId, JobRec(e.jobId, e.time * 1000, moduleOf(details), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.stageId, i.name,
        i.submissionTime.getOrElse(0L) * 1000, i.completionTime.getOrElse(0L) * 1000,
        i.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
          .add(e.taskInfo.duration)
  }

  // ------------------------------------------------------------ catalyst
  val queryExecs = new ConcurrentLinkedQueue[QeRec]()

  private def exchangesOf(plan: SparkPlan): (Int, Int) = {
    var shuffles = 0
    var broadcasts = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => shuffles += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (shuffles, broadcasts)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val (sh, bc) = try exchangesOf(qe.executedPlan) catch { case _: Exception => (0, 0) }
      queryExecs.add(QeRec(nowUs, ms("analysis"), ms("optimization"), ms("planning"), sh, bc))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // --------------------------------------------------------------- fs
  private def fsBytes(): (Long, Long) = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    val (r0, w0) =
      if (st == null) (0L, 0L)
      else (Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L),
        Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L))
    val fc = org.apache.hadoop.fs.local.GraftBenchCountingFs.stats
    if (fc == null) (r0, w0) else (r0 + fc.getBytesRead, w0 + fc.getBytesWritten)
  }
  private var fs0: Map[String, Long] = Map.empty
  private var bytes0 = (0L, 0L)
  var fsDelta: Map[String, Long] = Map.empty

  def start(): Unit = {
    spans.clear(); jobs.clear(); stages.clear(); taskMs.clear(); queryExecs.clear()
    pauses.clear()
    pausedBytes = (0L, 0L)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    FsCounters.on = true
    fs0 = FsCounters.snapshot()
    bytes0 = fsBytes()
    enabled = true
  }

  def stop(): Unit = {
    enabled = false
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    FsCounters.on = false
    val (r, w) = fsBytes()
    fsDelta = FsCounters.snapshot().map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) } ++
      Map("bytes_read" -> (r - bytes0._1 - pausedBytes._1),
        "bytes_written" -> (w - bytes0._2 - pausedBytes._2))
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val dropped = jobs.values.asScala.filter(j => paused(j.startUs)).toSeq
    dropped.foreach(j => jobs.remove(j.jobId))
    val droppedStages = dropped.flatMap(_.stageIds).toSet
    stages.removeIf(st => droppedStages(st.stageId))
    droppedStages.foreach(taskMs.remove(_))
    queryExecs.removeIf(q => paused(q.atUs))
  }

  /** Every span of the pass, Spark jobs and stages included, linked to its
    * parent: the innermost client span (run, op, call) containing its start
    * for client spans and jobs; the owning job for stages. Jobs with no
    * engine frame on their call stack take their enclosing call's layer.
    */
  def link(): Seq[Span] = {
    val client = spans.asScala.toSeq.sortBy(s => (s.startUs, -s.durUs))
    def innermost(t: Long, self: Long): Option[Span] =
      client.filter(c => c.id != self && c.startUs <= t && t <= c.endUs)
        .sortBy(_.durUs).headOption
    client.foreach { s =>
      s.parent = client.filter(c => c.id != s.id && c.startUs <= s.startUs &&
        s.endUs <= c.endUs && c.durUs >= s.durUs && (c.durUs > s.durUs || c.id < s.id))
        .sortBy(_.durUs).headOption.map(_.id).getOrElse(-1L)
    }
    val jobSpans = jobs.values.asScala.toSeq.filter(_.endUs >= 0).sortBy(_.jobId).map { j =>
      val parent = innermost(j.startUs, -1L)
      val layer = j.module.orElse(parent.map(_.layer)).getOrElse("bench")
      Span(nextId.getAndIncrement(), "job", s"job ${j.jobId}", layer, j.startUs, j.endUs,
        parent.map(_.id).getOrElse(-1L))
    }
    val jobIdToSpan = jobs.values.asScala.toSeq.filter(_.endUs >= 0).sortBy(_.jobId)
      .zip(jobSpans).map { case (j, s) => j.jobId -> s.id }.toMap
    val stageToJob = jobs.values.asScala.toSeq.sortBy(_.jobId).reverse
      .flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val stageSpans = stages.asScala.toSeq.map { st =>
      Span(nextId.getAndIncrement(), "stage", st.name, "spark", st.startUs, st.endUs,
        stageToJob.get(st.stageId).flatMap(jobIdToSpan.get).getOrElse(-1L))
    }
    client ++ jobSpans ++ stageSpans
  }
}

/** Interval arithmetic over spans. */
object Intervals {
  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def unionLen(ivs: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part its
    * children cover.
    */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      val self = s.durUs - unionLen(kids, s.startUs, s.endUs)
      acc(s.layer) += math.max(self, 0L) / 1e6
    }
    acc.toMap
  }
}
