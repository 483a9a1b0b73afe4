package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's span recorder. Tracing is switched on per operation:
  * every other operation of each kind, starting with its first, runs
  * with the listeners attached and the rest without, so every kind is
  * traced however few times it runs and `trace.overhead_frac` compares
  * like with like inside one run.
  *
  * For a traced operation the listener bus is drained before the
  * listeners attach and after the operation returns, so every event seen
  * belongs to that operation (operations run one at a time). Jobs the
  * client thread submits carry the operation id as their job group;
  * streaming micro-batch jobs run under their query's own group and are
  * attributed by that window alone. Spans stay in memory until [[write]].
  *
  * Spans recorded per operation: the operation itself (client-side wall
  * time), its Spark jobs (SparkListener), its plan phases and lance scans
  * (QueryExecutionListener over the executed plans) and its streaming
  * batches (StreamingQueryListener progress). Self time of a layer = its
  * span minus the time its child spans cover.
  */
final class Tracer(spark: SparkSession, watched: () => Seq[File]) extends OpHooks {
  import Tracer._

  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[AnyRef]()
  private val seen = mutable.Map[String, Int]().withDefaultValue(0)
  private var tracedNow = false
  private var startMs = 0L
  private var gcBefore = 0L
  private var commitsBefore = 0L
  private var filesBefore: Map[String, Long] = Map.empty

  val spans = mutable.ArrayBuffer[OpSpan]()
  val untraced = mutable.ArrayBuffer[OpResult]()

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
  }
  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      events.add(PlanEvent.of(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.add(PlanEvent.of(qe))
  }
  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(StreamEvent(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Trace every one-off operation (the build) and every other loop
    * operation of each kind. */
  override def before(op: Op, always: Boolean): Unit = {
    tracedNow = always || seen(op.kind) % 2 == 0
    if (!always) seen(op.kind) += 1
    if (tracedNow) {
      org.apache.spark.PerfbenchBus.drain(sc)
      events.clear()
      sc.addSparkListener(Jobs)
      spark.listenerManager.register(Plans)
      spark.streams.addListener(Streams)
      filesBefore = fileSizes(watched())
      commitsBefore = graft.BenchProbe.lanceCommits.get
      gcBefore = gcMs()
    }
    sc.setJobGroup(op.id, op.kind, interruptOnCancel = false)
    startMs = System.currentTimeMillis()
  }

  override def after(op: Op, r: OpResult): Unit = {
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    if (!tracedNow) { untraced += r; return }
    val gc = gcMs() - gcBefore
    val commits = graft.BenchProbe.lanceCommits.get - commitsBefore
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
    val filesAfter = fileSizes(watched())
    val fresh = filesAfter.filter { case (p, _) => !filesBefore.contains(p) }
    val (manifests, data) = fresh.partition(_._1.contains("/_versions/"))
    spans += OpSpan(r, startMs, endMs, gc, commits, data.size, data.values.sum,
      manifests.values.sum, drainEvents())
  }

  private def drainEvents(): Seq[AnyRef] = {
    val b = Seq.newBuilder[AnyRef]
    var e = events.poll()
    while (e != null) { b += e; e = events.poll() }
    b.result()
  }

  /** Write every span (one JSON object per operation) to `file`. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    Gen.writeLines(file.toPath, spans.iterator.map(_.json))
  }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** (path -> bytes) of every regular file under the given roots. */
  def fileSizes(roots: Seq[File]): Map[String, Long] =
    roots.filter(_.exists).flatMap { root =>
      Gen.filesUnder(root).map { rel =>
        val f = new File(root, rel); f.getPath -> f.length
      }
    }.toMap

  /** Planning time and the lance scans of one executed query.
    * `bytesRead` is the on-disk size of the fragments its lance scans
    * read, as each scan reports it through `SupportsReportStatistics`
    * (after pruning and runtime filtering; the lance reader reports no
    * Hadoop input bytes). */
  final case class PlanEvent(planMs: Long, fragmentsRead: Long, fragmentsTotal: Long,
                             bytesRead: Long, statsAnswered: Int)

  object PlanEvent extends AdaptiveSparkPlanHelper {
    private val Fragments = "fragments=(\\d+)/(\\d+)".r

    def of(qe: QueryExecution): PlanEvent = {
      val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val scans =
        try collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b.scan }
        catch { case scala.util.control.NonFatal(_) => Seq.empty }
      val lance = scans.filter(_.description().startsWith("LanceScan"))
      val frags = lance.flatMap(s => Fragments.findFirstMatchIn(s.description()))
      val bytes = lance.collect { case s: SupportsReportStatistics =>
        val b = s.estimateStatistics().sizeInBytes()
        if (b.isPresent) b.getAsLong else 0L
      }
      PlanEvent(planMs, frags.map(_.group(1).toLong).sum, frags.map(_.group(2).toLong).sum,
        bytes.sum, scans.count(_.description().startsWith("LanceStatsScan")))
    }
  }

  /** One streaming batch's phase timings (`StreamingQueryProgress.durationMs`). */
  final case class StreamEvent(durationMs: Map[String, Long])

  /** One traced operation and the child events recorded while it ran. */
  final case class OpSpan(op: OpResult, startMs: Long, endMs: Long, gcMs: Long,
                          commits: Long, writeFiles: Long, writeBytes: Long,
                          manifestBytes: Long, events: Seq[AnyRef]) {
    def jobs: Seq[(Int, Long, Long)] = {
      val ends = events.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
      events.collect { case s: SparkListenerJobStart => (s.jobId, s.time, ends.getOrElse(s.jobId, s.time)) }
    }
    def tasks: Seq[SparkListenerTaskEnd] = events.collect { case t: SparkListenerTaskEnd => t }
    def plans: Seq[PlanEvent] = events.collect { case p: PlanEvent => p }
    def streams: Seq[StreamEvent] = events.collect { case s: StreamEvent => s }

    /** Op wall time covered by at least one of its jobs (interval union). */
    def jobCoveredMs: Long = {
      val iv = jobs.map { case (_, s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered + (curE - curS)
    }

    def selfMs: Double = math.max(0.0, op.ms - jobCoveredMs)

    def taskMetric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      tasks.flatMap(t => Option(t.taskMetrics)).map(f).sum

    def json: String = {
      val jobsJson = jobs.map { case (id, s, e) => s"""{"job":$id,"start_ms":$s,"end_ms":$e}""" }
      s"""{"op":"${op.id}","kind":"${op.kind}","start_ms":$startMs,"end_ms":$endMs,""" +
        s""""ms":${op.ms},"ok":${op.ok},"jobs":${jobsJson.mkString("[", ",", "]")},""" +
        s""""tasks":${tasks.size},"plan_ms":${plans.map(_.planMs).sum},""" +
        s""""commits":$commits,"stream_batches":${streams.size}}"""
    }
  }
}
