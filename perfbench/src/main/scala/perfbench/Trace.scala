package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Epoch nanoseconds at `nanoTime` resolution: spans and Spark listener
  * events (epoch milliseconds) share this one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** One call into a layer. `op` groups the spans of one user operation;
  * `ref` names the engine object the call is about (a query id), so jobs
  * whose plan reads that object's files can be matched to it. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      op: String, ref: String, start: Long, end: Long) {
  def wall: Long = end - start
}

/** Records spans around the benchmark's calls into each layer. Disabled,
  * it only runs the body. Spans stay in memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[A](name: String, layer: String, op: String, ref: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      hint(id)
      val t0 = Clock.now()
      try body
      finally {
        spans.add(Span(id, name, layer, outer.headOption.getOrElse(0L), op, ref, t0, Clock.now()))
        stack.set(outer)
        hint(outer.headOption.getOrElse(0L))
      }
    }

  /** A span observed from outside, such as an async query's run seen by
    * polling; its parent is the caller's open span. */
  def record(name: String, layer: String, op: String, ref: String, start: Long, end: Long): Unit =
    if (enabled && end >= start)
      spans.add(Span(ids.incrementAndGet(), name, layer, stack.get.headOption.getOrElse(0L),
        op, ref, start, end))

  // Jobs launched on this thread (and on the SQL threads that capture its
  // local properties) carry the innermost open span as a hint.
  private def hint(id: Long): Unit =
    sc.foreach(_.setLocalProperty(SpanProperty, if (id == 0L) null else id.toString))

  private val threadTags = new AtomicLong(0)

  /** Runs `body` with a fresh thread tag. A thread the body creates, such
    * as an engine pool's worker, inherits the tag with Spark's local
    * properties and keeps it for life, so its jobs name the worker that
    * launched them. */
  def tagged[A](body: => A): A =
    if (!enabled || sc.isEmpty) body
    else {
      sc.get.setLocalProperty(ThreadProperty, threadTags.incrementAndGet().toString)
      try body finally sc.get.setLocalProperty(ThreadProperty, null)
    }

  /** The innermost span open on this thread, 0 if none. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val ThreadProperty = "perfbench.thread"
}

/** One Spark job and the task metrics of the stages it ran. */
final class JobRec(val id: Int, val start: Long, val group: Option[String],
                   val hint: Option[Long], val execution: Option[Long], val site: String = "",
                   val thread: Option[Long] = None) {
  @volatile var end: Long = start
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong
}

/** Records every job with its group, span hint and SQL execution, and
  * folds task metrics into the job that ran the stage. Lives only in the
  * traced run. With `keepPlans` it keeps each SQL execution's plan text,
  * for matching jobs to the span whose `ref` the plan reads. */
final class JobListener(keepPlans: Boolean) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val executionText = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the result stage is named after the job's call site: "csv at Exporters.scala:63"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val rec = new JobRec(e.jobId, Clock.fromMillis(e.time), prop("spark.jobGroup.id"),
      prop(Tracer.SpanProperty).map(_.toLong), prop("spark.sql.execution.id").map(_.toLong), site,
      prop(Tracer.ThreadProperty).map(_.toLong))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromMillis(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      rec.tasks.incrementAndGet()
      rec.runMs.addAndGet(m.executorRunTime)
      rec.cpuNs.addAndGet(m.executorCpuTime)
      rec.gcMs.addAndGet(m.jvmGCTime)
      rec.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      rec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      rec.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      rec.input.addAndGet(m.inputMetrics.bytesRead)
      rec.output.addAndGet(m.outputMetrics.bytesWritten)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if keepPlans =>
      executionText.put(s.executionId, s.description + "\n" + s.physicalPlanDescription)
    case _ => ()
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Does the SQL execution's plan mention `ref` (a path component)? */
  def executionMentions(execution: Long, ref: String): Boolean =
    Option(executionText.get(execution)).exists(_.contains(ref))
}

/** Assigns each job to the span that launched it. In order of trust:
  *  1. the job group, where the engine sets one (the query service uses
  *     the query id) — matched to the span recorded for that query's run;
  *  2. the span hint the job carries, if the job started inside that span;
  *  3. the SQL execution's plan naming a span's `ref` (a preview or export
  *     reads its query's result files), among spans open at the job start;
  *  4. the innermost span open at the job start, if only one operation
  *     has spans open then — counting only spans of the layer whose source
  *     file launched the job, when the call site names one;
  *  5. for a job launched by a tagged worker thread ([[Tracer.tagged]]),
  *     the span of that worker's latest earlier job, if still open: a
  *     worker runs one export at a time, so an export's schema-inference
  *     job belongs to the export whose result read came just before it.
  * Any other job that overlaps spans of two concurrent operations is left
  * out. */
object Attribution {
  /** Listener times have millisecond resolution. */
  val SlackNs: Long = 1000000L

  /** The layer of each engine source file. */
  val FileLayer: Map[String, String] = Map(
    "Catalog" -> "catalog", "Tables" -> "catalog", "QueryBuilder" -> "query_builder",
    "QueryService" -> "query_service", "ExportService" -> "export", "Exporters" -> "export",
    "Feather" -> "export", "Dedup" -> "batch", "Text" -> "batch", "Relational" -> "batch",
    "QueryDefs" -> "batch", "Ivf" -> "vector", "Quantize" -> "vector", "Similarity" -> "vector",
    "IndexLifecycle" -> "lifecycle")

  private val SiteFile = """ at (\w+)\.scala:""".r.unanchored

  def siteLayer(site: String): Option[String] = site match {
    case SiteFile(file) => FileLayer.get(file)
    case _ => None
  }

  def assign(spans: Seq[Span], jobs: Seq[JobRec],
             mentions: (Long, String) => Boolean): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val runs = spans.filter(_.name == "query_service.run").map(s => s.ref -> s).toMap
    val depth = new scala.collection.mutable.HashMap[Long, Int]()
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(depthOf(_) + 1).getOrElse(0))
    def open(t: Long): Seq[Span] =
      spans.filter(s => s.start - SlackNs <= t && t <= s.end + SlackNs)
    // the deepest of the candidate spans, if all of them belong to one
    // operation; spans of two concurrent operations are ambiguous
    def innermost(c: Seq[Span]): Option[Span] =
      if (c.isEmpty || c.map(_.op).distinct.size > 1) None
      else Some(c.maxBy(s => (depthOf(s), s.start)))
    val direct = jobs.flatMap { j =>
      val byGroup = j.group.flatMap(runs.get)
      lazy val byHint = j.hint.flatMap(byId.get)
        .filter(s => s.start - SlackNs <= j.start && j.start <= s.end + SlackNs)
      lazy val openNow = open(j.start)
      lazy val byRef = j.execution.flatMap { x =>
        innermost(openNow.filter(s => s.ref.nonEmpty && mentions(x, s.ref)))
      }
      lazy val bySite = innermost(siteLayer(j.site).map(l => openNow.filter(_.layer == l))
        .filter(_.nonEmpty).getOrElse(openNow))
      byGroup.orElse(byHint).orElse(byRef).orElse(bySite).map(j.id -> _)
    }.toMap
    val onThread = scala.collection.mutable.HashMap.empty[Long, Span]
    jobs.sortBy(j => (j.start, j.id)).foldLeft(direct) { (got, j) =>
      val s = got.get(j.id).orElse(j.thread.flatMap(onThread.get)
        .filter(s => s.start - SlackNs <= j.start && j.start <= s.end + SlackNs))
      s.foreach(s => j.thread.foreach(onThread(_) = s))
      s.fold(got)(s => got + (j.id -> s))
    }
  }

  /** Wall of `s` minus the part its direct children cover. */
  def selfTime(s: Span, spans: Seq[Span]): Long =
    Intervals.uncovered(s.start, s.end,
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)))

  /** Wall of `s` minus the union of its jobs' intervals. */
  def driverOnly(s: Span, jobIntervals: Seq[(Long, Long)]): Long =
    Intervals.uncovered(s.start, s.end, jobIntervals)
}
