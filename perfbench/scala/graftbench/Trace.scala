package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import scala.jdk.CollectionConverters._

/** One recorded layer call. Times are epoch-relative nanos from
  * [[Trace.now]]; `parent` is 0 for a root span; spans of one request
  * share `req`.
  */
final case class Span(id: Long, parent: Long, req: String, name: String, start: Long, end: Long)

/** In-memory span recorder. When disabled, [[span]] only runs its body. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val origin = System.nanoTime()
  /** Nanos since the recorder was loaded; all harness timestamps use it. */
  def now(): Long = System.nanoTime() - origin

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, inherited) = outer.headOption.getOrElse((0L, ""))
      val r = if (req.nonEmpty) req else inherited
      stack.set((id, r) :: outer)
      val t0 = now()
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, parent, r, name, t0, now()))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Spark-side counts, keyed by job group (the harness sets the request id
  * as the job group of every query it issues) and by streaming batch.
  */
final class SparkCounts extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var bytesRead = 0L; var recordsRead = 0L
  }
  val total = new Acc
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val streamJobs = new AtomicLong(0)

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
  def group(g: String): Option[Acc] = Option(byGroup.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (props.exists(_.getProperty("streaming.sql.batchId") != null)) streamJobs.incrementAndGet()
    total.jobs += 1
    if (g.nonEmpty) {
      acc(g).jobs += 1
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val targets = Seq(total) ++ Option(stageGroup.get(e.stageId)).map(acc)
      targets.foreach { a =>
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Micro-batch progress of every streaming query, in arrival order. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(id: Long, rows: Long, durations: Map[String, Long], endNanos: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, Trace.now()))
  }
}

/** Counts of Dataset actions as the session's execution listener sees them,
  * and the data files written by actions of other sessions than `main` —
  * the streaming sink's micro-batch bodies run on the stream's own session
  * (which inherits this listener when the stream starts).
  */
final class ActionCounts(main: org.apache.spark.sql.SparkSession) extends QueryExecutionListener {
  val ok = new AtomicLong(0)
  val streamWriteFiles = new AtomicLong(0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    ok.incrementAndGet()
    if (qe.sparkSession ne main) qe.executedPlan.foreach {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => streamWriteFiles.addAndGet(m.value))
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
