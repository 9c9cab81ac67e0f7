package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer. `phase` is "build" for the call itself
  * and "exec" for the action run on the DataFrame the call returned.
  * Times are nanoseconds on the tracer's clock.
  */
final case class Span(id: Int, layer: String, phase: String, parent: Int,
    op: Int, start: Long, end: Long) {
  def nanos: Long = end - start
}

object Span {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.nanos - covered)
    }.toMap
  }
}

/** Records spans around the benchmark's calls into the engine. Spans are
  * kept in memory until the run ends. `onEnter` is told the id of the
  * span that becomes innermost (or None when the outermost one closes);
  * the run uses it to tag Spark jobs with the span that submitted them.
  */
final class Tracer(clock: () => Long = () => System.nanoTime(),
    onEnter: Option[Int] => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  def spans: Seq[Span] = done.toSeq

  /** Starts a new op; spans opened from here on carry its id. */
  def beginOp(): Int = { op += 1; op }

  def span[T](layer: String, phase: String = "build")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    onEnter(Some(id))
    val start = clock()
    try body
    finally {
      val end = clock()
      stack = stack.tail
      onEnter(stack.headOption)
      done += Span(id, layer, phase, parent, op, start, end)
    }
  }
}

object Tracer {
  /** Local property that carries the innermost span id into each job. */
  val SpanKey = "perfbench.span"

  /** Span id that untraced ops carry in [[SpanKey]], so that a listener
    * can count their jobs beside a traced pass's.
    */
  val UntracedOp: Int = -2

  /** A tracer whose spans tag the jobs the calling thread submits. */
  def forSpark(sc: SparkContext): Tracer =
    new Tracer(onEnter = id => sc.setLocalProperty(SpanKey, id.map(_.toString).orNull))
}

/** Spark work charged to one span. Only the innermost span active when a
  * job is submitted is charged, so these are self counts.
  */
final class SparkCounts {
  var jobs = 0L
  /** Jobs that are Lanczos steps of MLlib's distributed SVD. */
  var solverJobs = 0L
  var tasks = 0L
  var taskNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; solverJobs += o.solverJobs; tasks += o.tasks; taskNanos += o.taskNanos
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Charges jobs, tasks, executor time, shuffle and spill to the span whose
  * id the submitting thread carried in [[Tracer.SpanKey]]; work with no
  * span is charged to id -1. Read [[counts]] only after draining the
  * listener bus ([[org.apache.spark.perfbench.ListenerBusAccess]]).
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, SparkCounts]

  def counts: Map[Int, SparkCounts] = synchronized(bySpan.toMap)

  private def of(span: Int) = bySpan.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val c = of(span)
    c.jobs += 1
    if (e.stageInfos.exists(_.name.startsWith(SpanListener.SolverCallSite))) c.solverJobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNanos += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object SpanListener {
  /** Stage name of one Lanczos step: `RowMatrix.computeSVD` multiplies by
    * the Gramian with one `treeAggregate` job per step.
    */
  val SolverCallSite = "treeAggregate at RowMatrix.scala"
}
