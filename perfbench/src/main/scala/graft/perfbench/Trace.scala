package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `trace` is shared by every span of one
  * op (a batch, a query or a table operation); `parent` is 0 at an op's
  * root. Times are `System.nanoTime`. */
final case class Span(id: Long, name: String, trace: Long, parent: Long,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded around the benchmark's calls into the engine's public
  * functions. Off by default (the untraced windows pay one volatile read
  * per call); when on, each span also sets the Spark local property
  * [[Tracer.Prop]] so [[SpanListener]] can charge the jobs the call runs
  * to it. Local properties are inheritable, so jobs a call submits from
  * its own pool threads are charged to the same span. Spans stay in
  * memory until the run writes them out. */
object Tracer {
  val Prop = "perfbench.span"
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val traces = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** The root span of one op: a fresh trace id for everything inside. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else within(name, traces.incrementAndGet())(body)

  /** A layer call inside the current op. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else within(name, stack.get.headOption.map(_._2).getOrElse(traces.incrementAndGet()))(body)

  private def within[T](name: String, trace: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.map(_._1).getOrElse(0L)
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(Prop)
    stack.set((id, trace) :: stack.get)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, trace, parent, t0, System.nanoTime()))
      sc.setLocalProperty(Prop, prev)
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Stage and task counters for the span active when a job started. */
final class SpanCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var schedMs = 0L; var gcMs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  var inputB = 0L; var outputB = 0L
  /** Parquet scans of the documents and embeddings tables in the plans of
    * the SQL executions this span ran. */
  var corpusScans = 0L

  def add(o: SpanCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedMs += o.schedMs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB; outputB += o.outputB
    corpusScans += o.corpusScans
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "sched_delay_s" -> schedMs / 1e3,
    "gc_s" -> gcMs / 1e3, "shuffle_mb" -> (shuffleReadB + shuffleWriteB) / 1048576.0,
    "spill_mb" -> spillB / 1048576.0, "input_mb" -> inputB / 1048576.0,
    "output_mb" -> outputB / 1048576.0, "corpus_scans" -> corpusScans)
}

/** Charges job, stage and task metrics to the span id found in the
  * job's local properties. Jobs started outside any span are charged to
  * span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = TrieMap.empty[Int, Long]
  /** SQL execution id -> corpus scans in its plan, until a job claims it. */
  private val execScans = TrieMap.empty[Long, Long]
  val counts = TrieMap.empty[Long, SpanCounts]

  private def of(span: Long): SpanCounts = counts.getOrElseUpdate(span, new SpanCounts)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execScans.put(s.executionId, SpanListener.CorpusScan.findAllIn(s.physicalPlanDescription).size.toLong)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.Prop).map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    val scans = prop("spark.sql.execution.id").flatMap(id => execScans.remove(id.toLong)).getOrElse(0L)
    val c = of(span)
    c.synchronized { c.jobs += 1; c.corpusScans += scans }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrElse(e.stageInfo.stageId, 0L))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrElse(e.stageId, 0L))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
        c.outputB += m.outputMetrics.bytesWritten
        if (e.taskInfo != null) c.schedMs += math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }
}

object SpanListener {
  /** A file scan of the documents or embeddings table in a formatted plan. */
  val CorpusScan = "Location: [A-Za-z]*FileIndex[^\\n]*/(documents|embeddings)\\.parquet".r
}

/** Folds the recorded spans and their counters into per-name totals:
  * calls, wall seconds, self seconds (wall minus the child spans) and
  * the counters of the jobs each call ran itself. */
object SpanReport {
  def byName(spans: Seq[Span], counts: scala.collection.Map[Long, SpanCounts]): Map[String, Map[String, Any]] = {
    val childSeconds = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (name, ss) =>
      val agg = new SpanCounts
      ss.foreach(s => counts.get(s.id).foreach(agg.add))
      val self = ss.map(s => math.max(0.0, s.seconds - childSeconds.getOrElse(s.id, 0.0))).sum
      name -> (Map[String, Any]("calls" -> ss.size, "wall_s" -> ss.map(_.seconds).sum,
        "self_s" -> self) ++ agg.toMap)
    }
  }

  def lines(spans: Seq[Span], counts: scala.collection.Map[Long, SpanCounts]): Iterator[String] =
    spans.iterator.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "counts" -> counts.get(s.id).map(_.toMap).getOrElse(Map.empty)))
    }
}
