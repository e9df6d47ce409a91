package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One Spark session per benchmark process, configured like the
  * engine's own Bench and test sessions, with every scratch directory
  * under the benchmark's work directory. */
object Session {
  val Cores = 4

  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JSON for the harness's output files. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

/** Process-level probes: peak resident memory, and box contention over a
  * measurement window computed the way `graft.Bench` computes
  * `busy_during` (other processes' CPU share, own ticks and iowait
  * excluded) plus the load1/busy samples `Bench.envContended` takes. */
object Proc {
  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** Seconds this JVM has spent in garbage collection so far. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Seconds the JIT compilers have spent compiling so far. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** /proc/stat aggregate: (total, idle, iowait, steal) ticks. */
  def statTicks(): (Long, Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
    (f.sum, f(3), if (f.length > 4) f(4) else 0L, if (f.length > 7) f(7) else 0L)
  }

  /** utime + stime of this process, in the same ticks as /proc/stat. */
  def selfTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val line = try src.mkString finally src.close()
    val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  }

  /** Other processes' CPU share over a short gap sample. */
  def gapBusy(windowMs: Int = 100): Double = {
    val m = Mark(statTicks(), selfTicks(), -1.0, -1.0)
    Thread.sleep(windowMs.toLong)
    otherBusySince(m)._1
  }

  final case class Mark(stat: (Long, Long, Long, Long), self: Long, load1: Double, busy: Double)

  def mark(): Mark =
    try {
      val busy = gapBusy()
      Mark(statTicks(), selfTicks(), load1(), busy)
    }
    catch { case NonFatal(_) => Mark((-1L, -1L, -1L, -1L), -1L, -1.0, -1.0) }

  /** (other-process busy share, iowait share, steal share) since `m`.
    * Steal (the hypervisor running other guests) is part of the busy
    * share, as in `graft.Bench`, and also reported on its own. */
  def otherBusySince(m: Mark): (Double, Double, Double) =
    try {
      if (m.self < 0) (-1.0, -1.0, -1.0)
      else {
        val (t1, i1, w1, s1) = statTicks()
        val dt = t1 - m.stat._1
        if (dt <= 0) (-1.0, -1.0, -1.0)
        else {
          val other = (dt - (i1 - m.stat._2) - (w1 - m.stat._3)) - (selfTicks() - m.self)
          (math.max(0.0, other.toDouble / dt), math.max(0.0, (w1 - m.stat._3).toDouble / dt),
            math.max(0.0, (s1 - m.stat._4).toDouble / dt))
        }
      }
    } catch { case NonFatal(_) => (-1.0, -1.0, -1.0) }
}

/** Samples of one measurement window: op latencies (with their check
  * verdict and round number) and round durations. */
final class Recorder {
  /** The round the next ops belong to; set by the window loop. */
  var round = 0
  val ops = ArrayBuffer.empty[(String, Double, Boolean, Int)]
  val rounds = ArrayBuffer.empty[Double]
  /** CPU seconds of each round's timed ops. */
  val roundsCpu = ArrayBuffer.empty[Double]
  val failures = ArrayBuffer.empty[String]
  /** Named numbers a workload reports beside the samples. */
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def op(kind: String, seconds: Double, ok: Boolean, why: => String = ""): Unit = {
    ops += ((kind, seconds, ok, round))
    if (!ok && failures.size < 20) failures += s"$kind: $why"
  }

}

object Timing {
  /** CPU ticks this process spent inside [[seconds]] since the last reset:
    * the work of the timed ops, on every thread (tasks, JIT, GC), which
    * other processes and hypervisor steal do not inflate the way they
    * inflate wall time. */
  @volatile var cpuTicks = 0L

  def seconds[T](body: => T): (T, Double) = {
    val c0 = Proc.selfTicks()
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    cpuTicks += Proc.selfTicks() - c0
    (r, s)
  }

  /** Clock ticks per second of /proc's utime and stime. */
  val TicksPerSecond = 100.0
}
