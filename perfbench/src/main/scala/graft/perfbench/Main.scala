package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** A closed-loop workload with one client: staging, a warm-up, then a
  * window of rounds of ops. */
trait Workload {
  /** `--seconds` per measured round: the window holds `--seconds` over
    * this many rounds, at least one. */
  def secondsPerRound: Double
  /** Fixture staging, run once. */
  def stage(): Unit
  /** The warm-up pass or batch, run once after the staging. */
  def warmup(): Unit
  /** One round of ops; each op records its latency and check verdict, and
    * the round's time is the sum of its timed ops. */
  def round(rec: Recorder): Unit
  /** End-of-run numbers (sizes, counts) the metrics need. */
  def finish(): Map[String, Any]
}

/** Benchmark process entry: builds the session, stages the workload,
  * warms up, measures one untraced window (plus one re-run, kept as a
  * record, when the box was contended during it) and, with `--trace 1`,
  * a traced window after it. Writes `result.json` (and `spans.jsonl`
  * when traced) under `--out`; `run.py` turns them into metrics.
  *
  * Set-up time is one clock reading: JVM start to the first timed op.
  *
  * A window is a fixed number of rounds, set by `--seconds`, not a time
  * limit: the JIT is still warming during the first rounds, so a time
  * limit would measure later, faster rounds on a faster commit and let the
  * round count (hence the median's position on the warming curve) flip
  * from run to run. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val input = a("input")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val plant = a.get("plant").contains("1")
    val work = s"$out/work"

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = workload match {
      case "etl_daily" => new EtlDaily(spark, input, work, plant)
      case "queries" => new QueryPasses(spark, input, out)
      case "warehouse_upsert" => new Warehouse(spark, input, work, plant)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val stageS = Timing.seconds(wl.stage())._2
    val warmupS = Timing.seconds(wl.warmup())._2
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val rounds = math.max(1, math.round(seconds / wl.secondsPerRound).toInt)
    val windows = ArrayBuffer.empty[Map[String, Any]]
    var lastWindowS = 0.0
    def window(kind: String): Boolean = {
      val rec = new Recorder
      val m = Proc.mark()
      val gc0 = Proc.gcSeconds()
      val jit0 = Proc.jitSeconds()
      val t0 = System.nanoTime()
      for (r <- 0 until rounds) {
        rec.round = r
        Timing.cpuTicks = 0
        wl.round(rec)
        rec.roundsCpu += Timing.cpuTicks / Timing.TicksPerSecond
      }
      lastWindowS = (System.nanoTime() - t0) / 1e9
      val gcS = Proc.gcSeconds() - gc0
      val jitS = Proc.jitSeconds() - jit0
      val (busy, iowait, steal) = Proc.otherBusySince(m)
      val load1After = Proc.load1()
      val envContended = graft.Bench.envContended(Session.Cores, m.load1, m.load1,
        load1After, m.busy, busy)
      val contended = envContended || busy > ContendedShare
      windows += Map("kind" -> kind, "rounds" -> rec.rounds, "rounds_cpu" -> rec.roundsCpu,
        "ops" -> rec.ops.map { case (k, s, ok, r) => Seq(k, s, ok, r) },
        "failures" -> rec.failures, "extra" -> rec.extra, "gc_s" -> gcS, "jit_s" -> jitS,
        "busy_other" -> busy, "iowait" -> iowait, "steal" -> steal, "load1_before" -> m.load1,
        "load1_after" -> load1After, "busy_before" -> m.busy,
        "env_contended" -> envContended, "contended" -> contended)
      contended
    }
    val contended = window("untraced")
    // VmHWM through set-up and the first window: a re-run or the traced
    // window would otherwise raise it only on the runs that have them
    val peakRssMb = Proc.peakRssMb()
    val elapsedS = (System.currentTimeMillis() - jvmStart) / 1e3
    // the re-run is a record beside the first window: the metrics always
    // come from the first, so the rounds they measure (and their place on
    // the warming curve) never depend on contention
    val rerun = contended && elapsedS + lastWindowS <= RerunBudgetS
    if (rerun) window("untraced_rerun")

    var spanNames = Map.empty[String, Map[String, Any]]
    var storageHwMb = 0L
    if (traced) {
      val listener = new SpanListener
      val storage = new graft.StorageProbe
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.addSparkListener(storage)
      val base = storage.begin()
      Tracer.enabled = true
      window("traced")
      Tracer.enabled = false
      org.apache.spark.graft.Internals.drainListenerBus(spark.sparkContext)
      storageHwMb = storage.read(base)._1
      val spans = Tracer.all
      spanNames = SpanReport.byName(spans, listener.counts)
      val w = new java.io.PrintWriter(s"$out/spans.jsonl", "UTF-8")
      try SpanReport.lines(spans, listener.counts).foreach(w.println) finally w.close()
    }

    val finish = wl.finish()
    Json.write(s"$out/result.json", Map(
      "workload" -> workload, "cores" -> Session.Cores, "seconds" -> seconds,
      "setup_s" -> setupS, "session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmupS,
      "windows" -> windows, "rerun_skipped" -> (contended && !rerun), "finish" -> finish,
      "spans" -> spanNames, "storage_hw_mb" -> storageHwMb,
      "peak_rss_mb" -> peakRssMb, "peak_rss_end_mb" -> Proc.peakRssMb()))
    spark.stop()
  }

  /** A window whose other-process CPU share exceeds this is contended. */
  val ContendedShare = 0.05
  /** A contended window is re-run only when the process is still within
    * this many seconds after the re-run: a benchmark session (every run of
    * every workload) must finish within 3420 s, which cannot absorb a
    * second window on the longer workloads. Otherwise it is only marked. */
  val RerunBudgetS = 40.0
}
