package graft.perfbench

import graft.SparkEntry
import graft.operators.LlmData
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}

import scala.jdk.CollectionConverters._

/** The `queries` workload: repeated cold-memo passes over registry
  * queries on one seeded corpus. A pass starts with the staging op: drop
  * the engine's staging memo (`LlmData.clearMemo`) and rebuild the shared
  * LLM-data staging (`LlmData.warmSharedStaging`). Then it runs the report
  * queries and the curation queries, one op per query: build the
  * DataFrame, plan it, collect its rows. The pass time is the sum of its
  * ops; the result digests are taken outside them. The
  * warm-up pass dumps each result as parquet plus `oracle_sql.json` for
  * the DuckDB comparison `run.py` makes; every timed execution must then
  * reproduce the warm-up result's canonical digest. */
final class QueryPasses(spark: SparkSession, sfDir: String, out: String) extends Workload {
  import QueryPasses._

  private val names = reportNames ++ curationNames
  /** One pass at the benchmark's run length: a pass takes ~9 s. */
  val secondsPerRound = 12.0

  private val fns = SparkEntry.queries
  private val expected = scala.collection.mutable.Map.empty[String, String]
  private val resultRows = scala.collection.mutable.Map.empty[String, Long]
  private val layer: Map[String, String] = {
    val rel = (graft.operators.Relational.queries ++ graft.operators.Analytics.queries).keySet
    names.map(n => n -> (if (rel.contains(n)) "relational" else "llmdata")).toMap
  }
  names.foreach(n => require(fns.contains(n), s"query $n is not in SparkEntry.queries"))

  private val inputBytes =
    Tables.schemas.keys.toSeq.map(t => new java.io.File(s"$sfDir/$t.parquet").length).sum
  private var warmS = 0.0

  /** Table warm: every registry table scanned once. */
  def stage(): Unit =
    warmS = Timing.seconds(Tables.schemas.keys.toSeq.sorted.foreach { t =>
      Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    })._2

  def warmup(): Unit = {
    LlmData.clearMemo(spark)
    LlmData.warmSharedStaging(spark, sfDir)
    val dump = s"$out/results"
    names.foreach { n =>
      val df = fns(n)(spark, sfDir)
      val rows = df.collect()
      expected(n) = QueryPasses.digest(rows)
      resultRows(n) = rows.length.toLong
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$n")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$out/oracle_sql.json", oracle)
  }

  def round(rec: Recorder): Unit = {
    val (_, s) = Timing.seconds(Tracer.op("staging") {
      Tracer.span("llmdata.clearMemo")(LlmData.clearMemo(spark))
      Tracer.span("llmdata.warmSharedStaging")(LlmData.warmSharedStaging(spark, sfDir))
    })
    rec.op("staging", s, ok = true)
    var pass = s
    names.foreach { n =>
      val l = layer(n)
      val (rows, s) = Timing.seconds(Tracer.op(n) {
        val df = Tracer.span(s"$l.build")(fns(n)(spark, sfDir))
        Tracer.span("plan.executedPlan")(df.queryExecution.executedPlan)
        Tracer.span(s"$l.exec")(df.collect())
      })
      pass += s
      val d = QueryPasses.digest(rows)
      rec.op(n, s, d == expected(n), s"result digest $d differs from the warm-up result")
    }
    rec.rounds += pass
  }

  def finish(): Map[String, Any] = Map("result_rows" -> resultRows,
    "tables_input_mb" -> inputBytes / 1048576.0, "tables_warm_s" -> warmS)
}

object QueryPasses {
  /** A cross-section of the q01–q45 star-schema report queries: a star
    * join and a multi-dimension join. The whole range does not fit the
    * benchmark's per-run time budget (a warm pass of all 45 takes ~17 s
    * on 4 cores, a cold one ~37 s). */
  val reportNames: Seq[String] = Seq("q01_top10_star_join", "q14_nation_revenue")

  /** Exact dedup, near-dup components, the ANN arms (x35 runs all six:
    * exact, sign-LSH, IVF, PQ/ADC and their reranks), decontamination
    * scrub and vocabulary statistics. The incremental-index arms x74/x75
    * (~2.2 s each per cold pass) are left out for the run time budget. */
  val curationNames: Seq[String] = Seq(
    "x20_exact_dedup_groups", "x36_neardup_components", "x35_ann_recall",
    "x91_decontam_scrub", "x50_bigram_vocab")

  /** Order-insensitive digest of a result: canonical row strings, sorted. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
