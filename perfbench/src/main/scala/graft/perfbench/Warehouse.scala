package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.{GraftCatalog, KeyedCompact, KeyedSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A seeded operation stream against one merge-on-read `graft-keyed`
  * table registered through `GraftCatalog`, with a materialized view
  * over it. One round is one day of the stream: MERGE, UPDATE, DELETE and
  * append commits with point, metadata-aggregate, range and `asOf` reads
  * between them, a compaction and a view refresh every day.
  * Every read, and the view after each refresh, is compared with an
  * in-memory reference model (id -> row) kept beside the table. */
final class Warehouse(spark: SparkSession, input: String, work: String, plant: Boolean)
    extends Workload {
  import Warehouse._

  private val spec: JsonNode = new ObjectMapper().readTree(new File(s"$input/ops.json"))
  private val buckets = spec.get("buckets").asInt
  private val schedule: IndexedSeq[Seq[JsonNode]] =
    spec.get("days").elements().asScala.map(_.elements().asScala.toSeq).toIndexedSeq

  spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[GraftCatalog].getName)
  private lazy val catalog = spark.sessionState.catalogManager.catalog(Catalog)
    .asInstanceOf[GraftCatalog]

  /** id -> (v, day); the key column is id % buckets. */
  private val model = mutable.LongMap.empty[(Long, Long)]
  /** commit seq -> (live rows, sum of v) of that snapshot. */
  private val snapshots = mutable.TreeMap.empty[Long, (Long, Long)]

  private val path = s"$work/warehouse/t"
  private val table = "wh"
  private val view = "wh_mv"
  private var day = 0
  /** Three days at the benchmark's run length, though a day takes ~6 s:
    * the time a day's ops take still falls ~30% from one day to the next
    * after the warm-up day (JIT), and a one-day window read both that slope
    * and any burst of host load in full. The median of three days is the
    * middle day. */
  val secondsPerRound = 1.3

  private def rows(df: DataFrame): Map[Long, (Long, Long)] =
    df.select("id", "v", "day").collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def stage(): Unit = {
    KeyedSource.stageKeyed(spark,
      spark.read.parquet(s"$input/base.parquet"), path, "kb", sortBy = Seq("id"), retain = Retain)
    spark.sql(s"CREATE TABLE $Catalog.$table ($Ddl) USING `graft-keyed` LOCATION '$path' " +
      s"TBLPROPERTIES('key'='kb','sortBy'='id','retain'='$Retain','dmlMode'='mor')")
    catalog.createMaterializedView(Identifier.of(Array.empty, view),
      Identifier.of(Array.empty, table), group = "kb", sums = Seq("v"), minMax = Seq("v"),
      viewPath = s"$work/warehouse/mv")
    spark.table(s"$Catalog.$table").write.format("noop").mode("overwrite").save()
    model ++= rows(spark.read.parquet(s"$input/base.parquet"))
    if (plant) model.keysIterator.take(1).foreach(k => model(k) = (model(k)._1 + 1, model(k)._2))
    snapshot()
  }

  /** One day of the stream, unrecorded. */
  def warmup(): Unit = round(new Recorder)

  private def headSeq(): Long =
    KeyedSource.readCommitLog(path, spark.sessionState.newHadoopConf()).get.head.seq

  private def snapshot(): Unit = snapshots(headSeq()) = (model.size.toLong, model.valuesIterator.map(_._1).sum)

  private def perKey: Map[Long, (Long, Long, Long, Long)] =
    model.toSeq.groupBy { case (id, _) => id % buckets }.map { case (kb, rs) =>
      val vs = rs.map(_._2._1)
      kb -> ((vs.size.toLong, vs.sum, vs.min, vs.max))
    }

  /** Every file under the table directory, with its size. */
  private def files(): Map[String, Long] = {
    val fs = Files.walk(new File(path).toPath)
    try fs.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
    finally fs.close()
  }

  private def tableBytes(): Long = files().values.sum

  private def dataFiles(): Long = {
    val fs = Files.walk(new File(path).toPath)
    try fs.iterator().asScala.count(p => Files.isRegularFile(p) &&
      p.getParent.getFileName.toString.startsWith("k=") &&
      !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith(".")).toLong
    finally fs.close()
  }

  def round(rec: Recorder): Unit = {
    require(day < schedule.size, s"the op stream has ${schedule.size} days; generate more")
    val ops = schedule(day)
    day += 1
    var timed = 0.0
    ops.foreach { op =>
      val kind = op.get("op").asText
      val s = if (Writes.contains(kind)) write(rec, kind, op) else read(rec, kind, op)
      timed += s
    }
    rec.rounds += timed
    def add(k: String, v: Double): Unit =
      rec.extra(k) = rec.extra.getOrElse(k, Seq.empty[Double]).asInstanceOf[Seq[Double]] :+ v
    add("space_amp", tableBytes().toDouble / (model.size * LogicalRowBytes))
    add("files_per_key", dataFiles().toDouble / buckets)
  }

  private def count(rec: Recorder, k: String, v: Double): Unit =
    rec.extra(k) = rec.extra.getOrElse(k, 0.0).asInstanceOf[Double] + v

  private def write(rec: Recorder, kind: String, op: JsonNode): Double = {
    val before = files()
    val (changed, s) = kind match {
      case "merge" =>
        val src = spark.read.parquet(s"$input/${op.get("file").asText}")
        src.createOrReplaceTempView("wh_merge_src")
        val incoming = rows(src)
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("keyed.merge")(spark.sql(
          s"""MERGE INTO $Catalog.$table AS t USING wh_merge_src AS s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET v = s.v, day = s.day
             |WHEN NOT MATCHED THEN INSERT (kb, id, v, day) VALUES (s.kb, s.id, s.v, s.day)
             |""".stripMargin))))
        incoming.foreach { case (k, v) => model(k) = v }
        (incoming.size.toLong, s)
      case "update" =>
        val (m, rem, add) = (op.get("mod").asLong, op.get("rem").asLong, op.get("add").asLong)
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("keyed.update")(spark.sql(
          s"UPDATE $Catalog.$table SET v = v + $add WHERE id % $m = $rem"))))
        val hit = model.keys.filter(_ % m == rem).toSeq
        hit.foreach(k => model(k) = (model(k)._1 + add, model(k)._2))
        (hit.size.toLong, s)
      case "delete" =>
        val (m, rem) = (op.get("mod").asLong, op.get("rem").asLong)
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("keyed.delete")(spark.sql(
          s"DELETE FROM $Catalog.$table WHERE id % $m = $rem"))))
        val hit = model.keys.filter(_ % m == rem).toSeq
        hit.foreach(model.remove)
        (hit.size.toLong, s)
      case "append" =>
        val src = spark.read.parquet(s"$input/${op.get("file").asText}")
        val incoming = rows(src)
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("keyed.append")(
          src.write.format("graft-keyed").option("schema", Ddl).option("key", "kb")
            .option("sortBy", "id").option("retain", Retain.toString)
            .mode("append").save(path))))
        incoming.foreach { case (k, v) => model(k) = v }
        (incoming.size.toLong, s)
      case "compact" =>
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("keyed.compact")(
          KeyedCompact.compact(spark, path, StructType.fromDDL(Ddl), "kb"))))
        (0L, s)
      case "refresh" =>
        val (_, s) = Timing.seconds(Tracer.op(kind)(Tracer.span("mv.refresh")(
          catalog.refreshMaterializedView(Identifier.of(Array.empty, view)))))
        (0L, s)
    }
    val written = files().collect { case (f, b) if !before.contains(f) => b }.sum
    if (kind == "refresh") {
      val got = spark.table(s"$Catalog.$view").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val want = perKey
      rec.op(kind, s, got == want, s"view differs from the model on ${diffKeys(got, want)}")
    } else {
      snapshot()
      rec.op(kind, s, ok = true)
    }
    if (kind == "compact") count(rec, "compact_written_bytes", written.toDouble)
    if (changed > 0) { count(rec, "dml_changed_rows", changed.toDouble); count(rec, "dml_written_bytes", written.toDouble) }
    s
  }

  private def read(rec: Recorder, kind: String, op: JsonNode): Double = {
    val t = s"$Catalog.$table"
    val (df, want): (DataFrame, Set[Row]) = kind match {
      case "point" =>
        val id = op.get("id").asLong
        (spark.sql(s"SELECT v, day FROM $t WHERE kb = ${id % buckets} AND id = $id"),
          model.get(id).map { case (v, d) => Row(v, d) }.toSet)
      case "agg" =>
        (spark.sql(s"SELECT kb, count(*), sum(v), min(v), max(v) FROM $t GROUP BY kb"),
          perKey.map { case (kb, (n, sm, mn, mx)) => Row(kb, n, sm, mn, mx) }.toSet)
      case "range" =>
        val (lo, hi) = (op.get("lo").asLong, op.get("hi").asLong)
        val in = model.valuesIterator.map(_._1).filter(v => v >= lo && v <= hi).toSeq
        (spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $t WHERE v BETWEEN $lo AND $hi"),
          Set(Row(in.size.toLong, in.sum)))
      case "asof" =>
        val seqs = snapshots.keys.toIndexedSeq
        val seq = seqs(math.max(0, seqs.size - 1 - op.get("back").asInt))
        val (n, sm) = snapshots(seq)
        (spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $t VERSION AS OF $seq"),
          Set(Row(n, sm)))
    }
    val (got, s) = Timing.seconds(Tracer.op(kind)(Tracer.span(s"keyed.${kind}_read")(df.collect())))
    val ok = got.length == want.size && got.toSet == want
    rec.op(s"read_$kind", s, ok, s"got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
    val plan = df.queryExecution.executedPlan.toString
    if (kind == "agg") {
      count(rec, "agg_reads", 1)
      if (plan.contains("GraftKeyedStats")) count(rec, "agg_stats_answered", 1)
    }
    if (kind == "range") {
      count(rec, "range_reads", 1)
      count(rec, "range_dirs_planned", buckets)
      count(rec, "range_dirs_skipped", "skipped=(\\d+)".r.findFirstMatchIn(plan).map(_.group(1).toDouble).getOrElse(0.0))
    }
    s
  }

  private def diffKeys(a: Map[Long, _], b: Map[Long, _]): String =
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).toSeq.sorted.take(5).mkString("kb ", ",", "")

  def finish(): Map[String, Any] = Map("days_run" -> day, "rows" -> model.size,
    "table_bytes" -> tableBytes(), "buckets" -> buckets)
}

object Warehouse {
  val Catalog = "benchcat"
  val Ddl = "kb BIGINT, id BIGINT, v BIGINT, day BIGINT"
  val Retain = 8
  /** Logical size of one live row: four BIGINT columns. */
  val LogicalRowBytes = 32.0
  val Writes = Set("merge", "update", "delete", "append", "compact", "refresh")
}
