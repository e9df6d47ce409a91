package graft.io

import graft.etl.Normalize.StarSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Staged-path layout and operational sinks — the reference's S3 key
  * router, dead-letter, and log surfaces (SURVEY.md §2.1 S5/S6/S10–S13)
  * re-expressed over a filesystem the Spark way.
  *
  * Reference behaviors:
  *   - stage router raw_data/{to_processed,already_processed,
  *     failed_extraction}: lambda_function.py:232-243
  *   - JSON document sink: lambda_function.py:205-230
  *   - archive after processing: README.md:44
  *   - dead-letter on failure: lambda_function.py:240,312-321
  *   - error/execution logs: lambda_function.py:245-263,279-290
  */
object Stages {
  val ToProcessed = "to_processed"
  val AlreadyProcessed = "already_processed"
  val FailedExtraction = "failed_extraction"

  /** Stage → directory path (S6). Directory-per-stage keeps stage
    * selection a *path* decision (partition-pruned listing), never a
    * full-scan filter. */
  def rawPath(baseDir: String, stage: String): String =
    s"$baseDir/raw_data/$stage"

  def errorLogPath(baseDir: String): String = s"$baseDir/logs/error_logs"
  def executionLogPath(baseDir: String): String = s"$baseDir/logs/execution_logs"
}

object Sinks {

  /** Normalized star-schema sinks ×3 (S8) with the load-time audit
    * column (N6: extracted_at/transformed_at travel with the rows;
    * loaded_at is stamped here, at the warehouse boundary — the
    * reference's third timestamp, README.md:171). Parquet, one
    * directory per table. `loadedAt` is a parameter so tests stay
    * deterministic; production passes `current_timestamp()`.
    *
    * The raw layer is parsed once per call: `star.items` (the shared
    * explode every table derives from) is persisted and materialized
    * in one job before the three writes start, and released when they
    * settle, on success and on failure. Callers need not cache the raw
    * frame themselves. */
  def writeStarSchema(star: StarSchema, baseDir: String, loadedAt: Column): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.withColumn("loaded_at", loadedAt)
        .write.mode(SaveMode.Overwrite).parquet(s"$baseDir/$name")
    // The three table loads are INDEPENDENT jobs over the cached items
    // writing to disjoint directories — submit them from a small pool so
    // each job's task tail back-fills executors the others free (guide
    // §2.6 "overlap independent jobs"; job-level properties are
    // thread-local, so the jobs stay separately labeled). Output bytes
    // are identical to the serial form. Any job's failure propagates
    // (unwrapped) after all three settle — no partial-success masking.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val items = star.items.persist()
    try {
      // three concurrent writes building the cache lazily would contend
      // for the same unbuilt blocks, their tasks holding cores meanwhile
      items.write.format("noop").mode(SaveMode.Overwrite).save()
      val tables = Seq(
        (star.albums, "album_data"),
        (star.artists, "artist_data"),
        (star.songs, "song_data"))
      val futs = tables.map { case (df, name) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = write(df, name)
        })
      }
      // failures settle all three before throwing; an INTERRUPT of the
      // waiting thread instead cancels the remaining jobs and
      // re-asserts the flag, so no write job keeps running detached
      val errs = futs.flatMap(f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
          case e: InterruptedException =>
            futs.foreach(_.cancel(true))
            Thread.currentThread().interrupt()
            Some(e)
        })
      errs.foreach(e => throw e)
    } finally {
      pool.shutdownNow()
      items.unpersist(blocking = false)
    }
  }

  /** JSON document sink (S5). `coalesce(1)` mirrors the reference's
    * one-document-per-extraction layout; callers at real scale pass
    * coalesce = false and let one file per partition stand. */
  def writeJsonDoc(df: DataFrame, path: String, coalesce: Boolean = true): Unit = {
    val out = if (coalesce) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).json(path)
  }

  /** Dead-letter sink (S11): failed payloads land under
    * failed_extraction with the failure reason attached. */
  def writeDeadLetter(df: DataFrame, baseDir: String, reason: String): Unit =
    df.withColumn("error_reason", lit(reason))
      .write.mode(SaveMode.Append)
      .json(Stages.rawPath(baseDir, Stages.FailedExtraction))

  /** Error-log sink (S12): one-row structured error record. */
  def writeErrorLog(spark: SparkSession, baseDir: String,
      runId: String, errorType: String, message: String): Unit = {
    import spark.implicits._
    Seq((runId, errorType, message)).toDF("run_id", "error_type", "error_message")
      .write.mode(SaveMode.Append).json(Stages.errorLogPath(baseDir))
  }

  /** Execution-log sink (S13): one-row success manifest per run. */
  def writeExecutionLog(spark: SparkSession, baseDir: String,
      runId: String, rows: Long, location: String, status: String): Unit = {
    import spark.implicits._
    Seq((runId, rows, location, status)).toDF("run_id", "rows", "location", "status")
      .write.mode(SaveMode.Append).json(Stages.executionLogPath(baseDir))
  }

  /** Archive consumed inputs (S10): move every file under `fromDir` to
    * `toDir` (to_processed → already_processed after a successful
    * transform). Batch-side twin of the streaming reader's
    * `cleanSource=archive`. */
  def archive(spark: SparkSession, fromDir: String, toDir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(fromDir)
    val fs = from.getFileSystem(conf)
    if (!fs.exists(from)) return Seq.empty
    val to = new Path(toDir)
    if (!fs.exists(to)) fs.mkdirs(to)
    val (moved, failed) = fs.listStatus(from).toSeq.filter(_.isFile)
      .partitionMap { st =>
        val dest = new Path(to, st.getPath.getName)
        // rename reports failure via its return value on HDFS/object
        // stores (e.g. destination already exists) — treating it as
        // moved would silently re-process the file next run
        if (fs.rename(st.getPath, dest)) Left(st.getPath.getName)
        else Right(st.getPath.getName)
      }
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"archive failed for ${failed.size} file(s): ${failed.mkString(", ")}")
    moved
  }
}
