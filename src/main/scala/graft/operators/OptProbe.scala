package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Optimization-round leg profiler (r19): times the shared staging
  * builders and the multi-commit lifecycle legs INSIDE the slow
  * registry queries, so optimization effort lands on the measured leg
  * instead of the query's total (guide §1: measure first; the bench's
  * per-query cold number cannot say which of a lifecycle's ~10 actions
  * is the expensive one).
  *
  * Lives in `graft.operators` to reach the private[operators] staging
  * builders the cold samples rebuild. Output: one `leg<TAB>seconds`
  * line per leg on stdout. Not part of the driver contract.
  */
object OptProbe {
  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"$name%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }
  private def mat(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val what = sys.env.getOrElse("SPARK_GRAFT_PROBE", "staging")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.io.TempDirs.scratch("graft-warehouse"))
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // keep the probe's AQE coalescing in lockstep with Bench (r19
      // ADVICE: probe timings must reflect the bench's actual
      // post-shuffle partition sizing or leg attribution drifts)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // same warmup as Bench: absorb one-time scan/codegen costs so leg
    // times are plan-proportional
    graft.sources.Tables.schemas.keys.foreach { name =>
      try mat(graft.sources.Tables.load(s, dir, name))
      catch { case scala.util.control.NonFatal(_) => () }
    }

    what match {
      case "staging" =>
        timed("tokStaged")(mat(LlmData.tokStaged(s, dir)))
        timed("minhashHashed")(mat(LlmData.minhashHashed(s, dir)))
        timed("decontam-bench+corpus") {
          val (b, c) = LlmData.decontamSides(s, dir); mat(b); mat(c)
        }
        timed("decontamBloom")(LlmData.decontamBloomFor(s, dir))
        timed("trainedCentroids-16")(LlmData.trainedCentroids(s, dir))
        timed("trainedCentroids-corpusK")(
          LlmData.trainedCentroids(s, dir, LlmData.corpusK(s, dir)))
        timed("trainPqCodebook")(Curation.trainPqCodebook(s, dir))
        timed("lmScored")(mat(Shaping.lmScored(s, dir)))
        timed("minhashCandPairs")(
          mat(LlmData.minhashCandPairs(LlmData.minhashHashed(s, dir))))
        timed("simhashComponents")(mat(LlmData.simhashComponents(s, dir)))
        LlmData.clearMemo(s)
        timed("tokStaged-2nd")(mat(LlmData.tokStaged(s, dir)))
        timed("minhashHashed-2nd")(mat(LlmData.minhashHashed(s, dir)))
        timed("lmScored-2nd")(mat(Shaping.lmScored(s, dir)))
      case "q79" =>
        // the q79 lifecycle body, leg by leg (same ops, scratch path)
        val out = graft.io.TempDirs.scratch("graft_probe79_")
        val tbl = s"$out/t"
        val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
        val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        def readT(asOf: Option[Long]) = {
          val r = s.read.format("graft-keyed").option("path", tbl)
            .option("schema", ddl).option("key", "kb")
          asOf.fold(r)(v => r.option("asOf", v.toString)).load()
        }
        timed("stageKeyed") {
          graft.sources.KeyedSource.stageKeyed(s,
            graft.sources.Tables.load(s, dir, "documents")
              .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            tbl, "kb", sortBy = Seq("doc_id"), retain = 8)
        }
        timed("rollupFull->v1") {
          Ivm.rollupFull(readT(Some(1L)), Seq("kb"), Seq("n_chars"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v1")
        }
        s.conf.set("spark.sql.catalog.graftcat",
          classOf[graft.sources.GraftCatalog].getName)
        timed("create-table") {
          s.sql(s"DROP TABLE IF EXISTS graftcat.probe79")
          s.sql(s"CREATE TABLE graftcat.probe79 ($ddl) " +
            s"USING `graft-keyed` LOCATION '$tbl' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
        }
        timed("UPDATE")(
          s.sql("UPDATE graftcat.probe79 SET n_chars = n_chars + 5000 WHERE doc_id % 9 = 1"))
        timed("DELETE")(
          s.sql("DELETE FROM graftcat.probe79 WHERE n_chars >= 5000"))
        timed("append") {
          graft.sources.Tables.load(s, dir, "documents")
            .selectExpr("(doc_id + 4000000) % 16 AS kb",
              "doc_id + 4000000 AS doc_id", "CAST(3 AS BIGINT) AS n_chars")
            .where("doc_id % 40 = 0")
            .write.format("graft-keyed").option("schema", ddl)
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(tbl)
        }
        timed("compact")(
          graft.sources.KeyedCompact.compact(s, tbl, schema, "kb"))
        val head = timed("readCommitLog")(graft.sources.KeyedSource
          .readCommitLog(tbl, s.sessionState.newHadoopConf()).get.head.seq)
        timed("changes+maintain->v2") {
          val changes = s.read.format("graft-keyed").option("path", tbl)
            .option("schema", ddl).option("key", "kb")
            .option("metadata", "changes")
            .option("changesFrom", "1").option("changesTo", head.toString).load()
          Ivm.maintainRollupFull(s.read.parquet(s"$out/v1"), changes,
            readT(Some(head)), Seq("kb"), Seq("n_chars"), Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$out/v2")
        }
        timed("readback")(mat(s.read.parquet(s"$out/v2")))
      case "q46" =>
        val q = graft.SparkEntry.queries("q46_etl_capstone")
        timed("q46-cold")(mat(q(s, dir)))
        timed("q46-warm")(mat(q(s, dir)))
      case "q46legs" =>
        // the lifecycle stage-by-stage on a scratch root, using the
        // SHIPPED envelope builder (r19 ADVICE: the probe's inlined
        // pre-slim copy went stale after the EtlCapstone rewrite)
        import org.apache.spark.sql.functions.{lit, to_timestamp}
        val base = graft.io.TempDirs.scratch("graft-probe46")
        val landing = graft.io.Stages.rawPath(base, graft.io.Stages.ToProcessed)
        val env = timed("envelopes-plan")(EtlCapstone.envelopes(s, dir))
        timed("env-noop")(mat(env))
        timed("env-noop-2nd")(mat(env))
        timed("json-write")(env.write.mode("overwrite").json(landing))
        timed("json-write-2nd")(env.write.mode("overwrite").json(landing))
        val star = graft.etl.Normalize.normalize(graft.etl.Normalize.readRaw(s, landing),
          to_timestamp(lit("2024-01-02 00:00:00")))
        timed("writeStarSchema")(graft.io.Sinks.writeStarSchema(star,
          s"$base/warehouse/g1", to_timestamp(lit("2024-01-03 00:00:00"))))
        timed("readback")(mat(s.read.parquet(s"$base/warehouse/g1/song_data")))
      case "q86legs" =>
        // q86's catalog-MV lifecycle leg by leg (inline mirror of
        // Relational "q86_catalog_mv"; instrument only): which of the
        // serial commits carries the 6.3 s cold.
        val out86 = graft.io.TempDirs.scratch("graft_probe86_")
        val tbl86 = s"$out86/src"
        timed("stageKeyed") {
          graft.sources.KeyedSource.stageKeyed(s,
            graft.sources.Tables.load(s, dir, "documents")
              .selectExpr("doc_id % 16 AS kb", "doc_id", "n_chars"),
            tbl86, "kb", sortBy = Seq("doc_id"), retain = 8)
        }
        s.conf.set("spark.sql.catalog.graftcat",
          classOf[graft.sources.GraftCatalog].getName)
        timed("create-table") {
          s.sql("DROP TABLE IF EXISTS graftcat.probe86")
          s.sql("DROP TABLE IF EXISTS graftcat.probe86_mv")
          s.sql(s"CREATE TABLE graftcat.probe86 (kb BIGINT, doc_id BIGINT, " +
            s"n_chars BIGINT) USING `graft-keyed` LOCATION '$tbl86' " +
            "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
        }
        val cat86 = s.sessionState.catalogManager.catalog("graftcat")
          .asInstanceOf[graft.sources.GraftCatalog]
        import org.apache.spark.sql.connector.catalog.Identifier
        timed("createMV-bootstrap") {
          cat86.createMaterializedView(
            Identifier.of(Array.empty, "probe86_mv"),
            Identifier.of(Array.empty, "probe86"),
            group = "kb", sums = Seq("n_chars"), minMax = Seq("n_chars"),
            viewPath = s"$out86/view")
        }
        timed("UPDATE")(
          s.sql("UPDATE graftcat.probe86 SET n_chars = n_chars + 5000 WHERE doc_id % 9 = 1"))
        timed("DELETE")(
          s.sql("DELETE FROM graftcat.probe86 WHERE n_chars >= 5000"))
        timed("append") {
          graft.sources.Tables.load(s, dir, "documents")
            .selectExpr("(doc_id + 4000000) % 16 AS kb",
              "doc_id + 4000000 AS doc_id", "CAST(3 AS BIGINT) AS n_chars")
            .where("doc_id % 40 = 0")
            .write.format("graft-keyed")
            .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
            .option("key", "kb").option("sortBy", "doc_id")
            .mode("append").save(tbl86)
        }
        timed("compact")(
          graft.sources.KeyedCompact.compact(s, tbl86,
            org.apache.spark.sql.types.StructType.fromDDL(
              "kb BIGINT, doc_id BIGINT, n_chars BIGINT"), "kb"))
        timed("refreshMV")(
          cat86.refreshMaterializedView(Identifier.of(Array.empty, "probe86_mv")))
        timed("read-view")(mat(s.table("graftcat.probe86_mv").orderBy("kb")))
        // the full registered query, cold, for the in-context total
        LlmData.clearMemo(s)
        val q86 = graft.SparkEntry.queries("q86_catalog_mv")
        timed("q86-cold")(mat(q86(s, dir)))
      case "x49legs" =>
        // x49's stages leg by leg (inline mirror of the registered query
        // — tracks LlmData "x49_substring_spans"; instrument only).
        // Adjudicates the r19 32-core regression: which leg pays for
        // core-count fan-out on a KB corpus.
        import org.apache.spark.sql.functions.{col, size, explode, countDistinct, count, lit, coalesce}
        val d0 = timed("tokStaged")(
          { val d = LlmData.tokStaged(s, dir); mat(d); d })
        val d = d0.filter(size(col("tk")) >= 10)
        val g = timed("grams-build+persist") {
          val g = d.select(col("doc_id"),
            explode(graft.functions.Text.gramMd5Native(col("tk"), 10)).as("fp"))
            .persist()
          mat(g); g
        }
        val dup = timed("dup-agg") {
          val dup = g.groupBy("fp")
            .agg(countDistinct(col("doc_id")).as("nd"))
            .filter(col("nd") >= 2 && col("nd") <= LlmData.HotGramDfCap).select("fp")
          mat(dup); dup
        }
        timed("perDoc+final") {
          val perDoc = g.join(dup, Seq("fp"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
          mat(d.select(col("doc_id"), (size(col("tk")) - 9).cast("long").as("n_grams"))
            .join(perDoc, Seq("doc_id"), "left")
            .withColumn("n_dup_grams", coalesce(col("n_dup_grams"), lit(0L)))
            .orderBy("doc_id"))
        }
        LlmData.clearMemo(s)
        val q49 = graft.SparkEntry.queries("x49_substring_spans")
        timed("x49-cold")(mat(q49(s, dir)))
        timed("x49-warm")(mat(q49(s, dir)))
      case "x36legs" =>
        timed("tokStaged")(mat(LlmData.tokStaged(s, dir)))
        timed("simhashPairs")(mat(LlmData.simhashPairs(s, dir)))
        timed("cc-alternating")(mat(Components.connectedComponentsAlternating(
          LlmData.simhashPairs(s, dir), "doc_a", "doc_b")))
      case other =>
        // any registered query, cold then warm, memo cleared before cold
        val q = graft.SparkEntry.queries(other)
        LlmData.clearMemo(s)
        timed(s"$other-cold")(mat(q(s, dir)))
        timed(s"$other-warm")(mat(q(s, dir)))
    }
    s.stop()
  }
}
