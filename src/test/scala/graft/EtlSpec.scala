package graft

import graft.etl.Normalize
import graft.io.{Sinks, Stages}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** End-to-end ETL fixture per FIXTURES.md §B: two raw playlist
  * envelopes exercising the reference's declared validations — dedup,
  * first-artist FK, null-PK drop, release_date granularities, repeated
  * track across files (latest wins), map-access URLs, audit columns.
  */
class EtlSpec extends SparkSpec {

  private def track(id: String, name: String, pop: Int, albumId: String,
      albumName: String, release: String, artists: Seq[(String, String)],
      added: String): String = {
    val idJson = if (id == null) "null" else s""""$id""""
    val artistJson = artists.map { case (aid, aname) =>
      s"""{"id":"$aid","name":"$aname","external_urls":{"spotify":"https://open.spotify.com/artist/$aid"}}"""
    }.mkString("[", ",", "]")
    s"""{"added_at":"$added","track":{"id":$idJson,"name":"$name","duration_ms":200000,
       |"popularity":$pop,"explicit":false,
       |"external_urls":{"spotify":"https://open.spotify.com/track/$id"},
       |"album":{"id":"$albumId","name":"$albumName","release_date":"$release",
       |"total_tracks":10,"album_type":"album","label":"L",
       |"external_urls":{"spotify":"https://open.spotify.com/album/$albumId"}},
       |"artists":$artistJson}}""".stripMargin.replaceAll("\n", "")
  }

  private def envelope(playlistId: String, extractedAt: String, tracks: Seq[String]): String =
    s"""{"playlist_id":"$playlistId","extracted_at":"$extractedAt",
       |"extraction_timestamp":"$extractedAt","total_tracks":${tracks.size},
       |"playlist_info":{"name":"P","description":"d",
       |"owner":{"id":"o","display_name":"O"},"public":true,
       |"followers":{"href":null,"total":5}},
       |"tracks":${tracks.mkString("[", ",", "]")}}""".stripMargin.replaceAll("\n", "")

  private lazy val rawDir: String = {
    val dir = graft.io.TempDirs.scratch("graft-etl-raw")
    val file1 = envelope("PL0000000000000000000001", "2024-01-01T00:00:00", Seq(
      track("T01", "song one", 50, "A1", "album one", "2020-03-05",
        Seq("R1" -> "artist one"), "2023-12-01T00:00:00"),
      track("T02", "song two", 60, "A1", "album one", "2020-03-05",
        Seq("R1" -> "artist one", "R2" -> "artist two"), "2023-12-02T00:00:00"),
      track(null, "ghost", 10, "A2", "album two", "1999",
        Seq("R1" -> "artist one"), "2023-12-03T00:00:00"),
      track("T04", "song four", 70, "A2", "album two", "1999",
        Seq("R2" -> "artist two"), "2023-12-04T00:00:00"),
      track("T06", "ghost artist", 20, "A2", "album two", "1999",
        Seq.empty, "2023-12-05T00:00:00"))) // empty artists[]: real Spotify shape
    val file2 = envelope("PL0000000000000000000001", "2024-01-02T00:00:00", Seq(
      track("T01", "song one", 55, "A1", "album one", "2020-03-05",
        Seq("R1" -> "artist one"), "2023-12-01T00:00:00"), // re-extracted, updated popularity
      track("T05", "song five", 80, "A3", "album three", "2021-07",
        Seq("R3" -> "artist three"), "2024-01-01T12:00:00")))
    Files.writeString(Paths.get(dir, "playlist_1.json"), file1)
    Files.writeString(Paths.get(dir, "playlist_2.json"), file2)
    dir
  }

  private lazy val star =
    Normalize.normalize(Normalize.readRaw(spark, rawDir), transformedAt = lit("2024-01-03T00:00:00").cast("timestamp"))

  test("songs: null PK dropped, dedup latest-wins across files, PK unique") {
    val songs = star.songs.collect().map(r => r.getAs[String]("song_id") -> r).toMap
    assert(songs.keySet == Set("T01", "T02", "T04", "T05", "T06"))
    assert(songs("T01").getAs[Long]("popularity") == 55L) // file2 survivor
    assert(star.songs.count() == star.songs.select("song_id").distinct().count())
  }

  test("empty artists[]: song survives with a null artist FK (no ANSI crash)") {
    val t06 = star.songs.filter(col("song_id") === "T06").collect()(0)
    assert(t06.getAs[String]("artist_id") == null)
  }

  test("first-artist scalar FK and map-access URLs") {
    val t02 = star.songs.filter(col("song_id") === "T02").collect()(0)
    assert(t02.getAs[String]("artist_id") == "R1") // first artist only
    assert(t02.getAs[String]("song_url") == "https://open.spotify.com/track/T02")
  }

  test("albums: struct flatten, release_date granularities preserved, PK unique") {
    val albums = star.albums.collect()
      .map(r => r.getAs[String]("album_id") -> r.getAs[String]("release_date")).toMap
    assert(albums == Map("A1" -> "2020-03-05", "A2" -> "1999", "A3" -> "2021-07"))
  }

  test("artists: full explode (non-FK artists kept), spotify url extracted") {
    val artists = star.artists.collect()
      .map(r => r.getAs[String]("artist_id") -> r.getAs[String]("artist_url")).toMap
    assert(artists.keySet == Set("R1", "R2", "R3"))
    assert(artists("R2") == "https://open.spotify.com/artist/R2")
  }

  test("FK closure: no orphan album/artist references") {
    assert(Normalize.orphans(star.songs, star.albums, "album_id", "album_id").isEmpty)
    assert(Normalize.orphans(star.songs, star.artists, "artist_id", "artist_id").isEmpty)
  }

  test("audit timestamps present and non-null on every table") {
    for (df <- Seq(star.songs, star.albums, star.artists)) {
      assert(df.columns.contains("extracted_at") && df.columns.contains("transformed_at"))
      assert(df.filter(col("extracted_at").isNull || col("transformed_at").isNull).isEmpty)
    }
  }

  test("incremental load: only unseen PKs pass") {
    val first = star.songs.filter(col("song_id").isin("T01", "T02"))
    val delta = Normalize.incremental(star.songs, first, "song_id")
    assert(delta.select("song_id").collect().map(_.getString(0)).toSet ==
      Set("T04", "T05", "T06"))
  }

  test("dedupLatest is idempotent") {
    val once = Normalize.dedupLatest(star.songs, "song_id", Seq("added_at"))
    assert(once.count() == star.songs.count())
  }

  test("reference file format: pretty-printed one-envelope-per-file JSON parses with multiLine") {
    // the reference uploads json.dumps(indent=2) documents — multiline
    // JSON that line-oriented spark.read.json would reject
    val dir = graft.io.TempDirs.scratch("graft-etl-pretty")
    val pretty = envelope("PL0000000000000000000002", "2024-02-01T00:00:00", Seq(
      track("T99", "pretty", 42, "A9", "album nine", "2022",
        Seq("R9" -> "artist nine"), "2024-01-31T00:00:00")))
      .replace("{", "{\n  ").replace(",\"", ",\n  \"")
    Files.writeString(Paths.get(dir, "playlist_pretty.json"), pretty)
    val star2 = Normalize.normalize(
      Normalize.readRaw(spark, dir, multiLine = true),
      transformedAt = lit("2024-02-02T00:00:00").cast("timestamp"))
    assert(star2.songs.select("song_id").collect().map(_.getString(0)).toSeq == Seq("T99"))
    assert(star2.albums.count() == 1 && star2.artists.count() == 1)
  }

  test("CSV interchange round-trip: the reference's table format preserves the star schema") {
    // the reference's transform stage emits CSV per table; parquet is
    // the engine-native layer, CSV the interchange twin — a write/read
    // round-trip with explicit schema must be lossless for these types
    val dir = graft.io.TempDirs.scratch("graft-etl-csv")
    star.songs.write.option("header", "true").mode("overwrite").csv(s"$dir/song_data")
    val back = spark.read.option("header", "true").schema(star.songs.schema)
      .csv(s"$dir/song_data")
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("song_id", "popularity", "album_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(key(back) == key(star.songs))
  }

  test("star-schema sink: three table dirs with the loaded_at audit column") {
    val base = graft.io.TempDirs.scratch("graft-star")
    Sinks.writeStarSchema(star, base, lit("2024-01-04T00:00:00").cast("timestamp"))
    for ((name, expected) <- Seq("album_data" -> star.albums.count(),
        "artist_data" -> star.artists.count(), "song_data" -> star.songs.count())) {
      val df = spark.read.parquet(s"$base/$name")
      assert(df.count() == expected)
      // the full audit trio survives to the warehouse layer
      for (c <- Seq("extracted_at", "transformed_at", "loaded_at"))
        assert(df.filter(col(c).isNull).isEmpty, s"$name.$c")
    }
  }

  /** Bytes read so far through Hadoop filesystems, over all threads.
    * Unlike a task's `inputMetrics.bytesRead`, this excludes reads of
    * cached blocks, so it counts only bytes scanned from files. */
  @annotation.nowarn("cat=deprecation")
  private def fsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  }

  test("star-schema sink: an uncached raw layer is read once for all three tables") {
    val base = graft.io.TempDirs.scratch("graft-star-once")
    val rawBytes = new java.io.File(rawDir).listFiles().filter(_.getName.endsWith(".json"))
      .map(_.length).sum
    val fresh = Normalize.normalize(Normalize.readRaw(spark, rawDir),
      transformedAt = lit("2024-01-03T00:00:00").cast("timestamp"))
    val loadedAt = "2024-01-04 00:00:00"
    val before = fsBytesRead()
    Sinks.writeStarSchema(fresh, base, lit(loadedAt).cast("timestamp"))
    val read = fsBytesRead() - before
    // one pass over the two raw files; re-parsing per table reads 3×
    assert(read >= rawBytes && read < rawBytes * 3 / 2, s"read $read B for $rawBytes raw bytes")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, df) <- Seq("album_data" -> fresh.albums, "artist_data" -> fresh.artists,
        "song_data" -> fresh.songs)) {
      val loaded = spark.read.parquet(s"$base/$name")
      assert(loaded.columns.toSeq == df.columns.toSeq :+ "loaded_at", name)
      assert(loaded.filter(col("loaded_at") =!= lit(loadedAt).cast("timestamp")).isEmpty, name)
      assert(rows(loaded.drop("loaded_at")) == rows(df), name)
    }
  }

  test("star-schema sink: the staged items are released on success and on failure") {
    val sc = spark.sparkContext
    val fresh = Normalize.normalize(Normalize.readRaw(spark, rawDir),
      transformedAt = lit("2024-01-03T00:00:00").cast("timestamp"))
    val stamp = lit("2024-01-04T00:00:00").cast("timestamp")
    val before = sc.getPersistentRDDs.keySet
    Sinks.writeStarSchema(fresh, graft.io.TempDirs.scratch("graft-star-ok"), stamp)
    assert(sc.getPersistentRDDs.keySet == before, "cache left after a successful load")
    // a parent path that is a regular file makes every table write fail
    val file = Files.createTempFile("graft-star-blocker", ".txt")
    try {
      intercept[Exception](Sinks.writeStarSchema(fresh, s"$file/warehouse", stamp))
      assert(sc.getPersistentRDDs.keySet == before, "cache left after a failed load")
    } finally Files.delete(file)
  }

  test("the reference's published SQL runs unchanged on the normalized star schema") {
    // README.md:207-255 — the analytics/monitoring surface a reference
    // user runs today, verbatim modulo table names, against OUR
    // pipeline's output registered as views
    star.songs.createOrReplaceTempView("tblSongs")
    star.albums.createOrReplaceTempView("tblAlbum")
    star.artists.createOrReplaceTempView("tblArtist")

    // "Most Popular Songs" (README.md:234-244)
    val top = spark.sql("""
      SELECT s.song_name, ar.artist_name, al.album_name, s.popularity
      FROM tblSongs s
      JOIN tblArtist ar ON s.artist_id = ar.artist_id
      JOIN tblAlbum al ON s.album_id = al.album_id
      ORDER BY s.popularity DESC LIMIT 10""").collect()
    assert(top.nonEmpty && top.head.getAs[Long]("popularity") == 80L) // T05
    assert(top.map(_.getAs[Long]("popularity")).toSeq ==
      top.map(_.getAs[Long]("popularity")).toSeq.sorted.reverse)

    // Row-count health check (README.md:207-212)
    val counts = spark.sql("""
      SELECT 'Songs' AS tbl, COUNT(*) AS n FROM tblSongs UNION ALL
      SELECT 'Albums', COUNT(*) FROM tblAlbum UNION ALL
      SELECT 'Artists', COUNT(*) FROM tblArtist""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("Songs" -> 5L, "Albums" -> 3L, "Artists" -> 3L))

    // Freshness (README.md:215)
    val fresh = spark.sql("SELECT MAX(transformed_at) AS m FROM tblSongs").collect()(0)
    assert(!fresh.isNullAt(0))

    // Album-type distribution with % of total (README.md:249-255)
    val dist = spark.sql("""
      SELECT al.album_type, COUNT(*) AS n,
             ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 2) AS percentage
      FROM tblSongs s JOIN tblAlbum al ON s.album_id = al.album_id
      GROUP BY al.album_type""").collect()
    // SQL decimal literals make the percentage a DecimalType column
    assert(math.abs(dist.map(_.getDecimal(2).doubleValue).sum - 100.0) < 0.1)
  }

  test("sinks: staged paths, dead-letter, logs, archive") {
    val base = graft.io.TempDirs.scratch("graft-io")
    // staged JSON doc sink (S5/S6)
    Sinks.writeJsonDoc(star.songs, Stages.rawPath(base, Stages.ToProcessed))
    val toProcessed = spark.read.json(Stages.rawPath(base, Stages.ToProcessed))
    assert(toProcessed.count() == star.songs.count())
    // dead-letter carries the reason (S11)
    Sinks.writeDeadLetter(star.songs.limit(1), base, "schema_mismatch")
    val dl = spark.read.json(Stages.rawPath(base, Stages.FailedExtraction))
    assert(dl.select("error_reason").collect()(0).getString(0) == "schema_mismatch")
    // error + execution logs (S12/S13)
    Sinks.writeErrorLog(spark, base, "run1", "HttpError", "boom")
    Sinks.writeExecutionLog(spark, base, "run1", 4L, "out/", "success")
    assert(spark.read.json(Stages.errorLogPath(base)).count() == 1)
    assert(spark.read.json(Stages.executionLogPath(base)).count() == 1)
    // archive moves consumed files (S10)
    val moved = Sinks.archive(spark,
      Stages.rawPath(base, Stages.ToProcessed),
      Stages.rawPath(base, Stages.AlreadyProcessed))
    assert(moved.nonEmpty)
    val archived = spark.read.json(Stages.rawPath(base, Stages.AlreadyProcessed))
    assert(archived.count() == star.songs.count())
  }

  test("q46 capstone: loaded star schema is closed under its FKs and complete") {
    // the lifecycle query's values are oracle-checked by the driver;
    // this pins the STRUCTURAL warehouse contract on the loaded rows:
    // every fact FK resolves, and the table cardinalities match the
    // relational layer they were extracted from
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q46_etl_capstone")(spark, sf0001)
    out.cache()
    try {
      // the capstone extracts the daily-run slice (recency predicate),
      // so expectations derive from the same filtered window
      val orders = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_orderdate") >=
          lit(graft.operators.EtlCapstone.DailySliceStart).cast("timestamp"))
      val nOrders = orders.count()
      val custs = orders.select("o_custkey").distinct()
      val nCust = custs.count()
      val nNations = custs
        .join(spark.read.parquet(s"$sf0001/customer.parquet"),
          custs("o_custkey") === col("c_custkey"))
        .select("c_nationkey").distinct().count()
      val byTbl = out.groupBy("tbl").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(nOrders > 0, "the recency window must be non-empty at test SF")
      assert(byTbl("song") == nOrders, "one song per in-window order")
      assert(byTbl("artist") == nCust + nNations,
        "customer artists + their nations")
      assert(byTbl("album") <= 100, "albums key on a 100-ary derived clerk")
      val songs = out.filter(col("tbl") === "song")
        .select(split(col("attr"), "/").getItem(0).as("album_fk"),
          split(col("attr"), "/").getItem(1).as("artist_fk"))
      val albums = out.filter(col("tbl") === "album").select(col("id").as("album_id"))
      val artists = out.filter(col("tbl") === "artist").select(col("id").as("artist_id"))
      assert(songs.join(albums, songs("album_fk") === albums("album_id"), "left_anti")
        .count() == 0, "every song's album FK must resolve")
      assert(songs.join(artists, songs("artist_fk") === artists("artist_id"), "left_anti")
        .count() == 0, "every song's artist FK must resolve")
    } finally out.unpersist()
  }
}
