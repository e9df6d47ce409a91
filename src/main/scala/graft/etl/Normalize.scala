package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's transform stage — nested playlist JSON → star-schema
  * dimension/fact tables — as a Spark-first library.
  *
  * Semantics reconstructed from the reference's declared contract
  * (the transformation Lambda ships only a README):
  *   - raw envelope shape: /root/reference/lambda/extraction/
  *     lambda_function.py:186-193 (fields projection :149-160)
  *   - normalization steps "parse / extract albums, artists, songs /
  *     validate, dedup / output": lambda/transformation/README.md:8-12
  *   - output columns: README.md:162-171 (+ audit timestamps :171)
  *   - first-artist scalar FK: lambda/extraction/README.md:245-246
  *   - artist_url from external_urls['spotify']: lambda_function.py:156
  *
  * Scale notes: one `explode` per nesting level (built-in Generate,
  * stays in codegen); each dedup is a single shuffle on the PK; the
  * dims dedup with a deterministic latest-wins window, never
  * `dropDuplicates` (plan-dependent survivor). All reads declare the
  * schema — `inferSchema`/`schema_of_json` would scan 100 TB twice.
  * The three tables derive from one shared explode ([[StarSchema.items]]),
  * and the raw layer is parsed once per load: [[graft.io.Sinks.writeStarSchema]]
  * owns that decision — it caches the items for its three table writes
  * and releases them — so callers need not cache the raw frame.
  */
object Normalize {

  /** Raw playlist envelope schema (FIXTURES.md §B; SURVEY.md §1.2).
    * `external_urls` is a map (unknown keys are possible), and
    * `release_date` stays a string: Spotify emits 'yyyy', 'yyyy-MM',
    * or 'yyyy-MM-dd' and a dimension must not lose that fidelity.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("playlist_id", StringType),
    StructField("extracted_at", StringType),
    StructField("extraction_timestamp", StringType),
    StructField("total_tracks", LongType),
    StructField("playlist_info", StructType(Seq(
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("owner", StructType(Seq(
        StructField("id", StringType),
        StructField("display_name", StringType)))),
      StructField("public", BooleanType),
      StructField("followers", StructType(Seq(
        StructField("href", StringType),
        StructField("total", LongType))))))),
    StructField("tracks", ArrayType(StructType(Seq(
      StructField("added_at", StringType),
      StructField("track", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("duration_ms", LongType),
        StructField("popularity", LongType),
        StructField("explicit", BooleanType),
        StructField("external_urls", MapType(StringType, StringType)),
        StructField("album", StructType(Seq(
          StructField("id", StringType),
          StructField("name", StringType),
          StructField("release_date", StringType),
          StructField("total_tracks", LongType),
          StructField("album_type", StringType),
          StructField("label", StringType),
          StructField("external_urls", MapType(StringType, StringType))))),
        StructField("artists", ArrayType(StructType(Seq(
          StructField("id", StringType),
          StructField("name", StringType),
          StructField("external_urls", MapType(StringType, StringType)))))))))))))))

  /** Read the raw JSON layer with the declared schema (S7).
    *
    * `multiLine = true` parses the reference's actual file format —
    * one pretty-printed envelope per file (`json.dumps(indent=2)`,
    * lambda_function.py:211); the default JSON-lines mode is the
    * Spark-idiomatic staging format (splittable, so a 100 TB raw layer
    * parallelizes per block instead of per file). Both carry the same
    * schema; tests cover both.
    */
  def readRaw(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    spark.read.option("multiLine", multiLine).schema(rawSchema).json(path)

  /** The three star-schema tables plus `items`, the frame all three
    * derive from: one row per playlist-track item (`playlist_id`,
    * `extracted_at`, `item`), i.e. the parsed and exploded raw layer.
    * Each table is its own action, so a consumer that evaluates more
    * than one stages `items` first (see [[graft.io.Sinks.writeStarSchema]]). */
  final case class StarSchema(albums: DataFrame, artists: DataFrame, songs: DataFrame,
      items: DataFrame)

  /** Deterministic latest-wins dedup by `pk` (N3/W2): newest
    * extracted_at survives. The survivor is well-defined ONLY if
    * (extracted_at, tieBreak...) is unique per pk — callers must pass
    * enough tie-break columns to cover every way duplicate rows can
    * differ, else ties fall back to plan-dependent row order (the
    * nondeterminism this window exists to eliminate). The normalize()
    * call sites below tie-break on all remaining columns. */
  def dedupLatest(df: DataFrame, pk: String, tieBreak: Seq[String]): DataFrame = {
    val order = (col("extracted_at").desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(pk).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Insert-only incremental load (N5): rows of `incoming` whose PK is
    * absent from `existing`. */
  def incremental(incoming: DataFrame, existing: DataFrame, pk: String): DataFrame =
    incoming.join(existing.select(pk), Seq(pk), "left_anti")

  /** FK closure check (N4): fact rows whose non-null `fk` resolves to
    * no dim `pk` — must be empty for a valid star schema. NULL FKs are
    * not orphans: a track with no artists legitimately carries a null
    * artist_id (the reference's flat record simply has no value). */
  def orphans(fact: DataFrame, dim: DataFrame, fk: String, pk: String): DataFrame =
    fact.filter(fact(fk).isNotNull)
      .join(dim, fact(fk) === dim(pk), "left_anti")

  /** Normalize raw playlist envelopes into the star schema
    * (N1–N6 + P2/P3 + F13/F14/F15). `transformedAt` is a parameter so
    * tests stay deterministic (the production caller passes
    * `current_timestamp()`).
    */
  def normalize(raw: DataFrame, transformedAt: Column): StarSchema = {
    // N1: one row per playlist-track item; envelope columns carried.
    val items = raw.select(
      col("playlist_id"),
      to_timestamp(col("extracted_at")).as("extracted_at"),
      explode(col("tracks")).as("item"))

    // Fact: flatten/rename projection (P2), first-artist scalar FK
    // (F14), track URL from the map (F13), null-PK drop (P3),
    // deterministic dedup (N3), audit columns (N6).
    val songs = dedupLatest(
      items.select(
        col("item.track.id").as("song_id"),
        col("item.track.name").as("song_name"),
        col("item.track.duration_ms").as("duration_ms"),
        col("item.track.popularity").as("popularity"),
        col("item.track.album.id").as("album_id"),
        // try_element_at: an empty artists[] (real Spotify shape for
        // local/ghost tracks) must yield a null FK, not an ANSI
        // out-of-bounds error that kills the whole transform
        try_element_at(col("item.track.artists"), lit(1)).getField("id").as("artist_id"),
        element_at(col("item.track.external_urls"), "spotify").as("song_url"),
        to_timestamp(col("item.added_at")).as("added_at"),
        col("extracted_at"))
        .na.drop(cols = Seq("song_id")),
      "song_id", tieBreak = Seq("added_at", "album_id", "popularity",
        "duration_ms", "song_name", "artist_id", "song_url"))
      .withColumn("transformed_at", transformedAt)

    // Album dimension: struct flatten (N2) via `.*` expansion.
    val albums = dedupLatest(
      items.select(col("item.track.album.*"), col("extracted_at"))
        .withColumnRenamed("id", "album_id")
        .withColumnRenamed("name", "album_name")
        .withColumn("album_url", element_at(col("external_urls"), "spotify"))
        .drop("external_urls")
        .na.drop(cols = Seq("album_id")),
      "album_id", tieBreak = Seq("album_name", "release_date", "total_tracks",
        "album_type", "label", "album_url"))
      .withColumn("transformed_at", transformedAt)

    // Artist dimension: full artists[] explode (N1) — every artist,
    // not just the fact's first-artist FK.
    val artists = dedupLatest(
      items.select(explode(col("item.track.artists")).as("a"), col("extracted_at"))
        .select(
          col("a.id").as("artist_id"),
          col("a.name").as("artist_name"),
          element_at(col("a.external_urls"), "spotify").as("artist_url"),
          col("extracted_at"))
        .na.drop(cols = Seq("artist_id")),
      "artist_id", tieBreak = Seq("artist_name", "artist_url"))
      .withColumn("transformed_at", transformedAt)

    StarSchema(albums = albums, artists = artists, songs = songs, items = items)
  }
}
