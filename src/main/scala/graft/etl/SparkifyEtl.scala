package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup.dedupKeepFirst
import graft.sources.Sources

/** The reference pipeline's semantics (mahdi-hosseini/dend_spark_data_lake,
  * /root/reference/etl_pipeline.py), re-expressed Spark-first in Scala:
  * five-table Sparkify star schema — `songs`, `artists`, `users`, `time`
  * dims + `songplays` fact (SURVEY.md §1.4, §3).
  *
  * Differences from the literal reference, all intent-preserving
  * (SURVEY.md §7.4):
  *   - epoch-ms → timestamp uses the built-in `timestamp_millis` instead of
  *     a Python UDF (etl_pipeline.py:170–178) — stays in whole-stage
  *     codegen, identical values under the pinned UTC session timezone.
  *   - `weekday` uses `weekday(ts)+1` cast to string — Spark 3+ removed the
  *     `date_format(ts, "u")` pattern (etl_pipeline.py:187); values match
  *     (Mon="1" … Sun="7").
  *   - `timestamp` is derived once in `cleanLogData` so both the time table
  *     and songplays read it (repairs the reference's ordering bug where
  *     songplays references a column only created inside get_time_table —
  *     etl_pipeline.py:276 vs :171–178, SURVEY.md §3.3).
  */
object SparkifyEtl {

  /** Song-file fields the pipeline reads (FIXTURES.md §1), typed as JSON
    * inference types them. Other fields in the files are skipped at
    * parse time. */
  val SongSchema: StructType = StructType(Seq(
    StructField("artist_id", StringType),
    StructField("artist_latitude", DoubleType),
    StructField("artist_location", StringType),
    StructField("artist_longitude", DoubleType),
    StructField("artist_name", StringType),
    StructField("duration", DoubleType),
    StructField("song_id", StringType),
    StructField("title", StringType),
    StructField("year", LongType)))

  /** Activity-log fields the pipeline reads (FIXTURES.md §2), typed as
    * JSON inference types them and in source casing. `userId` stays a
    * string so `cleanLogData`'s `try_cast` keeps null-on-bad-input. */
  val LogSchema: StructType = StructType(Seq(
    StructField("artist", StringType),
    StructField("firstName", StringType),
    StructField("gender", StringType),
    StructField("lastName", StringType),
    StructField("length", DoubleType),
    StructField("level", StringType),
    StructField("location", StringType),
    StructField("page", StringType),
    StructField("sessionId", LongType),
    StructField("song", StringType),
    StructField("ts", LongType),
    StructField("userAgent", StringType),
    StructField("userId", StringType)))

  /** Clean activity-log rows: dropna on the 12 pipeline columns
    * (etl_pipeline.py:198–214), the reference's OR-chain non-empty filter
    * (:216–225 — preserved verbatim, OR not AND), userId cast to Long
    * (:227), page = 'NextSong' (:227–229), plus the derived event
    * timestamp. */
  def cleanLogData(df: DataFrame): DataFrame = {
    val required = Seq("artist", "firstName", "gender", "lastName", "length",
      "level", "page", "sessionId", "song", "ts", "userAgent", "userId")
    df.na.drop("any", required)
      .filter(
        col("artist") =!= "" || col("firstName") =!= "" ||
        col("gender") =!= "" || col("lastName") =!= "" ||
        col("level") =!= "" || col("song") =!= "" ||
        col("userAgent") =!= "" || col("userId") =!= "")
      // try_cast, not cast: the reference ran Spark 2.4 (non-ANSI) where a
      // non-numeric userId casts to NULL; Spark 4's default ANSI cast would
      // throw instead. try_cast reproduces the reference's null-on-bad-input
      // semantics without disabling ANSI session-wide.
      .withColumn("userId", expr("try_cast(userId AS BIGINT)"))
      .filter(col("page") === "NextSong")
      .withColumn("timestamp", timestamp_millis(col("ts")))
  }

  /** songs dim: 1 row per song_id; year 0 → NULL (etl_pipeline.py:30–65). */
  def songsTable(songData: DataFrame): DataFrame = {
    val projected = songData.select(
      col("song_id"), col("title"), col("artist_id"),
      when(col("year") === 0, lit(null)).otherwise(col("year")).as("year"),
      col("duration"))
    dedupKeepFirst(projected, Seq(col("song_id")),
      Seq(col("artist_id"), col("song_id")))
  }

  /** artists dim: 1 row per artist_id, lexicographically-first name wins
    * (etl_pipeline.py:67–99). */
  def artistsTable(songData: DataFrame): DataFrame = {
    val projected = songData.select(
      col("artist_id"),
      col("artist_name").as("name"),
      col("artist_location").as("location"),
      col("artist_latitude").as("latitude"),
      col("artist_longitude").as("longitude"))
    dedupKeepFirst(projected, Seq(col("artist_id")),
      Seq(col("artist_id"), col("name")))
  }

  /** users dim: 1 row per user_id, latest record by ts wins so `level`
    * reflects the user's current plan (etl_pipeline.py:120–154). */
  def usersTable(cleanLog: DataFrame): DataFrame = {
    val projected = cleanLog.select(
      col("userId").as("user_id"),
      col("firstname").as("first_name"),
      col("lastname").as("last_name"),
      col("gender"), col("level"), col("ts"))
    dedupKeepFirst(projected, Seq(col("user_id")),
      Seq(col("user_id"), col("ts").desc))
      .drop("ts")
  }

  /** time dim: distinct start_time exploded into calendar attributes
    * (etl_pipeline.py:156–190). */
  def timeTable(cleanLog: DataFrame): DataFrame =
    cleanLog.select(
      col("timestamp").as("start_time"),
      hour(col("timestamp")).as("hour"),
      dayofmonth(col("timestamp")).as("day"),
      weekofyear(col("timestamp")).as("week"),
      month(col("timestamp")).as("month"),
      year(col("timestamp")).as("year"),
      (weekday(col("timestamp")) + 1).cast("string").as("weekday"))
    .dropDuplicates()

  /** songplays fact: songs ⋈ artists on artist_id (J1), then ⋈ log on the
    * 3-key conjunction artist=name ∧ song=title ∧ length=duration with the
    * Double key kept bit-exact (J2; etl_pipeline.py:259–285). The
    * songs⋈artists side is dimension-sized → broadcast. */
  def songplaysTable(cleanLog: DataFrame, songs: DataFrame,
                     artists: DataFrame): DataFrame = {
    val songArtists = songs.as("s")
      .join(artists.as("a"), col("s.artist_id") === col("a.artist_id"))
      .select(col("s.song_id"), col("s.title"), col("s.duration"),
              col("s.artist_id"), col("a.name"))
    cleanLog.as("log")
      .join(broadcast(songArtists).as("sa"),
        col("log.artist") === col("sa.name") &&
        col("log.song") === col("sa.title") &&
        col("log.length") === col("sa.duration"))
      .select(
        col("log.timestamp").as("start_time"),
        col("log.userId").as("user_id"),
        col("log.level"),
        col("sa.artist_id"),
        col("log.sessionId").as("session_id"),
        col("log.location"),
        col("log.userAgent").as("user_agent"),
        year(col("log.timestamp")).as("year"),
        month(col("log.timestamp")).as("month"))
  }

  /** End-to-end run: JSON in → five parquet tables out, with the
    * reference's partitioning (songs by year/artist_id, time and songplays
    * by year/month — etl_pipeline.py:113–115, :245–247, :287–289).
    *
    * Both inputs are read against `SongSchema` / `LogSchema` in
    * PERMISSIVE mode, so no schema-inference pass runs (the reference
    * infers, etl_pipeline.py:110, :238 — at scale a second full read of
    * the input). Unread fields are skipped at parse time. A malformed
    * line becomes an all-null row, as under inference, and the log's
    * dropna removes it. A required field missing from every file reads
    * as NULL; under inference it failed analysis with an
    * `AnalysisException`.
    *
    * `writeMode` defaults to `errorifexists` — the reference sets no
    * `.mode(...)` anywhere (etl_pipeline.py:113–115), so a re-run over an
    * existing output directory fails rather than clobbering it. Harness
    * and idempotent-job callers pass `"overwrite"` explicitly. */
  def run(spark: SparkSession, songJsonPath: String, logJsonPath: String,
          outDir: String, writeMode: String = "errorifexists"): Unit = {
    val songData = Sources.readJson(spark, songJsonPath, SongSchema).cache()
    val songs = songsTable(songData)
    val artists = artistsTable(songData)
    songs.write.mode(writeMode)
      .partitionBy("year", "artist_id").parquet(s"$outDir/songs")
    artists.write.mode(writeMode).parquet(s"$outDir/artists")
    songData.unpersist()

    val cleanLog =
      cleanLogData(Sources.readJson(spark, logJsonPath, LogSchema)).cache()
    usersTable(cleanLog).write.mode(writeMode).parquet(s"$outDir/users")
    timeTable(cleanLog).write.mode(writeMode)
      .partitionBy("year", "month").parquet(s"$outDir/time")
    val songsBack = spark.read.parquet(s"$outDir/songs")
    val artistsBack = spark.read.parquet(s"$outDir/artists")
    songplaysTable(cleanLog, songsBack, artistsBack)
      .write.mode(writeMode)
      .partitionBy("year", "month").parquet(s"$outDir/songplays")
    cleanLog.unpersist()
  }
}
