package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

import graft.etl.SparkifyEtl
import graft.sources.Sources

/** End-to-end ETL semantics against miniature JSON fixtures shaped like the
  * reference's Sparkify inputs (FIXTURES.md §1–2). Pins the behaviors the
  * DuckDB oracle gate can't see: dropna subset (userAgent in, location
  * out — /root/reference/etl_pipeline.py:198–214), the 8-term OR-chain
  * (:216–225), year-0→NULL (:51), latest-level-wins (:143–154), weekday
  * string values (:187), key uniqueness, and partitioned layout. */
class SparkifyEtlSpec extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-etl-test").toString

  // Song fixtures: duplicate song_id (W1), duplicate artist_id with two
  // names (W2 picks lexicographically first), year=0 (P3), and one song
  // matching a log row on (artist_name, title, duration) for J2.
  private lazy val songJson = {
    val rows = Seq(
      """{"song_id":"S1","title":"Alpha","artist_id":"A1","year":0,"duration":100.5,"artist_name":"ArtA","artist_location":"LA","artist_latitude":34.0,"artist_longitude":-118.0}""",
      """{"song_id":"S1","title":"Alpha","artist_id":"A1","year":0,"duration":100.5,"artist_name":"ArtA","artist_location":"LA-dup","artist_latitude":34.0,"artist_longitude":-118.0}""",
      """{"song_id":"S2","title":"Beta","artist_id":"A2","year":2001,"duration":200.25,"artist_name":"ArtB","artist_location":"NY","artist_latitude":40.7,"artist_longitude":-74.0}""",
      """{"song_id":"S3","title":"Gamma","artist_id":"A3","year":2002,"duration":300.75,"artist_name":"ArtC","artist_location":"SF","artist_latitude":37.7,"artist_longitude":-122.4}""",
      """{"song_id":"S4","title":"Delta","artist_id":"A3","year":2003,"duration":400.0,"artist_name":"AaaC","artist_location":"SF","artist_latitude":37.7,"artist_longitude":-122.4}""")
    val p = s"$dir/song_data.json"
    Files.writeString(java.nio.file.Paths.get(p), rows.mkString("\n"))
    p
  }

  // Log fixtures. ts values are epoch millis (UTC):
  //   1541000000000 = 2018-10-31 15:33:20 UTC (Wednesday)
  private lazy val logJson = {
    val rows = Seq(
      // u1 plays S2's song — joins in songplays; earlier record, level=free
      """{"artist":"ArtB","firstName":"Ann","gender":"F","lastName":"Lee","length":200.25,"level":"free","location":"Austin","page":"NextSong","sessionId":11,"song":"Beta","ts":1541000000000,"userAgent":"UA1","userId":"1"}""",
      // u1 later record, level=paid — latest-wins must keep paid
      """{"artist":"ArtA","firstName":"Ann","gender":"F","lastName":"Lee","length":100.5,"level":"paid","location":"Austin","page":"NextSong","sessionId":12,"song":"Alpha","ts":1541100000000,"userAgent":"UA1","userId":"1"}""",
      // u2: null location — reference KEEPS it (location not in dropna set)
      """{"artist":"ArtB","firstName":"Bob","gender":"M","lastName":"Kim","length":200.25,"level":"free","location":null,"page":"NextSong","sessionId":21,"song":"Beta","ts":1541200000000,"userAgent":"UA2","userId":"2"}""",
      // null userAgent — reference DROPS it (userAgent in dropna set)
      """{"artist":"ArtB","firstName":"Cal","gender":"M","lastName":"Roe","length":200.25,"level":"free","location":"Reno","page":"NextSong","sessionId":31,"song":"Beta","ts":1541300000000,"userAgent":null,"userId":"3"}""",
      // page != NextSong — dropped by P8
      """{"artist":"ArtB","firstName":"Dee","gender":"F","lastName":"Poe","length":200.25,"level":"free","location":"Reno","page":"Home","sessionId":41,"song":"Beta","ts":1541400000000,"userAgent":"UA4","userId":"4"}""",
      // all-8 OR-chain fields empty — dropped by P7 (the only case OR drops)
      """{"artist":"","firstName":"","gender":"","lastName":"","length":200.25,"level":"","location":"Reno","page":"NextSong","sessionId":51,"song":"","ts":1541500000000,"userAgent":"","userId":""}""",
      // one empty field among the 8 — KEPT by the OR-chain (its quirk);
      // userId "" casts to NULL Long. No song match (length differs).
      """{"artist":"ArtB","firstName":"Eve","gender":"F","lastName":"Fox","length":123.0,"level":"free","location":"Reno","page":"NextSong","sessionId":61,"song":"","ts":1541600000000,"userAgent":"UA6","userId":""}""")
    val p = s"$dir/log_data.json"
    Files.writeString(java.nio.file.Paths.get(p), rows.mkString("\n"))
    p
  }

  // Parity fixtures: source-shaped rows that also carry the fields the
  // pipeline never reads (num_songs; auth, itemInSession, method,
  // registration, status), plus one malformed (truncated) line per input.
  private lazy val paritySongJson = {
    val rows = Seq(
      """{"num_songs":1,"artist_id":"A1","artist_latitude":34.0,"artist_location":"LA","artist_longitude":-118.0,"artist_name":"ArtA","duration":100.5,"song_id":"S1","title":"Alpha","year":0}""",
      """{"num_songs":1,"artist_id":"A2","artist_latitude":null,"artist_location":"","artist_longitude":null,"artist_name":"ArtB","duration":200.25,"song_id":"S2","title":"Beta","year":2001}""",
      """{"num_songs":1,"artist_id":"A3","artist_latitude":40.7,"artist_location":"NY","artist_longitude":-74.0,"artist_name":"ArtC","duration":300.0,"song_id":"S3","title":"Gamma","year":2002}""",
      """{"num_songs":1,"artist_id":"A9","artist_name":"Bro""")
    val p = s"$dir/parity_song.json"
    Files.writeString(java.nio.file.Paths.get(p), rows.mkString("\n"))
    p
  }

  private lazy val parityLogJson = {
    val rows = Seq(
      """{"artist":"ArtB","auth":"Logged In","firstName":"Ann","gender":"F","itemInSession":0,"lastName":"Lee","length":200.25,"level":"free","location":"Austin","method":"PUT","page":"NextSong","registration":1.540000001E12,"sessionId":11,"song":"Beta","status":200,"ts":1541000000000,"userAgent":"UA1","userId":"1"}""",
      """{"artist":"ArtA","auth":"Logged In","firstName":"Ann","gender":"F","itemInSession":1,"lastName":"Lee","length":100.5,"level":"paid","location":"Austin","method":"PUT","page":"NextSong","registration":1.540000001E12,"sessionId":12,"song":"Alpha","status":200,"ts":1541100000000,"userAgent":"UA1","userId":"1"}""",
      """{"artist":null,"auth":"Logged Out","firstName":null,"gender":null,"itemInSession":2,"lastName":null,"length":null,"level":"free","location":null,"method":"GET","page":"Home","registration":null,"sessionId":13,"song":null,"status":307,"ts":1541200000000,"userAgent":null,"userId":""}""",
      """{"artist":"ArtB","auth":"Logged In","firstName":"Bob","gender":"M","itemInSession":0,"lastName":"Kim","length":123.0,"level":"free","location":null,"method":"PUT","page":"NextSong","registration":1.540000002E12,"sessionId":21,"song":"Beta","status":200,"ts":1541300000000,"userAgent":"UA2","userId":"x2"}""",
      """{"artist":"ArtC","firstName":"Cal","lastName":""")
    val p = s"$dir/parity_log.json"
    Files.writeString(java.nio.file.Paths.get(p), rows.mkString("\n"))
    p
  }

  private lazy val out = { SparkifyEtl.run(spark, songJson, logJson, s"$dir/out"); s"$dir/out" }

  test("run refuses to clobber an existing output by default, like the reference") {
    // the reference sets no .mode(...) → Spark's errorifexists default
    // (etl_pipeline.py:113–115); overwrite is an explicit opt-in
    val existing = out
    intercept[org.apache.spark.sql.AnalysisException] {
      SparkifyEtl.run(spark, songJson, logJson, existing)
    }
    SparkifyEtl.run(spark, songJson, logJson, existing,
      writeMode = "overwrite")
    assert(spark.read.parquet(s"$existing/songs").count() === 4,
      "explicit overwrite re-runs cleanly")
  }

  test("declared schemas give the inferred types and identical rows in " +
       "all five tables, unread fields and malformed lines included") {
    for ((schema, path) <- Seq(SparkifyEtl.SongSchema -> paritySongJson,
                               SparkifyEtl.LogSchema -> parityLogJson)) {
      val inferred = spark.read.json(path).schema
      assert(inferred.fieldNames.contains("_corrupt_record"),
        s"$path must hold a malformed line")
      for (f <- schema.fields)
        assert(inferred(f.name).dataType === f.dataType,
          s"${f.name} in $path: declared ${f.dataType}, inferred " +
          inferred(f.name).dataType)
    }
    def tables(song: DataFrame, log: DataFrame) = {
      val clean = SparkifyEtl.cleanLogData(log)
      val songs = SparkifyEtl.songsTable(song)
      val artists = SparkifyEtl.artistsTable(song)
      Seq("songs" -> songs, "artists" -> artists,
        "users" -> SparkifyEtl.usersTable(clean),
        "time" -> SparkifyEtl.timeTable(clean),
        "songplays" -> SparkifyEtl.songplaysTable(clean, songs, artists))
    }
    val declared = tables(
      Sources.readJson(spark, paritySongJson, SparkifyEtl.SongSchema),
      Sources.readJson(spark, parityLogJson, SparkifyEtl.LogSchema))
    val inferred = tables(spark.read.json(paritySongJson),
      spark.read.json(parityLogJson))
    for (((name, d), (_, i)) <- declared.zip(inferred)) {
      assert(d.schema === i.schema, s"$name schema")
      assert(rendered(d) === rendered(i), s"$name rows")
    }
    val songplays = declared.last._2
    assert(songplays.count() === 2, "both exact (artist, song, length) " +
      "matches join; the malformed lines join nothing")
  }

  test("songs: one row per song_id, year 0 becomes NULL") {
    val songs = spark.read.parquet(s"$out/songs")
    assert(songs.count() === 4)
    assert(songs.groupBy("song_id").count().filter(col("count") > 1).count() === 0)
    val fresh = SparkifyEtl.songsTable(spark.read.json(songJson))
    assert(fresh.filter(col("song_id") === "S2").select("year")
      .collect()(0).getLong(0) === 2001)
    assert(fresh.filter(col("song_id") === "S1").select("year")
      .collect()(0).isNullAt(0), "year=0 must surface as NULL")
    assert(fresh.schema("year").dataType === LongType)
  }

  test("songs: partitioned by year then artist_id on disk") {
    val base = new java.io.File(s"$out/songs")
    val yearDirs = base.listFiles().filter(_.isDirectory).map(_.getName)
    assert(yearDirs.forall(_.startsWith("year=")), s"got ${yearDirs.toSeq}")
    val sub = new java.io.File(base, yearDirs.head).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(sub.forall(_.startsWith("artist_id=")))
  }

  test("artists: one row per artist_id, lexicographically-first name wins") {
    val artists = spark.read.parquet(s"$out/artists")
    assert(artists.count() === 3)
    val a3 = artists.filter(col("artist_id") === "A3").collect()(0)
    assert(a3.getAs[String]("name") === "AaaC",
      "W2 orders by (artist_id, name) — 'AaaC' sorts before 'ArtC'")
  }

  test("users: latest record by ts wins (level change captured)") {
    val users = spark.read.parquet(s"$out/users")
    // u1 (two records), u2 (null location kept), u6 ('' userId → NULL)
    assert(users.count() === 3)
    val u1 = users.filter(col("user_id") === 1L).collect()(0)
    assert(u1.getAs[String]("level") === "paid", "latest-by-ts must win")
    assert(users.filter(col("user_id") === 2L).count() === 1,
      "null location must NOT drop the row (location is not in the dropna subset)")
    assert(users.filter(col("user_id").isNull).count() === 1,
      "userId '' casts to NULL Long and survives the OR-chain")
    assert(users.columns.toSeq ===
      Seq("user_id", "first_name", "last_name", "gender", "level"))
  }

  test("cleanLogData: dropna uses userAgent (drops), not location (keeps)") {
    val clean = SparkifyEtl.cleanLogData(spark.read.json(logJson))
    assert(clean.filter(col("userId") === 3L).count() === 0,
      "null userAgent row must be dropped")
    assert(clean.filter(col("sessionId") === 21L).count() === 1,
      "null location row must be kept")
    assert(clean.filter(col("sessionId") === 51L).count() === 0,
      "all-empty OR-chain row must be dropped")
    assert(clean.filter(col("sessionId") === 61L).count() === 1,
      "partially-empty row survives the OR-chain")
    assert(clean.filter(col("page") =!= "NextSong").count() === 0)
    assert(clean.schema("userId").dataType === LongType)
  }

  test("time: distinct start_time, calendar derivations, weekday as string") {
    val time = spark.read.parquet(s"$out/time")
    // 4 surviving NextSong events, distinct ts values
    assert(time.count() === 4)
    assert(time.select("start_time").distinct().count() === time.count())
    val r = time.filter(col("start_time") === to_timestamp(lit("2018-10-31 15:33:20")))
      .collect()(0)
    assert(r.getAs[Int]("hour") === 15)
    assert(r.getAs[Int]("day") === 31)
    assert(r.getAs[Int]("month") === 10)
    assert(r.getAs[Int]("year") === 2018)
    assert(r.getAs[String]("weekday") === "3", "2018-10-31 is Wednesday, Mon=1")
    assert(r.schema("weekday").dataType === StringType)
  }

  test("songplays: 3-key join incl. bit-exact Double, 9 columns, partitioned") {
    val sp = spark.read.parquet(s"$out/songplays")
    // u1's two plays match songs (Beta/200.25, Alpha/100.5); u2's Beta play
    // matches too; u6's length=123.0 matches nothing.
    assert(sp.count() === 3)
    assert(sp.columns.sorted.toSeq === Seq("artist_id", "level", "location",
      "month", "session_id", "start_time", "user_agent", "user_id", "year"))
    assert(sp.schema("start_time").dataType === TimestampType)
    val dirs = new java.io.File(s"$out/songplays").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("year=")))
    // the null-location row flows through with location NULL
    assert(sp.filter(col("session_id") === 21L && col("location").isNull).count() === 1)
  }
}
