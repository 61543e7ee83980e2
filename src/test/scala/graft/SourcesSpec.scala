package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("graft-sources").toString
  private lazy val sample = Seq(
    (1L, "alpha", 10.5, 2020), (2L, "beta", 20.25, 2020),
    (3L, "gamma", 30.0, 2021), (4L, "delta", 40.75, 2021)
  ).toDF("id", "name", "score", "yr")

  private def put(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }

  private val nestedSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType), StructField("score", DoubleType)))

  /** 34 one-row files two directory levels down (past the 32-path
    * threshold at which `spark.read` lists its matches with a Spark job),
    * one of them under `k=1/`, plus a hidden `_x` file the glob also
    * matches. Returns the glob. */
  private def nestedFixture(name: String, ext: String,
                            row: Int => String): String = {
    val root = s"$dir/$name"
    for (i <- 0 until 34)
      put(s"$root/a/${if (i == 0) "k=1" else s"b${i % 3}"}/f$i.$ext", row(i))
    put(s"$root/a/b0/_x.$ext", row(99))
    s"$root/*/*/*.$ext"
  }

  private def inputFiles(df: DataFrame): Set[String] =
    df.select(input_file_name()).as[String].collect().toSet

  /** `ours` is built with no Spark job and reads what `theirs` (the
    * `spark.read` equivalent) reads: same schema, rows and files. */
  private def assertListedOnce(ours: => DataFrame, theirs: => DataFrame,
                               files: Int): Unit = {
    val (o, oursJobs) = jobsDuring(ours)
    val (t, theirJobs) = jobsDuring(theirs)
    assert(theirJobs > 0, "fixture must be past spark.read's listing-job threshold")
    assert(oursJobs === 0, "building the scan must start no Spark job")
    assert(o.schema === t.schema)
    assert(rendered(o) === rendered(t))
    assert(inputFiles(o) === inputFiles(t))
    assert(inputFiles(o).size === files, "the hidden match is not read")
  }

  test("readJson over a nested glob: spark.read's schema, rows and files, " +
       "and no listing job") {
    val glob = nestedFixture("nested_json", "json",
      i => s"""{"id":$i,"name":"n$i","score":${i * 0.5}}""")
    assertListedOnce(Sources.readJson(spark, glob, nestedSchema),
      spark.read.schema(nestedSchema).json(glob), files = 34)
  }

  test("readCsv over a nested glob: spark.read's schema, rows and files, " +
       "and no listing job") {
    val glob = nestedFixture("nested_csv", "csv",
      i => s"id,name,score\n$i,n$i,${i * 0.5}\n")
    assertListedOnce(Sources.readCsv(spark, glob, nestedSchema),
      spark.read.schema(nestedSchema).option("header", "true").csv(glob),
      files = 34)
  }

  test("readJson over a partitioned directory types the partition column " +
       "from the declared schema, as spark.read does") {
    put(s"$dir/kdir/k=1/x.json", """{"id":1,"name":"a","score":1.0}""")
    put(s"$dir/kdir/k=02/y.json", """{"id":2,"name":"b","score":2.0}""")
    val schema = nestedSchema.add("k", StringType)
    val ours = Sources.readJson(spark, s"$dir/kdir", schema)
    val theirs = spark.read.schema(schema).json(s"$dir/kdir")
    assert(ours.schema === theirs.schema)
    assert(ours.schema("k").dataType === StringType)
    assert(rendered(ours) === rendered(theirs))
    assert(ours.filter(col("k") === "02").count() === 1)
  }

  test("readJson: a glob that matches nothing raises PATH_NOT_FOUND, " +
       "as spark.read does") {
    val glob = s"$dir/no_such_dir/*/*.json"
    val ours = intercept[AnalysisException](
      Sources.readJson(spark, glob, nestedSchema))
    val theirs = intercept[AnalysisException](
      spark.read.schema(nestedSchema).json(glob))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(theirs.getCondition === "PATH_NOT_FOUND")
  }

  test("readJson refuses a streaming file-sink directory") {
    val e = intercept[IllegalArgumentException](
      Sources.readJson(spark, sinkLike, nestedSchema))
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("JSON-lines round-trip with explicit schema (no inference pass)") {
    Sources.writeJsonLines(sample, s"$dir/json")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("yr", IntegerType)))
    val back = Sources.readJson(spark, s"$dir/json", schema)
    assert(back.schema === schema)
    assert(rendered(back.select("id", "name", "score", "yr"))
      === rendered(sample))
  }

  test("CSV round-trip with header and explicit schema") {
    Sources.writeCsv(sample, s"$dir/csv")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("yr", IntegerType)))
    val back = Sources.readCsv(spark, s"$dir/csv", schema)
    assert(rendered(back.select("id", "name", "score", "yr"))
      === rendered(sample))
  }

  test("malformed JSON: PERMISSIVE nulls, DROPMALFORMED drops, FAILFAST throws") {
    val p = s"$dir/bad.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """{"id": 1, "name": "ok"}
        |this is not json
        |{"id": 3, "name": "also ok"}""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    assert(Sources.readJson(spark, p, schema).count() === 3,
      "PERMISSIVE keeps the bad row as nulls")
    assert(Sources.readJson(spark, p, schema, "DROPMALFORMED").count() === 2)
    intercept[Exception] {
      Sources.readJson(spark, p, schema, "FAILFAST").collect()
    }
  }

  test("parquet zstd compression round-trips") {
    Sources.writeParquet(sample, s"$dir/zstd", compression = "zstd")
    assert(rendered(Sources.readParquet(spark, s"$dir/zstd")
      .select("id", "name", "score", "yr")) === rendered(sample))
  }

  test("ORC round-trip preserves schema and rows") {
    Sources.writeOrc(sample, s"$dir/orc")
    val back = Sources.readOrc(spark, s"$dir/orc")
    assert(back.schema.fieldNames.sorted.toSeq === Seq("id", "name", "score", "yr"))
    assert(rendered(back.select("id", "name", "score", "yr")) === rendered(sample))
  }

  test("text source reads one row per line") {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/lines.txt"), "alpha\nbeta\ngamma")
    val back = Sources.readText(spark, s"$dir/lines.txt")
    assert(back.columns.toSeq === Seq("value"))
    assert(back.count() === 3)
  }

  test("partitioned parquet: layout on disk + partition pruning at read") {
    Sources.writeParquet(sample, s"$dir/part", partitionBy = Seq("yr"))
    val dirs = new java.io.File(s"$dir/part").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("yr=2020", "yr=2021"))
    val back = Sources.readParquet(spark, s"$dir/part")
      .filter(col("yr") === 2021)
    assert(back.count() === 2)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(yr"),
      s"partition filter must reach the scan:\n$scan")
  }

  test("compactParquet merges small files, preserving rows") {
    import spark.implicits._
    // 40 single-row files
    (0 until 40).map(i => (i.toLong, s"row$i")).toDF("id", "s")
      .repartition(40).write.parquet(s"$dir/frag")
    val before = new java.io.File(s"$dir/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before > 1, "setup must produce multiple files (AQE may coalesce some)")
    Sources.compactParquet(spark, s"$dir/frag", s"$dir/compact",
      targetFileBytes = 10L * 1024 * 1024)
    val after = new java.io.File(s"$dir/compact").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1, "tiny corpus compacts to a single file")
    assert(rendered(Sources.readParquet(spark, s"$dir/compact").orderBy("id"))
      === rendered(Sources.readParquet(spark, s"$dir/frag").orderBy("id")))
  }

  test("writeZOrdered clusters BOTH dimensions per file (a linear sort can't)") {
    // 64×64 grid; 8 files. A z-ordered file covers a roughly square
    // patch of the grid (both spans ≈ sqrt(4096/8) ≈ 23); a linear sort
    // by x would leave y spanning the full 0..63 in every file.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    Sources.writeZOrdered(grid, s"$dir/zorder", "x", "y", numFiles = 8)
    val files = new java.io.File(s"$dir/zorder").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size === 8)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max("x") - min("x"), max("y") - min("y"))
        .as[(Long, Long)].collect()(0)
      r
    }
    val avgX = spans.map(_._1).sum.toDouble / spans.size
    val avgY = spans.map(_._2).sum.toDouble / spans.size
    assert(avgX < 40 && avgY < 40,
      s"both dims must cluster: avg x-span $avgX, avg y-span $avgY")
    // nothing lost, nothing duplicated
    assert(spark.read.parquet(s"$dir/zorder").count() === 4096)
    assert(spark.read.parquet(s"$dir/zorder").distinct().count() === 4096)
  }

  test("compactParquet preserves Hive partition layout when asked") {
    import spark.implicits._
    Seq((1L, "x", 2020), (2L, "y", 2021), (3L, "z", 2021))
      .toDF("id", "s", "yr")
      .repartition(3).write.partitionBy("yr").parquet(s"$dir/pfrag")
    Sources.compactParquet(spark, s"$dir/pfrag", s"$dir/pcompact",
      partitionBy = Seq("yr"))
    val dirs = new java.io.File(s"$dir/pcompact").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("yr=2020", "yr=2021"))
    assert(Sources.readParquet(spark, s"$dir/pcompact").count() === 3)
  }

  /** A parquet directory holding `_spark_metadata`, the marker of a
    * streaming file-sink output. */
  private lazy val sinkLike = {
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/sinklike")
    new java.io.File(s"$dir/sinklike/_spark_metadata").mkdir()
    s"$dir/sinklike"
  }

  test("compactParquet refuses a streaming file-sink directory") {
    intercept[IllegalArgumentException] {
      Sources.compactParquet(spark, sinkLike, s"$dir/sinklike2")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    import spark.implicits._
    // fact partitioned by yr; dim maps yr -> era, filtered to one era.
    // DPP should inject a runtime subquery into the fact scan so only
    // the matching yr partitions are read — the join-driven analogue of
    // static partition pruning, and the mechanism that keeps star joins
    // from scanning 100 TB of history for a one-month query.
    val fact = (0 until 100).map(i => (i.toLong, 2018 + i % 4)).toDF("id", "yr")
    Sources.writeParquet(fact, s"$dir/dpp_fact", partitionBy = Seq("yr"))
    // the dim must be a real source (a local relation pre-filters at
    // plan time, leaving no selective Filter for the DPP rule to use)
    Sources.writeParquet(
      Seq((2018, "old"), (2019, "old"), (2020, "new"), (2021, "new"))
        .toDF("yr", "era"), s"$dir/dpp_dim")
    val dim = Sources.readParquet(spark, s"$dir/dpp_dim")
    val joined = Sources.readParquet(spark, s"$dir/dpp_fact")
      .join(dim.filter(col("era") === "new"), "yr")
    assert(joined.count() === 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a runtime pruning subquery:\n$plan")
  }

  test("bucketed tables: equal bucketing joins with zero shuffle") {
    Sources.writeBucketed(sample.select("id", "name"), "src_left",
      bucketCols = Seq("id"), numBuckets = 4, sortCols = Seq("id"))
    Sources.writeBucketed(sample.select("id", "score"), "src_right",
      bucketCols = Seq("id"), numBuckets = 4, sortCols = Seq("id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path — at real scale neither side broadcasts
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("src_left").join(spark.table("src_right"), "id")
      assert(joined.count() === 4)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-bucketed equi-join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS src_left")
      spark.sql("DROP TABLE IF EXISTS src_right")
    }
  }
}
