package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source / sink surface (SURVEY.md §2.1–2.2 re-expressed for production).
  *
  * The reference scans JSON with schema inference (etl_pipeline.py:110,
  * :238) — correct for exploration, wrong at 100 TB where the inference
  * pass is a full extra read. The JSON and CSV readers here take an
  * explicit `StructType` and never infer; `SourceReadLintSpec` keeps
  * every JSON read in the library routed through `readJson`.
  */
object Sources {

  /** JSON-lines scan with an explicit schema — single pass, no inference
    * job. `mode` picks the malformed-record policy:
    * PERMISSIVE (default — bad rows become all-null), DROPMALFORMED
    * (bad rows vanish; fine for lossy corpus ingestion), FAILFAST
    * (throw — for feeds where corruption must stop the pipeline). */
  def readJson(spark: SparkSession, path: String, schema: StructType,
               mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)

  /** CSV scan with explicit schema; `header=true` skips the first line
    * (names come from the schema, not the file). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Parquet scan; partition columns are recovered from the directory
    * layout (S3's read-after-write pattern, etl_pipeline.py:250–257). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — the other columnar format with predicate pushdown and
    * column pruning parity. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Whole-line text scan: one `value: string` row per line — the raw
    * entry point for corpus ingestion before any parsing. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  private def writer(df: DataFrame, mode: SaveMode): DataFrameWriter[Row] =
    df.write.mode(mode)

  /** Parquet sink, optionally Hive-layout partitioned (K1–K3). Readers
    * filtering on the partition columns get partition pruning for free.
    * `compression`: snappy (default, fast) or zstd (smaller — the usual
    * pick when storage dominates compute at 100 TB). */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite,
                   compression: String = "snappy"): Unit = {
    val w = writer(df, mode).option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** CSV sink with header. */
  def writeCsv(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    writer(df, mode).option("header", "true").csv(path)

  /** JSON-lines sink. */
  def writeJsonLines(df: DataFrame, path: String,
                     mode: SaveMode = SaveMode.Overwrite): Unit =
    writer(df, mode).json(path)

  /** ORC sink, optionally partitioned. */
  def writeOrc(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = writer(df, mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  /** Compact a parquet directory's small files: rewrites the data as
    * ~ceil(bytes / targetFileBytes) files into `destPath`. Fine-grained
    * writes accumulate small files that tax the driver's file index and
    * kill scan throughput at scale — periodic compaction is the
    * standard remedy. Uses the on-disk byte size for the estimate;
    * `coalesce` (not repartition) so the rewrite is shuffle-free. Pass
    * `partitionBy` to preserve a Hive-partitioned source's layout
    * (otherwise partition columns would fold into the data files and
    * readers would lose pruning). Writes to a NEW directory — swapping
    * it in place of the source is the caller's (atomicity-owning) move.
    *
    * Refuses a streaming file-sink directory (`_spark_metadata`
    * present): the sink's manifest lists exact files, so a swapped-in
    * compacted directory would make manifest-trusting readers silently
    * drop all historical rows. Compacting one of those means rewriting
    * the manifest — a different (table-format-shaped) operation. */
  def compactParquet(spark: SparkSession, srcPath: String, destPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     partitionBy: Seq[String] = Nil): Unit = {
    require(targetFileBytes > 0)
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(src, "_spark_metadata")),
      s"$srcPath is a streaming file-sink output (_spark_metadata found); " +
        "compacting it would orphan the sink manifest — see scaladoc")
    val bytes = fs.getContentSummary(src).getLength
    val nFiles = math.min(
      math.max((bytes + targetFileBytes - 1) / targetFileBytes, 1L),
      Int.MaxValue.toLong).toInt
    val w = spark.read.parquet(srcPath)
      .coalesce(nFiles)
      .write.mode(SaveMode.ErrorIfExists)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(destPath)
  }

  /** Z-ordered parquet layout: rows are range-partitioned and sorted by
    * the Morton interleave of two integer columns, so consecutive rows —
    * and therefore parquet row groups — cluster in BOTH dimensions at
    * once. A scan filtered on EITHER column then prunes most row groups
    * from min/max stats, where a plain sort clusters only its leading
    * column. This is the linear-sort approximation of Delta/Iceberg
    * OPTIMIZE ZORDER BY, expressed with nothing but repartitionByRange +
    * sortWithinPartitions and a codegen'd interleave key.
    *
    * Columns must be non-negative and fit in 32 bits (wider domains:
    * rank or bucket them down first — Z-order on raw skewed domains
    * wastes curve resolution anyway). */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, colB: String, numFiles: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numFiles > 0)
    df.withColumn("__z",
        org.apache.spark.sql.graft.VectorExprs.interleave64(
          col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Bucketed + sorted managed table: rows are hash-clustered into
    * `numBuckets` files per partition by `bucketCols` and sorted within
    * each bucket. Two tables bucketed the same way join WITHOUT a
    * shuffle (and without a sort, if sorted) — the pre-partitioning is
    * the scale play for repeated big-big joins: pay the shuffle once at
    * write time, never at read time. */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCols: Seq[String], numBuckets: Int,
                    sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty)
    val w = writer(df, mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
