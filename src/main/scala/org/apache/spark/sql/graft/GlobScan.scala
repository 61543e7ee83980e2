package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{BlockLocation, FileStatus, FileSystem, LocatedFileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** A file scan whose input is listed once, on the driver.
  *
  * `spark.read` expands a glob, drops the statuses it got, and lists
  * every match again — as a Spark job with one task per path once the
  * matches pass `spark.sql.sources.parallelPartitionDiscovery.threshold`.
  * Here each file the glob matched is handed to the `InMemoryFileIndex`
  * as its own one-element leaf listing, so the index lists nothing it
  * already has. Matched directories are not seeded; the index lists them
  * exactly as `spark.read` does. The relation is built the way
  * `DataSource` builds it: partition fields from the index (typed by the
  * declared schema where it names them), data schema = the declared
  * schema minus those, nullable.
  */
object GlobScan extends SessionStateHelper {

  def read(spark: SparkSession, pattern: String, schema: StructType,
           format: FileFormat, options: Map[String, String]): DataFrame = {
    val glob = new Path(pattern)
    val fs = glob.getFileSystem(
      sessionState(spark).newHadoopConfWithOptions(options))
    val matched = Option(fs.globStatus(glob)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty)
      throw QueryCompilationErrors.dataPathNotExistError(fs.makeQualified(glob).toString)
    val seeded = matched.collect {
      case d if d.isDirectory =>
        require(!fs.exists(new Path(d.getPath, "_spark_metadata")),
          s"${d.getPath} is a streaming file-sink output (_spark_metadata " +
            "found); reading it as plain files would include uncommitted files")
        fs.makeQualified(d.getPath) -> None
      case f if !HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName) =>
        val s = located(fs, f)
        s.getPath -> Some(s)
    }.toSeq
    val listings = seeded.collect { case (p, Some(s)) => p -> Array[FileStatus](s) }.toMap
    val cache = new FileStatusCache {
      @volatile private var leaves = listings
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = leaves = Map.empty
    }
    val index = new InMemoryFileIndex(spark, seeded.map(_._1), options, Some(schema), cache)
    val resolver = sessionState(spark).conf.resolver
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name)))).asNullable
    DataSourceUtils.verifySchema(format, dataSchema)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, partitionSchema, dataSchema, None, format, options)(spark))
  }

  /** The status Spark's own listing builds: block locations attached, no
    * ACL/encryption/erasure-coding flags, and no permission/owner/group —
    * copying those from `f` starts a process per file on a local file
    * system without the Hadoop native library. The path is re-qualified
    * from its bare form, as a listing qualifies it (`file:///x`; the glob
    * gives `file:/x`), so `input_file_name()` reads as under `spark.read`. */
  private def located(fs: FileSystem, f: FileStatus): LocatedFileStatus = {
    val locations = fs.getFileBlockLocations(f, 0, f.getLen).map { l =>
      if (l.getClass == classOf[BlockLocation]) l
      else new BlockLocation(l.getNames, l.getHosts, l.getOffset, l.getLength)
    }
    new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
      f.getModificationTime, 0, null, null, null,
      if (f.isSymlink) f.getSymlink else null,
      fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(f.getPath)),
      false, false, false, locations)
  }
}
