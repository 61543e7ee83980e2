package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `NioLocalFileSystem` and `NioLocalFs` leave every written file and
  * directory with the permissions Hadoop's stock local file systems give
  * it. */
class LocalFsSpec extends SparkTestBase {

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Relative path (job UUIDs masked) → POSIX permissions, for every
    * file and directory under `root`, `.crc` files and `_SUCCESS` too. */
  private def tree(root: JPath): Map[String, String] =
    Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.map { p =>
        Uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") ->
          java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))
      }.toMap
    }

  test("a partitioned parquet write leaves the permissions the stock " +
      "local file system leaves") {
    val df = spark.range(0, 40, 1, 2)
      .selectExpr("id", "2018 + id % 2 AS year", "1 + id % 3 AS month")
    val root = Files.createTempDirectory("graft-localfs")
    def write(impl: Class[_ <: FileSystem]): Map[String, String] = {
      // fresh instances on every lookup, so the write resolves `impl`
      // and not the JVM's cached `file:` file system
      val opts = Map("fs.file.impl" -> impl.getName,
        "fs.file.impl.disable.cache" -> "true")
      val out = root.resolve(impl.getSimpleName)
      val conf = spark.sessionState.newHadoopConfWithOptions(opts)
      Using.resource(FileSystem.newInstance(out.toUri, conf)) { fs =>
        assert(fs.getClass === impl)
      }
      df.write.options(opts).partitionBy("year", "month")
        .parquet(out.toString)
      tree(out)
    }
    try {
      val nio = write(classOf[NioLocalFileSystem])
      // Hadoop's own class, and the one `file:` resolves to without an
      // `fs.file.impl` (Hive's ProxyLocalFileSystem on Spark's jars)
      val stocks = Seq[Class[_ <: FileSystem]](classOf[LocalFileSystem],
        FileSystem.getFileSystemClass("file", new Configuration())).distinct
      for (impl <- stocks) {
        val stock = write(impl)
        assert(stock.keySet.exists(_.endsWith(".crc")))
        assert(stock.keySet.exists(_.endsWith("_SUCCESS")))
        assert(stock.keySet.exists(_.startsWith("year=2019/month=3/part-")))
        assert(nio.keySet === stock.keySet, impl.getName)
        assert(nio === stock, impl.getName)
      }
    } finally FileUtil.fullyDelete(root.toFile)
  }

  test("a writeParquetStream run leaves the permissions the stock " +
      "FileContext file system leaves") {
    val key = "fs.AbstractFileSystem.file.impl"
    val root = Files.createTempDirectory("graft-localfs-stream")
    val in = root.resolve("in").toString
    spark.range(0, 8, 1, 1).selectExpr("id", "id % 2 AS part")
      .write.parquet(in)
    val schema = spark.read.parquet(in).schema
    // checkpoint and sink-log writes go through FileContext, which builds
    // its file system per call from the session conf, so setting `key`
    // picks the class for one query
    def run(impl: String): Map[String, String] = {
      val out = root.resolve(impl.split('.').last)
      spark.conf.set(key, impl)
      try {
        assert(FileContext.getFileContext(out.toUri,
          spark.sessionState.newHadoopConf())
          .getDefaultFileSystem.getClass.getName === impl)
        val q = graft.streaming.StreamOps.writeParquetStream(
          spark.readStream.schema(schema).parquet(in),
          s"$out/data", s"$out/ck", partitionBy = Seq("part"))
        assert(q.awaitTermination(60000)); q.stop()
      } finally spark.conf.unset(key)
      tree(out)
    }
    try {
      val nio = run(classOf[NioLocalFs].getName)
      val stock = run("org.apache.hadoop.fs.local.LocalFs")
      assert(stock.keySet.exists(_.startsWith("ck/offsets/")))
      assert(stock.keySet.exists(_.startsWith("data/_spark_metadata/")))
      assert(stock.keySet.exists(_.endsWith(".crc")))
      assert(nio.keySet === stock.keySet)
      assert(nio === stock)
    } finally FileUtil.fullyDelete(root.toFile)
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission sets the mode bits the stock raw file system sets") {
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioLocalFileSystem.Raw)
    val root = Files.createTempDirectory("graft-localfs-modes")
    try {
      val a = Files.createFile(root.resolve("a"))
      val b = Files.createFile(root.resolve("b"))
      val modes = (0 until 9).map(1 << _) ++
        Seq("000", "644", "755", "777").map(Integer.parseInt(_, 8))
      for (m <- modes) {
        val perm = new FsPermission(m.toShort)
        stock.setPermission(new Path(a.toUri), perm)
        nio.setPermission(new Path(b.toUri), perm)
        assert(Files.getPosixFilePermissions(b) ===
          Files.getPosixFilePermissions(a), f"mode $m%04o")
      }
    } finally FileUtil.fullyDelete(root.toFile)
  }

  test("setPermission on a missing path raises FileNotFoundException") {
    val fs = raw(new NioLocalFileSystem.Raw)
    val root = Files.createTempDirectory("graft-localfs-missing")
    try intercept[FileNotFoundException](fs.setPermission(
      new Path(root.resolve("absent").toUri), new FsPermission("644")))
    finally FileUtil.fullyDelete(root.toFile)
  }
}
