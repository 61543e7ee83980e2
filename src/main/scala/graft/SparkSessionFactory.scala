package graft

import org.apache.spark.sql.SparkSession

/** The one place graft sessions are built (SURVEY §7.1 item 1) — the
  * engine's replacement for the reference's session wrapper
  * (/root/reference/spark.py:32–74, a Singleton-metaclass class that
  * centralized creds + extra jars). Credentials and jars are deployment
  * concerns, not engine concerns, so here they ride the generic
  * `extraConf` passthrough (e.g. `fs.s3a.*`, committer settings) while
  * the factory pins what the ENGINE's semantics rely on:
  *
  *   - UTC session timezone — the D1 epoch→timestamp conversions and the
  *     DuckDB oracle are only comparable under one fixed zone (SURVEY
  *     §7.4.3); pinned in code, not left to the build's `-D` flag;
  *   - `spark.sql.shuffle.partitions` = cores for the local harness
  *     (Spark's 200 default serializes small stages; a cluster deployment
  *     passes its own value or relies on AQE coalescing);
  *   - no UI (headless harness);
  *   - `file:` paths resolve to `graft.NioLocalFileSystem`, which sets
  *     permissions on written files through NIO instead of one `chmod`
  *     process each where Hadoop's native library is absent. An
  *     `extraConf` entry for `spark.hadoop.fs.file.impl` replaces it.
  *     Both take effect only when this call creates the SparkContext,
  *     and only if no `file:` file system was opened earlier in the JVM
  *     (Hadoop caches one instance per scheme and user); a SparkContext
  *     made outside the factory (spark-shell, a notebook) keeps Hadoop's
  *     default;
  *   - `FileContext` `file:` paths (streaming checkpoints, file-sink
  *     metadata logs) resolve to `graft.NioLocalFs`, the same NIO raw
  *     layer. Hadoop builds these per call, uncached, so a session conf
  *     `fs.AbstractFileSystem.file.impl` also replaces it per query.
  */
object SparkSessionFactory {

  /** Harness core count: SPARK_GRAFT_CPUS, defaulting to 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def create(master: String = s"local[$cpus]",
             shufflePartitions: Int = cpus,
             appName: String = "graft",
             extraConf: Map[String, String] = Map.empty,
             logLevel: String = "WARN"): SparkSession = {
    val base = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
    val s = extraConf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
