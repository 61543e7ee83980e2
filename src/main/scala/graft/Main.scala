package graft

/** Production entry point for cluster submit — the engine's equivalent of
  * the reference's `main.py` (/root/reference/main.py:5–22: build session,
  * run song-data then log-data ETL against the configured bucket).
  *
  * Usage (see README "Production deployment"):
  * {{{
  * spark-submit --master yarn --deploy-mode cluster \
  *   --class graft.Main graft_2.13.jar \
  *   "s3a://bucket/song_data/&#42;/&#42;/&#42;/&#42;.json" \
  *   "s3a://bucket/log_data/&#42;.json" s3a://bucket/lake [key=value ...]
  * }}}
  *
  * Trailing `key=value` args become SparkSession conf (the `extraConf`
  * passthrough — S3A committer/credentials settings ride here or in
  * `spark-submit --conf`); credentials belong to the cluster role, never
  * to code or files in this repo.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val usage =
      "usage: graft.Main <songJsonGlob> <logJsonGlob> <outDir> [k=v ...]"
    if (args.length < 3) {
      System.err.println(usage)
      sys.exit(1)
    }
    val Array(songGlob, logGlob, outDir) = args.take(3)
    // a mistyped conf (`key:value`, `=value`) fails here, before the
    // session is built, instead of running silently on the defaults
    val extraConf = args.drop(3).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"conf argument '$kv' is not key=value; $usage")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    // under spark-submit the master comes from the submit command; the
    // factory default only applies when launched standalone
    val spark = SparkSessionFactory.create(
      master = sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[${SparkSessionFactory.cpus}]")),
      appName = "graft-etl",
      extraConf = extraConf)
    try etl.SparkifyEtl.run(spark, songGlob, logGlob, outDir)
    finally spark.stop()
  }
}
