package graft

import org.apache.hadoop.fs.{FileContext, LocalFileSystem, Path}

class SessionFactorySpec extends SparkTestBase {

  test("factory pins UTC and shuffle partitions on the session it returns") {
    val shared = spark // materialize the suite session first
    // getOrCreate against an already-running session still applies the
    // builder's SQL confs — exactly the guarantee the harness mains
    // (Bench, Verify, PlanDump, ...) and this test base rely on instead
    // of hand-rolled builders
    val s = SparkSessionFactory.create(shufflePartitions = 7)
    try {
      assert(s eq shared, "one JVM-wide session (getOrCreate)")
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC",
        "UTC is pinned in code, not left to the build's -D flag")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
    } finally s.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("extraConf passthrough reaches the session") {
    val s = SparkSessionFactory.create(
      extraConf = Map("spark.sql.graft.test.flag" -> "on"))
    assert(s.conf.get("spark.sql.graft.test.flag") === "on")
  }

  test("session writes resolve the NIO local file system; an extraConf " +
      "fs.file.impl is applied after it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fs")
    try {
      val fs = new Path(tmp.toUri)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.getClass === classOf[NioLocalFileSystem])
    } finally java.nio.file.Files.delete(tmp)
    // an override reaches Hadoop only in a session that creates the
    // SparkContext and opens `file:` first in the JVM; the shared session
    // already did both, so the builder order is checked as a conf value
    val key = "spark.hadoop.fs.file.impl"
    val installed = spark.conf.getOption(key)
    val s = SparkSessionFactory.create(
      extraConf = Map(key -> classOf[LocalFileSystem].getName))
    try {
      assert(s.conf.get(key) === classOf[LocalFileSystem].getName)
    } finally installed match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("session FileContext writes resolve the NIO local file system") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fc")
    try {
      val conf = spark.sessionState.newHadoopConf()
      assert(conf.get("fs.AbstractFileSystem.file.impl") ===
        classOf[NioLocalFs].getName)
      val fc = FileContext.getFileContext(tmp.toUri, conf)
      assert(fc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    } finally java.nio.file.Files.delete(tmp)
  }

  test("Verify rejects a wrong argument count with its usage line") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage.contains("usage"))
  }

  test("PlanSnap rejects a wrong argument count with its usage line") {
    val e = intercept[IllegalArgumentException](PlanSnap.main(Array("x")))
    assert(e.getMessage.contains("usage"))
  }

  test("Main rejects a trailing argument that is not key=value") {
    val e = intercept[IllegalArgumentException](
      Main.main(Array("a", "b", "c", "oops")))
    assert(e.getMessage.contains("oops"))
  }
}
