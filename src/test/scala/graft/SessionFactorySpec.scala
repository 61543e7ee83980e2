package graft

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

  test("Verify rejects a wrong argument count with its usage line") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage.contains("usage"))
  }
}
