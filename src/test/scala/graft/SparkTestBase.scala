package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session (getOrCreate)
  * so suites don't pay repeated startup, pinned UTC like the harness. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  import org.apache.spark.sql.DataFrame

  /** Per-suite teardown: free operator-internal persisted state (both
    * per-query frames and the session-scoped training memos) so one
    * suite's caches don't bill memory to suites that run after it. */
  override protected def afterAll(): Unit = {
    try graft.operators.OpCaches.resetQueryState()
    finally super.afterAll()
  }

  /** Spark jobs started while `body` runs, counted by a listener that
    * sees only this body's events (the bus is drained on both sides). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    assert(ListenerDrain.drain(sc))
    sc.addSparkListener(listener)
    try {
      val r = body
      assert(ListenerDrain.drain(sc))
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Rows of a DataFrame as a sorted Seq of string-rendered tuples — a
    * deterministic, order-insensitive comparison form. */
  def rendered(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString(""))
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSessionFactory.create(
    master = "local[4]", shufflePartitions = 4, appName = "graft-tests",
    extraConf = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
