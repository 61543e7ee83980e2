package graft

import scala.jdk.CollectionConverters._

/** One-order-up stress probe (VERDICT r16 item 7): run named registered
  * queries against an arbitrary (usually synthetic, scaled) table
  * directory and report, per run, wall seconds plus the RESOURCE
  * telemetry a wall clock hides — total shuffle bytes read/written and
  * the max stage-summed peak execution memory — via a SparkListener
  * over stage completions. Bytes-shuffled ratios across scales are the
  * evidence that an operator's exchanges are linear (or better) in the
  * data, independent of host noise; peak execution memory says which
  * resource ceiling the path hits first.
  *
  * The same listener also times every Spark job, for the two per-run
  * fixed-overhead numbers: `jobs`, the count of jobs started during the
  * run, and `driver_gap_s`, the run's wall time minus the union of
  * those jobs' [start, end] intervals (clipped to the run) — the time
  * no job was running: planning, driver-side loops and collects between
  * jobs, file listing and commits.
  *
  * Usage: `sbt "runMain graft.StressProbe <dir> <q1,q2,...> [runs]"` —
  * prints one JSON line per query with all runs. Per-query state
  * (operator caches and training memos, `OpCaches.resetQueryState`) is
  * reset after EVERY run so each run's counters are comparable;
  * min-of-runs therefore measures the codegen-warm (not cache-warm)
  * steady state, with run 1 additionally paying any build-if-missing
  * index cost. After each run the listener bus is drained to EMPTY
  * (`ListenerDrain`, the private[spark] `waitUntilEmpty` shim) so every
  * job and stage event lands before counters are read — exact isolation
  * between runs, not a fixed-sleep bound.
  */
object StressProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StressProbe <sfDir> <q1,q2,...> [runs] [shufflePartitions]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    // optional shuffle-partition override (VERDICT r18 item 1): the
    // per-partition aggregate/join state of an iterative at 100× data
    // is bounded by the reduce-side partition count — the knob a real
    // cluster sets anyway; measuring at 32 vs 256 separates "the
    // exchange volume grew" from "the per-task state ceiling bit"
    val shuffleParts = args.lift(3).map(_.toInt)
      .getOrElse(SparkSessionFactory.cpus)
    val spark = SparkSessionFactory.create(appName = "graft-stress",
      shufflePartitions = shuffleParts)
    val sc = spark.sparkContext
    val read = new java.util.concurrent.atomic.AtomicLong
    val written = new java.util.concurrent.atomic.AtomicLong
    val peak = new java.util.concurrent.atomic.AtomicLong
    // job id → [start, end] in the listener's epoch-ms clock; an end of
    // Long.MaxValue marks a job still open when the run finished
    val jobSpans =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobSpans.put(ev.jobId, Array(ev.time, Long.MaxValue))
      override def onJobEnd(
          ev: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobSpans.get(ev.jobId)).foreach(_(1) = ev.time)
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        }
      }
    })
    def mb(l: Long): Double = math.round(l / 1048.576) / 1000.0
    for (name <- names) {
      val rows = (1 to runs).map { _ =>
        read.set(0); written.set(0); peak.set(0); jobSpans.clear()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        // full-plan execution, not count() — Catalyst's count-rewrite
        // prunes real work (see the Bench.timeOne note)
        SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.execute().count()
        val sec = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        // exact listener drain (ADVICE r17): block until the bus queues
        // are empty so run N's stage events can't bleed into run N+1's
        // counters — a fixed sleep only bounds the lag probabilistically.
        // On a 2-minute timeout the run is RECORDED as drain-timed-out
        // (counters possibly under-read) instead of aborting the sweep
        // (r18 ADVICE — the old zero-arg call threw at Spark's 10 s
        // internal default, exactly under the backlog the drain is for).
        val drained = org.apache.spark.graft.ListenerDrain.drain(sc)
        graft.operators.OpCaches.resetQueryState()
        val spans = jobSpans.values.asScala.toSeq
          .map(a => (math.max(a(0), w0), math.min(a(1), w1)))
        var busy = 0L
        var covered = w0 // intervals are sorted by start: sweep the union
        spans.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
          case (s, e) =>
            if (e > covered) { busy += e - math.max(s, covered); covered = e }
        }
        val gap = (w1 - w0 - busy) / 1e3
        f"""{"sec":$sec%.3f,"jobs":${spans.size},"driver_gap_s":$gap%.3f,""" +
          s""""shuffle_read_mb":${mb(read.get)},""" +
          s""""shuffle_write_mb":${mb(written.get)},""" +
          s""""peak_exec_mem_mb":${mb(peak.get)},""" +
          s""""drain_timed_out":${!drained}}"""
      }
      println(s"""{"query":"$name","dir":"$dir",""" +
        s""""shuffle_partitions":$shuffleParts,""" +
        s""""runs":[${rows.mkString(",")}]}""")
    }
    spark.stop()
  }
}
