package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, SparkSessionFactory, Tables}
import graft.etl.SparkifyEtl
import graft.operators.{Ngrams, OpCaches}

/** One interval of the span tree workload → pass → query → phase → job.
  * Times are epoch ms, the clock the scheduler stamps jobs with. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Benchmark JVM: sets up a session several times, runs one cold
  * pass (keeping its outputs, untimed, for the DuckDB check on the Python
  * side), then warm passes for the measurement window. Writes one JSON
  * result file; prints nothing the caller parses.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0/1),
  * data (parquet corpus dir), work (working dir inside the checkout),
  * result (JSON path), spans (trace output path), setup-reps, and either
  * queries (comma list) or songs + logs (ETL JSON globs). */
object Runner {

  private val etlTables = Seq("songs", "artists", "users", "time", "songplays")

  /** The cold pass; its outputs are kept for the correctness check. */
  private val ColdPass = 0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    new Runner(a).run()
  }

  /** Per-query state a timed execution must not inherit: operator
    * persists, and the BPE / unigram training memos (so those rows price
    * training, not a memo hit). */
  def resetQueryState(): Unit = {
    OpCaches.release(blocking = true)
    Ngrams.clearBpeCache()
    Ngrams.clearUnigramCache()
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    c.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (data files, bytes) under a directory, ignoring Spark's marker and
    * checksum files. */
  def dataFiles(dir: File): (Long, Long) = {
    val all = mutable.ArrayBuffer.empty[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk)) else all += f
    walk(dir)
    val data = all.filter(f => f.getName.endsWith(".parquet"))
    (data.size.toLong, data.map(_.length).sum)
  }
}

final class Runner(a: Map[String, String]) {
  import Runner._

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val dataDir = a("data")
  private val work = new File(a("work"))
  private val setupReps = a("setup-reps").toInt
  private val isEtl = workload == "etl_sparkify"
  private val queries: Seq[String] =
    a.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Epoch ms with nanosecond resolution. */
  private def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def span(parent: Long, kind: String, name: String,
                   start: Double, end: Double): Span = {
    nextId += 1
    val s = Span(nextId, parent, kind, name, start, end)
    spans += s
    s
  }

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val registeredAt = mutable.HashMap.empty[Long, Int]
  // ETL write commands seen by the QueryExecutionListener:
  // (table, start ms, end ms, analysis s, optimization s, planning s)
  private val writes = mutable.ArrayBuffer.empty[(String, Double, Double, Double, Double, Double)]
  private val etlFiles = mutable.LinkedHashMap.empty[String, (Long, Long)]

  private object WriteListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val table = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
      }
      table.foreach { t =>
        val end = now()
        val ph = qe.tracker.phases
        def sec(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
        writes.synchronized {
          writes += ((t, end - durationNs / 1e6, end, sec("analysis"),
            sec("optimization"), sec("planning")))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def createSession(): SparkSession = {
    val s = SparkSessionFactory.create(appName = s"perfbench-$workload", extraConf = Map(
      "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath,
      "spark.hadoop.hadoop.tmp.dir" -> new File(work, "hadoop").getAbsolutePath))
    s.range(1 << 20).selectExpr("sum(id)").collect()
    // load the readers and writers the workload uses, so the cold pass
    // prices the workload rather than first-use class loading
    if (isEtl)
      s.read.json(a("logs")).limit(100).write.mode("overwrite")
        .parquet(new File(work, "warmup").getAbsolutePath)
    else
      Tables.load(s, dataDir, "lineitem").groupBy("l_returnflag").count().collect()
    s
  }

  def run(): Unit = {
    work.mkdirs()
    val setupSamples = (1 to setupReps).map { i =>
      val t = System.nanoTime()
      val s = createSession()
      val dt = (System.nanoTime() - t) / 1e9
      if (i < setupReps) s.stop() else spark = s
      dt
    }
    val root = span(0, "workload", workload, now(), Double.NaN)

    if (isEtl) spark.listenerManager.register(WriteListener)
    val cold = runPass(root.id, ColdPass)

    // Warm passes: start one only if it is expected to end inside the
    // window, and always run at least four (when tracing, traced and
    // untraced passes alternate so the tracer's own cost is measurable).
    val window0 = now()
    val minPasses = 4
    val warm = mutable.ArrayBuffer.empty[(Map[String, Double], Boolean)]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last = cold._2.values.sum
    def elapsed = (now() - window0) / 1000.0
    while (warm.size < minPasses || elapsed + last <= seconds) {
      val withTracer = traced && warm.size % 2 == 0
      if (withTracer) {
        tracer.restartStorage()
        spark.sparkContext.addSparkListener(tracer)
      }
      val (p, times) = runPass(root.id, warm.size + 1)
      if (withTracer) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        perPass += layerMetrics(p, times.values.sum)
      }
      warm += ((times, withTracer))
      last = times.values.sum
    }
    spans(spans.indexOf(root)) = root.copy(end = now())

    val untraced = warm.filterNot(_._2).map(_._1)
    val untracedWalls = untraced.map(_.values.sum)
    // a pass's wall as the sum of each query's median over the untraced
    // passes: one slow query in one pass does not move it
    val wall = untraced.flatMap(_.keys).distinct
      .map(q => median(untraced.flatMap(_.get(q)))).sum
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val names = perPass.flatMap(_.keys).distinct
        val m = names.map(n => n -> median(perPass.map(_.getOrElse(n, 0.0)))).toMap
        m + ("trace.overhead_s" -> (m("traced.wall_s") - median(untracedWalls)))
      }
    val result = Map(
      "workload" -> workload,
      "setup_session_s" -> setupSamples,
      "cold_s" -> cold._2.values.sum,
      "wall_s" -> wall,
      "warm_s" -> untracedWalls,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.take(20),
      "peak_rss_mb" -> vmHwmMb(),
      "layers" -> layers,
      "check_dir" -> (if (isEtl) etlOut(ColdPass) else checkDir).getAbsolutePath)
    Files.writeString(Paths.get(a("result")), json(result) + "\n")
    if (traced) writeSpans()
    spark.stop()
  }

  /** One pass over the workload, starting from a collected heap. Returns
    * the timed seconds of each query; the per-query reset between them is
    * not timed. */
  private def runPass(rootId: Long, idx: Int): (Span, Map[String, Double]) = {
    System.gc()
    val passStart = now()
    val passId = { nextId += 1; nextId }
    val times =
      if (isEtl) Map("etl" -> etlRun(passId, idx))
      else new Random(seed * 1000003L + idx).shuffle(queries)
        .map(q => q -> timedQuery(passId, q, check = idx == ColdPass)).toMap
    val p = Span(passId, rootId, "pass", s"pass-$idx", passStart, now())
    spans += p
    (p, times)
  }

  /** Times build, plan and exec of one query. With `check`, the result is
    * then written (untimed) for the DuckDB comparison, reusing the
    * operators' materialized state instead of building the query again. */
  private def timedQuery(passId: Long, q: String, check: Boolean): Double = {
    resetQueryState()
    val fn = SparkEntry.queries(q)
    attempted += 1
    val t0 = now()
    var t1 = t0
    var t2 = t0
    var qe: QueryExecution = null
    var df: DataFrame = null
    try {
      df = fn(spark, dataDir)
      t1 = now()
      qe = df.queryExecution
      val plan = qe.executedPlan
      t2 = now()
      plan.execute().count()
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$q: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"
        if (t1 == t0) t1 = now()
        if (t2 < t1) t2 = now()
    }
    val t3 = now()
    val qs = span(passId, "query", q, t0, t3)
    span(qs.id, "build", q, t0, t1)
    val plan = span(qs.id, "plan", q, t1, t2)
    if (qe != null) {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => span(plan.id, "catalyst", p, s.startTimeMs.toDouble,
          s.startTimeMs.toDouble + s.durationMs))
      }
    }
    span(qs.id, "exec", q, t2, t3)
    registeredAt(qs.id) = OpCaches.registered
    if (check && df != null) {
      try df.coalesce(1).write.parquet(new File(checkDir, q).getAbsolutePath)
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"check $q: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    (t3 - t0) / 1000.0
  }

  private def etlRun(passId: Long, idx: Int): Double = {
    resetQueryState()
    val out = etlOut(idx)
    writes.synchronized(writes.clear())
    attempted += 1
    val t0 = now()
    try SparkifyEtl.run(spark, a("songs"), a("logs"), out.getAbsolutePath)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"etl: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"
    }
    val t1 = now()
    val qs = span(passId, "query", "etl", t0, t1)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    writes.synchronized(writes.toList).foreach { case (t, s, e, an, op, pl) =>
      val w = span(qs.id, "write", t, s, e)
      span(w.id, "catalyst", "analysis", s, s + an * 1000)
      span(w.id, "catalyst", "optimization", s, s + op * 1000)
      span(w.id, "catalyst", "planning", s, s + pl * 1000)
    }
    // output accounting happens outside the timed region; the cold
    // pass's output is kept for the correctness check
    etlTables.foreach(t => etlFiles(t) = dataFiles(new File(out, t)))
    if (idx != ColdPass) deleteTree(out)
    (t1 - t0) / 1000.0
  }

  private def etlOut(idx: Int) = new File(work, s"etl_out/pass-$idx")

  /** Where the cold pass leaves the outputs the caller compares against
    * DuckDB, with the oracle SQL of each query beside them. */
  private lazy val checkDir: File = {
    val dir = new File(work, "check")
    dir.mkdirs()
    if (!isEtl)
      Files.writeString(Paths.get(dir.getPath, "oracle_sql.json"),
        json(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap) + "\n")
    dir
  }

  /** Layer split of one traced pass. Each job belongs to the phase that
    * was running when it started; the client is single-threaded, so the
    * phases of one pass never overlap. */
  private def layerMetrics(pass: Span, wall: Double): Map[String, Double] = {
    val qs = spans.filter(s => s.parent == pass.id && s.kind == "query")
    val qIds = qs.map(_.id).toSet
    val phases = spans.filter(s => qIds.contains(s.parent) &&
      Set("build", "plan", "exec").contains(s.kind))
    val jobs = tracer.synchronized(tracer.jobs.toList)
      .filter(j => qs.exists(q => j.start >= q.start && j.start <= q.end))
    def phaseOf(j: JobRec): String =
      if (isEtl) {
        if (writes.exists { case (_, s, e, _, _, _) => j.start >= s && j.start <= e }) "exec"
        else "build"
      } else phases.find(p => j.start >= p.start && j.start <= p.end).map(_.kind).getOrElse("other")
    val byPhase = jobs.groupBy(phaseOf)
    val cores = spark.sparkContext.defaultParallelism.toDouble
    val busy = qs.map(q => unionLength(jobs.map(j => (j.start, j.end)), q.start, q.end)).sum / 1000.0
    val taskRun = jobs.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    val m = mutable.LinkedHashMap.empty[String, Double]

    if (isEtl) {
      val ws = writes.synchronized(writes.toList)
      val writeS = ws.map { case (_, s, e, _, _, _) => (e - s) / 1000.0 }.sum
      m("plan.analysis_s") = ws.map(_._4).sum
      m("plan.optimization_s") = ws.map(_._5).sum
      m("plan.planning_s") = ws.map(_._6).sum
      // the commands plan inside their own duration
      m("plan.s") = m("plan.optimization_s") + m("plan.planning_s")
      m("exec.s") = math.max(writeS - m("plan.s"), 0.0)
      m("build.s") = math.max(wall - writeS, 0.0)
      val q = qs.head
      m("etl.infer_s") = unionLength(byPhase.getOrElse("build", Nil).map(j => (j.start, j.end)),
        q.start, q.end) / 1000.0
      etlTables.foreach { t =>
        m(s"etl.$t.write_s") = ws.filter(_._1 == t).map { case (_, s, e, _, _, _) => (e - s) / 1000.0 }.sum
        m(s"etl.$t.files") = etlFiles.get(t).map(_._1.toDouble).getOrElse(0.0)
      }
      m("etl.files_out") = etlFiles.values.map(_._1).sum.toDouble
      m("etl.bytes_out_mb") = etlFiles.values.map(_._2).sum / mb
    } else {
      def sumKind(k: String) = phases.filter(_.kind == k).map(_.seconds).sum
      m("build.s") = sumKind("build")
      m("plan.s") = sumKind("plan")
      m("exec.s") = sumKind("exec")
      val cat = spans.filter(s => s.kind == "catalyst" && phases.exists(p => p.id == s.parent))
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"plan.${p}_s") = cat.filter(_.name == p).map(_.seconds).sum
      }
    }
    m("traced.wall_s") = wall
    m("build.jobs") = byPhase.getOrElse("build", Nil).size
    m("build.task_s") = byPhase.getOrElse("build", Nil).map(_.runMs).sum / 1000.0
    m("exec.jobs") = byPhase.getOrElse("exec", Nil).size
    m("stages") = jobs.map(_.stages).sum
    m("tasks") = jobs.map(_.tasks).sum
    m("task_run_s") = taskRun
    m("task_cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    m("gc_s") = jobs.map(_.gcMs).sum / 1000.0
    m("parallel_eff") = if (busy > 0) taskRun / (cores * busy) else 0.0
    m("driver_gap_s") = wall - busy
    m("input_mb") = jobs.map(_.inBytes).sum / mb
    m("shuffle_read_mb") = jobs.map(_.shReadBytes).sum / mb
    m("shuffle_write_mb") = jobs.map(_.shWriteBytes).sum / mb
    m("spill_mb") = jobs.map(_.spillBytes).sum / mb
    m("output_mb") = jobs.map(_.outBytes).sum / mb
    m("output_records") = jobs.map(_.outRecords).sum.toDouble
    jobs.groupBy(_.module).foreach { case (mod, js) =>
      m(s"$mod.jobs") = js.size
      m(s"$mod.job_s") = js.map(_.seconds).sum
    }
    m("opcaches.registered") = qs.map(q => registeredAt.getOrElse(q.id, 0).toDouble).sum
    m("storage.peak_mb") = tracer.storagePeak / mb
    m("reconcile.err") = math.abs(m("build.s") + m("plan.s") + m("exec.s") - wall) / wall

    // record the jobs in the span tree under their phase
    jobs.foreach { j =>
      val parent =
        if (isEtl) qs.head.id
        else phases.find(p => j.start >= p.start && j.start <= p.end).map(_.id).getOrElse(pass.id)
      span(parent, "job", s"${j.id} ${j.module} ${j.site}", j.start, j.end)
    }
    m.toMap
  }

  private def writeSpans(): Unit = {
    val lines = spans.map { s =>
      json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }
    Files.writeString(Paths.get(a("spans")), lines.mkString("", "\n", "\n"))
  }
}
