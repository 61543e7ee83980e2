package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the scheduler reported it. Times are epoch ms. */
final class JobRec(val id: Int, val module: String, val site: String, val start: Double) {
  var end: Double = start
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var shReadBytes = 0L
  var shWriteBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRecords = 0L
  def seconds: Double = (end - start) / 1000.0
}

/** Listener that records every job with its stage and task totals and the
  * graft module in its call site, plus the bytes held in RDD blocks (cache
  * and checkpoint storage). It only collects; the runner assigns jobs to
  * phases by time after draining the bus. */
final class Tracer extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val open = mutable.HashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  private val execModule = mutable.HashMap.empty[Long, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  private var storageMax = 0L

  /** Forget tracked blocks, so the peak counts bytes added from now on. */
  def restartStorage(): Unit = synchronized {
    blocks.clear()
    storageNow = 0L
    storageMax = 0L
  }

  def storagePeak: Long = synchronized(storageMax)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = e.stageInfos.maxByOption(_.stageId)
    // AQE and broadcast jobs start on pool threads whose stack has no
    // graft frame; the SQL execution they belong to was started from the
    // graft call that asked for the result
    val module = last.map(s => Tracer.moduleOf(s.details)).filter(_ != "other")
      .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong)))
      .getOrElse("other")
    val r = new JobRec(e.jobId, module, last.map(_.name).getOrElse(""), e.time.toDouble)
    jobs += r
    open(e.jobId) = r
    e.stageIds.foreach(byStage(_) = r)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execModule(s.executionId) = Tracer.moduleOf(s.details) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { byStage.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inBytes += m.inputMetrics.bytesRead
        r.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outBytes += m.outputMetrics.bytesWritten
        r.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        val size =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        storageNow += size - blocks.getOrElse(key, 0L)
        if (size == 0L) blocks.remove(key) else blocks(key) = size
        storageMax = math.max(storageMax, storageNow)
      }
    }
}

object Tracer {
  // a frame renders as `graft.X$.m(F.scala:1)`, or with a class-loader
  // prefix such as `app//graft.X$.m(F.scala:1)`
  private val Frame = """(?:^|[\s/])graft\.([A-Za-z0-9_.$]+)\(""".r

  /** The innermost graft class in a job's long call site, without the
    * `graft.` prefix (`operators.Graphs`, `Tables`, ...); jobs started by
    * the benchmark itself or from threads with no graft frame are
    * "other". */
  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.flatMap { line =>
      Frame.findFirstMatchIn(line).map { m =>
        val qualified = m.group(1)
        val cls = qualified.substring(0, math.max(qualified.lastIndexOf('.'), 0))
        cls.takeWhile(_ != '$')
      }
    }.find(c => c.nonEmpty && !c.startsWith("perfbench"))
      .getOrElse("other")
}
