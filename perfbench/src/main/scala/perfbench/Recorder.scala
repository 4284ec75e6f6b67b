package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Listener for the traced run. Records every job (interval, call site,
  * enclosing benchmark span), stage and task, and the cache/checkpoint
  * blocks stored, in memory; [[report]] reduces them to per-layer metrics.
  *
  * A job is attributed to a harvest layer by the source file in its Spark
  * call site ("head at HarvestJob.scala:62" → `harvest.HarvestJob`), and to
  * a span by the [[Recorder.SpanKey]] local property the benchmark sets
  * around each public call; threads the call starts inherit it.
  */
class Recorder extends SparkListener {
  import Recorder._

  private case class Job(id: Int, startMs: Long, callSite: String, span: Int, var endMs: Long = -1)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val executions = mutable.Map[Long, String]()
  private var stages = 0L
  private var tasks = 0L
  private var taskRetries = 0L
  private var taskCpuNs = 0L
  private var schedDelayMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var peakExecMemory = 0L
  private val blocks = mutable.Map[String, Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      val root = x.rootExecutionId.getOrElse(x.executionId)
      executions(x.executionId) = executions.getOrElse(root, x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
    // A job's call site is its SQL execution's ("head at HarvestJob.scala:62"):
    // adaptive execution runs stage jobs from its own threads, whose stages
    // carry no user frame. Plain RDD jobs name their result stage after it.
    val site = prop("spark.sql.execution.id").flatMap(id => executions.get(id.toLong))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs(e.jobId) = Job(e.jobId, e.time, site, prop(SpanKey).map(_.toInt).getOrElse(0))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    if (info.attemptNumber > 0) taskRetries += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
      peakExecMemory = math.max(peakExecMemory, m.peakExecutionMemory)
      // the Spark UI's scheduler delay: task wall not spent running,
      // (de)serializing or fetching its result
      val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val name = b.blockId.name
      if (!blocks.contains(name)) blocks(name) = b.memSize + b.diskSize
    }
  }

  /** The per-layer metrics of one traced run of `runS` seconds whose
    * public calls ran as `spans`; `written` is (files, bytes) the run left
    * in the store. Returns the `trace` line, with spans and jobs. */
  def report(spans: Seq[Harness.Span], runS: Double, written: (Long, Long)): String = synchronized {
    val done = jobs.values.filter(_.endMs >= 0).toSeq
    def busyS(js: Seq[Job]): Double = unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1e3
    def spanS(name: String): Double =
      spans.find(_.name == name).map(s => (s.endMs - s.startMs) / 1e3).getOrElse(0.0)
    def spanJobs(name: String): Seq[Job] =
      spans.find(_.name == name).map(s => done.filter(_.span == s.id)).getOrElse(Nil)

    val m = mutable.LinkedHashMap[String, Double]()
    val busy = busyS(done)
    m("spark.jobs") = done.size
    m("spark.stages") = stages
    m("spark.tasks") = tasks
    m("spark.task_retries") = taskRetries
    m("spark.job_busy_s") = busy
    m("spark.driver_only_s") = runS - busy
    m("spark.task_cpu_s") = taskCpuNs / 1e9
    m("spark.sched_delay_s") = schedDelayMs / 1e3
    m("spark.shuffle_write_bytes") = shuffleWrite
    m("spark.shuffle_read_bytes") = shuffleRead
    m("spark.spill_bytes") = spill
    m("spark.materialized_bytes") = blocks.values.sum
    m("spark.peak_execution_memory_bytes") = peakExecMemory

    val runSpan = "harvest.HarvestJob.run"
    val exportSpan = "harvest.Store.writeSqliteArtifact"
    m("harvest.HarvestJob.s") = spanS(runSpan)
    m("harvest.HarvestJob.self_s") = spanS(runSpan) - busyS(spanJobs(runSpan))
    for (layer <- Layers) {
      val js = done.filter(j => layerOf(j.callSite) == layer)
      m(s"harvest.$layer.job_s") = busyS(js)
      m(s"harvest.$layer.jobs") = js.size
    }
    m("harvest.other.jobs") = done.count(j => layerOf(j.callSite) == "other")
    m("harvest.Store.bytes_written") = written._2
    m("harvest.Store.files_written") = written._1
    val exportJobsS = busyS(spanJobs(exportSpan))
    m("harvest.Store.export_s") = exportJobsS
    m("harvest.Sqlite.build_s") = spanS(exportSpan) - exportJobsS
    m("trace.unaccounted_s") = runS - spans.map(s => (s.endMs - s.startMs) / 1e3).sum

    val metrics = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val spanJson = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      .mkString("[", ",", "]")
    val jobJson = done.map(j =>
      s"""{"id":${j.id},"span":${j.span},"layer":"${layerOf(j.callSite)}",""" +
        s""""call_site":${Harness.jsonStr(j.callSite)},"start_ms":${j.startMs},"end_ms":${j.endMs}}""")
      .mkString("[", ",", "]")
    s"""{"kind":"trace","metrics":$metrics,"spans":$spanJson,"jobs":$jobJson}"""
  }
}

object Recorder {
  /** SparkContext local property holding the id of the enclosing span. */
  val SpanKey = "perfbench.span"

  /** Harvest layers, named after the modules whose files make the calls;
    * jobs called from anywhere else count as "other". */
  val Layers: Seq[String] = Seq("HarvestJob", "Merge", "Validate", "Store")

  private val SiteFile = """ at (\w+)\.scala:""".r.unanchored

  def layerOf(callSite: String): String = callSite match {
    case SiteFile(f) if Layers.contains(f) => f
    case _ => "other"
  }

  /** Wall clock in epoch ms, on the same clock as Spark's event times. */
  def nowMs(): Double = System.currentTimeMillis().toDouble

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
