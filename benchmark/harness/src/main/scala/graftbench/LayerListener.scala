package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Splits the work of one operation across the program's modules.
  *
  * Every Spark job is attributed to the module of the first program frame
  * in the call site of the action that launched it. A SQL action's call
  * site is taken from its execution-start event; the jobs of that
  * execution, AQE stage jobs included, carry `spark.sql.execution.id` and
  * inherit it. Other jobs use their own stage call site. Frames of the
  * benchmark's own sink count as `Queries`: the sink forces the plan a
  * query returned.
  *
  * RDD block sizes are tracked whenever an operation is open; the detailed
  * counters only while `tracing` is set. Events arrive on the listener bus
  * thread, so state is guarded by `this`.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  @volatile var tracing = false
  @volatile private var open = false

  private final class Exec(val site: Site) {
    val fileAccs = mutable.Set.empty[Long]
    var lastTaskEnd = 0L
  }

  private val execs = mutable.Map.empty[Long, Exec]
  private val stageSite = mutable.Map.empty[Int, (Site, Option[Long])]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var stored = 0L
  private var storedPeak = 0L

  private var counters = mutable.Map.empty[String, Array[Double]]
  private var materializeS = 0.0
  private var outFiles = 0.0
  private var commitS = 0.0

  /** Opens an operation: counters restart, the storage peak restarts from
    * what is stored now. */
  def begin(): Unit = synchronized {
    counters = mutable.Map.empty
    intervals.clear()
    materializeS = 0.0; outFiles = 0.0; commitS = 0.0
    storedPeak = stored
    open = true
  }

  /** Closes the operation once the bus has drained, returning its counters.
    * `timed` are the operation's measured intervals (epoch ms); driver time
    * is the part of them no job covers. */
  def end(sc: org.apache.spark.SparkContext, timed: Seq[(Long, Long)]): Layers = {
    org.apache.spark.SparkInternals.drain(sc)
    synchronized {
      open = false
      Layers(counters.map { case (k, v) => k -> v.clone() }.toMap,
        driverS = timed.map { case (a, b) => b - a - covered(a, b) }.sum / 1e3,
        materializeS = materializeS, outFiles = outFiles, commitS = commitS,
        storedPeakBytes = storedPeak)
    }
  }

  private def covered(from: Long, to: Long): Long = {
    var total = 0L; var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { total += b - lo; reach = b }
      }
    total
  }

  private def add(module: String, i: Int, v: Double): Unit =
    counters.getOrElseUpdate(module, new Array[Double](Counters.size))(i) += v

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    if (open && tracing) event match {
      case e: SparkListenerSQLExecutionStart =>
        val x = new Exec(siteOf(e.details))
        x.fileAccs ++= writtenFileAccs(e.sparkPlanInfo)
        execs(e.executionId) = x
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(e.executionId).foreach(_.fileAccs ++= writtenFileAccs(e.sparkPlanInfo))
      case e: SparkListenerDriverAccumUpdates =>
        execs.get(e.executionId).foreach { x =>
          e.accumUpdates.foreach { case (id, v) => if (x.fileAccs(id)) outFiles += v }
        }
      case e: SparkListenerSQLExecutionEnd =>
        execs.remove(e.executionId).foreach { x =>
          if (x.fileAccs.nonEmpty && x.lastTaskEnd > 0)
            commitS += math.max(0L, e.time - x.lastTaskEnd) / 1e3
        }
      case _ => ()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open && tracing) {
      val execId = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = execId.flatMap(execs.get).map(_.site).getOrElse(
        siteOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
      e.stageIds.foreach(s => if (!stageSite.contains(s)) stageSite(s) = (site, execId))
      jobStart(e.jobId) = e.time
      add(site.module, 0, 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => if (open) intervals += ((t, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (open && tracing && m != null) stageSite.get(e.stageId).foreach {
      case (site, execId) =>
        val mod = site.module
        val runS = m.executorRunTime / 1e3
        add(mod, 1, runS)
        add(mod, 2, m.executorCpuTime / 1e9)
        add(mod, 3, m.jvmGCTime / 1e3)
        add(mod, 4, m.inputMetrics.bytesRead.toDouble)
        add(mod, 5, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(mod, 6, m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(mod, 7, m.diskBytesSpilled.toDouble)
        add(mod, 8, m.outputMetrics.bytesWritten.toDouble)
        add(mod, 9, m.resultSize.toDouble)
        if (site.materialize) materializeS += runS
        execId.flatMap(execs.get).foreach(x =>
          x.lastTaskEnd = math.max(x.lastTaskEnd, e.taskInfo.finishTime))
    }
  }

  // unpersist drops blocks without per-block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toSeq.foreach(id => stored -= blocks.remove(id).get)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        stored += size - blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        if (open) storedPeak = math.max(storedPeak, stored)
      case _ => ()
    }
  }
}

object LayerListener {
  /** Per-module counters, in the order `Layers.counters` arrays hold them. */
  val Counters: Seq[String] = Seq("jobs", "task_s", "cpu_s", "gc_s", "scan_bytes",
    "shuffle_write_bytes", "shuffle_wait_s", "spill_bytes", "out_bytes", "result_bytes")

  private val Packages =
    Set("pipeline", "sources", "analytics", "quality", "operators", "plans")

  private final case class Site(module: String, materialize: Boolean)

  /** Per-operation result; counters are keyed by module. */
  final case class Layers(counters: Map[String, Array[Double]], driverS: Double,
      materializeS: Double, outFiles: Double, commitS: Double,
      storedPeakBytes: Long)

  private val MaterializeCall =
    Seq("localCheckpoint", "checkpoint(", "persist(", ".cache(")

  private def siteOf(details: String): Site =
    Site(details.split("\n").iterator.flatMap(moduleOfFrame).nextOption()
      .getOrElse("other"), MaterializeCall.exists(details.contains))

  /** The module a stack frame such as
    * `graft.operators.Graph$.pageRank(Graph.scala:82)` belongs to; frames
    * outside the listed modules (Spark, `graft.functions`, …) yield None. */
  def moduleOfFrame(frame: String): Option[String] = {
    val t = frame.trim.stripPrefix("at ")
    val cls = t.substring(t.lastIndexOf('/', math.max(0, t.indexOf('('))) + 1)
    cls.split('.').toList match {
      case "graftbench" :: _ => Some("Queries")
      case "graft" :: seg :: _ if seg.startsWith("Queries") => Some("Queries")
      case "graft" :: seg :: _ if Packages(seg) => Some(seg)
      case _ => None
    }
  }

  private def writtenFileAccs(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files").map(_.accumulatorId) ++
      p.children.flatMap(writtenFileAccs)
}
