package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer trace of a Spark application, attached from outside.
  *
  * Every SQL execution and every job is attributed to a layer, named after
  * the program's packages:
  *  1. a write is attributed by the output directory it writes to
  *     (`outputLayers`, the last path component);
  *  2. otherwise by the innermost `graft.<layer>.` frame of its call site;
  *  3. otherwise to `defaultLayer`.
  *
  * Each execution's and job's span also keeps its call site's `graft.`
  * frames, so a reader can split one layer by the program function that
  * launched the work.
  *
  * Attach it to a CLI run with `-Dspark.extraListeners=perfbench.TraceListener`
  * and `-Dperfbench.trace.out=<file>`: it writes its summary to that file at
  * application end, which Spark's shutdown hook also reaches on `sys.exit`.
  * In-process, add an instance with `addSparkListener` and read [[summaryJson]]
  * after [[awaitQuiet]].
  */
class TraceListener(defaultLayer: String, outputLayers: Map[String, String])
    extends SparkListener {

  /** The CLI's layers: `ValidateTableMain`'s output directories name them. */
  def this() = this("cli", Map("violations" -> "checkpoint",
    "uniqueness_violations" -> "integrity", "referential_violations" -> "integrity",
    "stats" -> "stats"))

  private val layers = Set("compile", "exprs", "checkpoint", "integrity", "stats", "cli", "pipeline")

  final class Layer {
    var jobs = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var outBytes = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var heldBytes = 0L
    val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Task-time-weighted mean over stages of max / median task run time. */
    def skew: Double = {
      val stages = taskMsByStage.values.filter(_.size >= 2).map(_.sorted)
      val weight = stages.map(_.sum.toDouble).sum
      if (weight == 0) 1.0
      else stages.map { t =>
        val med = math.max(1L, t(t.size / 2))
        (t.last.toDouble / med) * (t.sum / weight)
      }.sum
    }
  }

  private val byLayer = mutable.LinkedHashMap.empty[String, Layer]
  private def layer(name: String) = byLayer.getOrElseUpdate(name, new Layer)

  // (layer, start ms, end ms, graft frames of the call site) of every SQL
  // execution and non-SQL job
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long, String)]
  private val execLayer = mutable.Map.empty[Long, String]
  private val execSite = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSite = mutable.Map.empty[Int, String]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[String, Long]
  private var current: Option[String] = None
  private var queries = 0L
  private var planningMs = 0L
  private var interpreted = 0L
  @volatile private var open = 0

  // the write node's formatted arguments start with its output path
  private val writeTarget = """(?m)^Arguments: [a-z]+:([^,\s]+),""".r
  private val graftFrame = """graft\.([a-z]+)\.""".r
  private val graftMethod = """^(graft\.[\w$.]+)\(""".r

  /** The call site's `graft.` frames (`Class.method`), innermost first,
    * joined by " < ". */
  private def siteOf(callSite: String): String =
    Option(callSite).getOrElse("").linesIterator
      .flatMap(l => graftMethod.findFirstMatchIn(l.trim).map(_.group(1)))
      .mkString(" < ")

  private def layerOf(callSite: String, plan: String): String =
    Option(plan).filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(writeTarget.findFirstMatchIn(_))
      .flatMap(m => outputLayers.get(m.group(1).stripSuffix("/").split('/').last))
      .orElse(Option(callSite).getOrElse("").linesIterator
        .flatMap(l => graftFrame.findFirstMatchIn(l.trim).map(_.group(1)))
        .find(layers))
      .getOrElse(defaultLayer)

  /** Blocks still held when a layer hands over to the next one. */
  private def enter(name: String): Unit = {
    current.filter(_ != name).foreach(prev => layer(prev).heldBytes = blocks.values.sum)
    current = Some(name)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val root = e.rootExecutionId.filter(_ != e.executionId)
        val name = root.flatMap(execLayer.get)
          .getOrElse(layerOf(e.details, e.physicalPlanDescription))
        execLayer(e.executionId) = name
        execSite(e.executionId) = root.flatMap(execSite.get).getOrElse(siteOf(e.details))
        execStart(e.executionId) = e.time
        queries += 1
        open += 1
        enter(name)
      case e: SparkListenerSQLExecutionEnd =>
        execLayer.get(e.executionId).foreach { name =>
          spans += ((name, execStart(e.executionId), e.time, execSite(e.executionId)))
          open -= 1
        }
        // the QueryExecution rides the event for root executions only;
        // the field is not part of Spark's public API, hence reflection
        val qe = scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption
          .collect { case q: QueryExecution => q }
        qe.foreach { q =>
          planningMs += q.tracker.phases.values.map(_.durationMs).sum
          interpreted += TraceListener.interpretedExprs(q)
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong))
    val site = e.stageInfos.headOption.map(_.details).orNull
    val name = exec.getOrElse(layerOf(site, null))
    jobLayer(e.jobId) = name
    if (exec.isEmpty) {
      jobStart(e.jobId) = e.time; jobSite(e.jobId) = siteOf(site); open += 1; enter(name)
    }
    e.stageIds.foreach(stageLayer(_) = name)
    layer(name).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      spans += ((jobLayer(e.jobId), t0, e.time, jobSite.remove(e.jobId).getOrElse("")))
      open -= 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val l = layer(stageLayer.getOrElse(e.stageId, defaultLayer))
      l.tasks += 1
      l.runMs += m.executorRunTime
      l.cpuNs += m.executorCpuTime
      l.gcMs += m.jvmGCTime
      l.inBytes += m.inputMetrics.bytesRead
      l.outBytes += m.outputMetrics.bytesWritten
      l.shWrite += m.shuffleWriteMetrics.bytesWritten
      l.shRead += m.shuffleReadMetrics.totalBytesRead
      l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      l.spill += m.diskBytesSpilled
      l.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      if (info.storageLevel.isValid) blocks(info.blockId.name) = info.memSize + info.diskSize
      else blocks.remove(info.blockId.name)
    }
  }

  // unpersist() removes blocks without a BlockUpdated event per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList.foreach(blocks.remove)
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    sys.props.get("perfbench.trace.out").foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), summaryJson)
    }

  /** Wait (up to `timeoutMs`) until every started execution and job has ended. */
  def awaitQuiet(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // trailing block updates
  }

  def summaryJson: String = synchronized {
    current.foreach(c => layer(c).heldBytes = blocks.values.sum)
    val mb = 1024.0 * 1024.0
    val ls = byLayer.map { case (name, l) =>
      s""""$name":{"jobs":${l.jobs},"tasks":${l.tasks},"task_s":${l.runMs / 1000.0},""" +
        s""""cpu_s":${l.cpuNs / 1e9},"gc_s":${l.gcMs / 1000.0},"input_mb":${l.inBytes / mb},""" +
        s""""output_mb":${l.outBytes / mb},"shuffle_write_mb":${l.shWrite / mb},""" +
        s""""shuffle_read_mb":${l.shRead / mb},"fetch_wait_s":${l.fetchWaitMs / 1000.0},""" +
        s""""spill_mb":${l.spill / mb},"task_skew":${l.skew},"blocks_held_mb":${l.heldBytes / mb}}"""
    }.mkString(",")
    val sp = spans.map { case (n, a, b, site) => s"""["$n",$a,$b,"$site"]""" }.mkString(",")
    s"""{"layers":{$ls},"spans":[$sp],"catalyst":{"queries":$queries,""" +
      s""""planning_s":${planningMs / 1000.0},"codegen_s":${TraceListener.codegenMs() / 1000.0},""" +
      s""""interpreted_exprs":$interpreted}}"""
  }
}

object TraceListener {

  private object plans extends AdaptiveSparkPlanHelper

  /** Expressions in the executed plan that run interpreted (CodegenFallback). */
  def interpretedExprs(qe: QueryExecution): Long =
    plans.collectWithSubqueries(qe.executedPlan) { case p => p }
      .map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum.toLong).sum

  /** Total generated-code compile time (ms) so far in this JVM. The
    * histogram keeps every sample up to its reservoir size (1028); past that
    * the sum is scaled from the sampled mean.
    */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val values = h.getSnapshot.getValues
    if (values.isEmpty) 0.0 else values.sum.toDouble * h.getCount / values.length
  }
}
