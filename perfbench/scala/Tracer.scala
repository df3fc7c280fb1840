package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting from outside the program.
  *
  * Always on: a Spark listener that sums task metrics per job group (the
  * runner sets the group `layer/op/opId` before each call), because the
  * end-to-end `shuffle_mb` needs it. With tracing on, also: a span per
  * round and per call (name, start, end, parent span, operation id), a
  * walk of every executed plan for codegen-fallback expressions and
  * broadcast sizes, and layer counters. Spans are written when the run
  * ends.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {

  private final class Acc {
    var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var tasks = 0L; var stages = 0L; var jobs = 0L
  }

  /** The job group of the call being timed, or null between calls. */
  @volatile var current: String = null

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map[String, Acc]()
  @volatile private var totalShuffleWrite = 0L

  private def layerOf(group: String): String =
    if (group == null) "none" else group.takeWhile(_ != '/')

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a streaming query runs its micro-batches under its own run id:
      // those jobs belong to the call that is running
      val own = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val g = if (own != null && own.contains('/')) own else current
      e.stageIds.foreach(s => if (g != null) stageGroup.put(s, g))
      if (g != null) accs.synchronized { accs.getOrElseUpdate(layerOf(g), new Acc).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.get(e.stageInfo.stageId)
      if (g != null) accs.synchronized {
        val a = accs.getOrElseUpdate(layerOf(g), new Acc)
        a.stages += 1
        a.tasks += e.stageInfo.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val w = m.shuffleWriteMetrics.bytesWritten
      accs.synchronized {
        totalShuffleWrite += w
        val g = stageGroup.get(e.stageId)
        if (g != null) {
          val a = accs.getOrElseUpdate(layerOf(g), new Acc)
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += w
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Drains the listener bus so every event of finished jobs is counted. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def shuffleWriteBytes: Long = accs.synchronized(totalShuffleWrite)

  /** Forgets everything counted so far (set-up and check pass). */
  def reset(): Unit = {
    drain()
    accs.synchronized { accs.clear() }
    plans.clear()
    counts.synchronized { counts.clear(); planningMs = 0.0; plannings = 0 }
  }

  // ------------------------------------------------------------- plans

  private val plans = new ConcurrentLinkedQueue[QueryExecution]()
  if (on) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Every node of an executed plan, through adaptive wrappers and query
    * stages; a reused exchange is not walked twice.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def fallbackExprs(p: SparkPlan): Int =
    nodes(p).map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum

  def broadcastBytes(p: SparkPlan): Long =
    nodes(p).collect { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum

  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var planningMs = 0.0
  private var plannings = 0

  /** With tracing on, the time to produce a call's executed plan before it
    * runs.
    */
  def plan(df: org.apache.spark.sql.DataFrame): Unit = if (on) {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    counts.synchronized {
      planningMs += (System.nanoTime() - t0) / 1e6
      plannings += 1
    }
  }

  def add(name: String, v: Double): Unit = counts.synchronized { counts(name) += v }

  /** Attributes the plans executed by the finished call to its layer; a
    * streaming query's micro-batch plans arrive here too, one per batch.
    */
  def afterOp(layer: String, op: String): Unit = if (on) {
    drain()
    var qe = plans.poll()
    while (qe != null) {
      val p = qe.executedPlan
      add(s"$layer.codegen_fallback_exprs", fallbackExprs(p))
      add(s"$layer.broadcast_mb", broadcastBytes(p) / 1e6)
      qe = plans.poll()
    }
  }

  // ------------------------------------------------------------- spans

  private final case class Span(id: Int, name: String, layer: String, parent: Int,
                                opId: Int, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private val t0 = System.nanoTime()

  def begin(name: String, layer: String, parent: Int, opId: Int): Int =
    if (!on) -1 else spans.synchronized {
      spans += Span(spans.size, name, layer, parent, opId, System.nanoTime() - t0, -1L)
      spans.size - 1
    }

  def end(id: Int): Unit = if (on && id >= 0) spans.synchronized {
    spans(id).end = System.nanoTime() - t0
  }

  def writeSpans(f: File): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      pw.println(Json.render(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op_id" -> s.opId, "start_ns" -> s.start,
        "end_ns" -> s.end)))
    } finally pw.close()
  }

  /** Per-layer metrics per round of the timed section. */
  def layerMetrics(rounds: Int): Map[String, Double] = {
    if (!on) return Map.empty
    val r = math.max(rounds, 1).toDouble
    val wall = spans.filter(s => s.layer != "round" && s.end > 0)
      .groupBy(_.layer).map { case (l, ss) => s"$l.wall_s" -> ss.map(s => (s.end - s.start) / 1e9).sum / r }
    val fromTasks = accs.synchronized {
      accs.toSeq.flatMap { case (l, a) =>
        Seq(s"$l.task_cpu_s" -> a.cpuNs / 1e9 / r,
          s"$l.gc_s" -> a.gcMs / 1e3 / r,
          s"$l.shuffle_write_mb" -> a.shuffleWrite / 1e6 / r,
          s"$l.spill_mb" -> a.spill / 1e6 / r,
          s"$l.jobs" -> a.jobs / r,
          s"$l.stages" -> a.stages / r,
          s"$l.tasks" -> a.tasks / r)
      }.toMap
    }
    val c = counts.synchronized(counts.toMap.map { case (k, v) => k -> v / r } +
      ("plans.planning_ms" -> (if (plannings == 0) 0.0 else planningMs / plannings)))
    wall ++ fromTasks ++ c
  }
}
