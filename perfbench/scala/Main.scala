package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload round: a call into one layer's public API.
  * `rows` is the number of input rows the call consumes.
  */
final case class Op(name: String, layer: String, rows: Long)(val run: () => Unit)

/** A workload: inputs loaded and artifacts built in `setup`, a fixed
  * operation sequence per round, and a check pass that writes every output
  * the Python checks read.
  */
trait Workload {
  def setup(spark: SparkSession, tracer: Tracer): Unit
  def round(spark: SparkSession): Seq[Op]
  /** Called before each round (e.g. memo clears); inside the round's time. */
  def beforeRound(spark: SparkSession): Unit = ()
  /** Called after each round, outside the timed section. */
  def afterRound(spark: SparkSession, tracer: Tracer): Unit = ()
  /** Called between rounds, outside the timed section: releases what the
    * last round left pinned, so that every round starts from the same state.
    * Not called after the last round: the retained heap is read with what
    * the program itself still holds.
    */
  def betweenRounds(spark: SparkSession): Unit = ()
  def checkPass(spark: SparkSession, out: String, tracer: Tracer): Unit
  /** Untimed rounds after the check pass, where the JIT is still settling. */
  def warmRounds: Int = 0
  /** Layer counters that come from the check pass or set-up. */
  def counters: Map[String, Double] = Map.empty
}

object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The run's tracer, for the helpers below. */
  @volatile var tracer: Tracer = _

  /** Materializes a call's result through the noop sink. */
  def noop(df: DataFrame): Unit = {
    tracer.plan(df)
    df.write.format("noop").mode("overwrite").save()
  }

  /** Collects a call's result, where a user would collect. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    tracer.plan(df)
    df.collect()
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val in = arg(args, "--in")
    val out = arg(args, "--out")
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val cores = arg(args, "--cores").toInt
    val setups = arg(args, "--setups").toInt

    // An inherited artifact store would make memo builds read persisted
    // parquet instead of computing: the benchmark measures computation.
    require(!sys.props.contains(graft.queries.ArtifactStore.DirConf),
      s"${graft.queries.ArtifactStore.DirConf} must not be inherited")

    val w: Workload = workload match {
      case "fixed_income" => new FixedIncome(in)
      case "curation" => new Curation(in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up (session start, input load), repeated: the first repeat pays
    // JVM class loading and JIT; the median is reported
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, out)
      require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
        s"${graft.queries.ArtifactStore.DirConf} must be unset")
      tracer = new Tracer(spark, trace)
      w.setup(spark, tracer)
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"set-up $i done in ${setupS.last}%.1f s")
    }

    // the check pass runs every operation of a round once, untimed, writing
    // its outputs for the checks; it is also the warm-up, and a failure in
    // it fails the run
    val ct0 = System.nanoTime()
    w.checkPass(spark, s"$out/check", tracer)
    log(f"check pass ${(System.nanoTime() - ct0) / 1e9}%.1f s")
    // untimed warm rounds; a failure in them fails the run
    for (i <- 0 until w.warmRounds) {
      val wt0 = System.nanoTime()
      w.beforeRound(spark)
      w.round(spark).foreach(_.run())
      w.afterRound(spark, tracer)
      w.betweenRounds(spark)
      log(f"warm round $i ${(System.nanoTime() - wt0) / 1e9}%.1f s")
    }
    tracer.reset()

    // timed rounds: whole rounds until `seconds` of round time has passed
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val roundCpu = mutable.ArrayBuffer[Double]()
    val roundShuffle = mutable.ArrayBuffer[Double]()
    var elapsed = 0.0
    var round = 0
    var failed = 0
    while (elapsed < seconds || round == 0) {
      if (round > 0) w.betweenRounds(spark)
      val rSpan = tracer.begin("round", "round", -1, round)
      val shuffle0 = tracer.shuffleWriteBytes
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      w.beforeRound(spark)
      val seq = w.round(spark)
      for ((op, k) <- seq.zipWithIndex) {
        val opId = round * 1000 + k
        tracer.current = s"${op.layer}/${op.name}/$opId"
        spark.sparkContext.setJobGroup(tracer.current, op.name)
        val span = tracer.begin(op.name, op.layer, rSpan, opId)
        val ot0 = System.nanoTime()
        val err = try { op.run(); None } catch {
          case NonFatal(e) => Some(e)
        }
        val ms = (System.nanoTime() - ot0) / 1e6
        tracer.end(span)
        spark.sparkContext.clearJobGroup()
        tracer.drain()
        tracer.current = null
        log(f"round $round ${op.name} $ms%.0f ms")
        err.foreach { e =>
          failed += 1
          log(s"operation ${op.name} (round $round) failed:")
          e.printStackTrace(System.err)
        }
        tracer.afterOp(op.layer, op.name)
        ops += Map("name" -> op.name, "layer" -> op.layer, "round" -> round,
          "rows" -> op.rows, "ms" -> ms, "ok" -> err.isEmpty,
          "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse(""))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      roundCpu += (processCpuNs() - c0) / 1e9
      tracer.end(rSpan)
      tracer.drain()
      roundShuffle += (tracer.shuffleWriteBytes - shuffle0) / 1e6
      w.afterRound(spark, tracer)
      elapsed += dt
      round += 1
    }

    tracer.drain()
    val layer = tracer.layerMetrics(round) ++ w.counters
    // what the last round left behind stays in: the heap is read before
    // anything more is released
    val heapMb = retainedHeapMb()
    val res = Map(
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "rounds" -> round,
      "timed_s" -> elapsed,
      "ops" -> ops.toSeq,
      "round_cpu_s" -> roundCpu.toSeq,
      "round_shuffle_mb" -> roundShuffle.toSeq,
      "heap_retained_mb" -> heapMb,
      "per_layer" -> layer)
    Json.write(new File(s"$out/result.json"), res)
    if (trace) tracer.writeSpans(new File(s"$out/spans.jsonl"))
    spark.stop()
    if (failed > 0) System.exit(3)
  }

  /** Used heap after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** JSON for the result and span files. */
object Json {
  // NaN stays a bare number, as Python's json module reads it
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .disable(com.fasterxml.jackson.core.json.JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .build()

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, "UTF-8")
    try pw.print(render(v)) finally pw.close()
  }
}
