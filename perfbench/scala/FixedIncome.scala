package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bonds.{BondColumns, Bootstrap, Lft, Ltn, NtnB, NtnF}
import graft.core.BrCalendar
import graft.curve.Curve
import graft.ops.AsOf

/** PYield's own surface at batch scale: calendar expressions, curve
  * forwards and interpolation, the as-of join of a bond book to daily curve
  * snapshots, row-wise bond pricing, and a scalar and bootstrap phase outside
  * Spark. No dedup/text/sim kernel and no memo is touched.
  */
final class FixedIncome(in: String) extends Workload {

  private var book: DataFrame = _
  private var pairs: DataFrame = _
  private var curves: DataFrame = _
  private var targets: DataFrame = _
  private var nBook, nPairs, nCurves, nTargets = 0L
  private var scalarPairs: Array[(Int, Int)] = _
  private var scalarBook: Array[(String, LocalDate, LocalDate, Double, Double)] = _
  private var bootInputs: Seq[(LocalDate, Seq[(Long, Double)])] = _

  // passes of the scalar loops per round, sized so that each takes a few
  // hundred milliseconds, like the Column operations beside them
  private val CalendarPasses = 20
  private val BondPasses = 4
  private val BootstrapPasses = 2

  def setup(spark: SparkSession, tracer: Tracer): Unit = {
    book = spark.read.parquet(s"$in/bonds.parquet")
    pairs = spark.read.parquet(s"$in/date_pairs.parquet")
    curves = spark.read.parquet(s"$in/curves.parquet")
    targets = spark.read.parquet(s"$in/targets.parquet")
    nBook = book.count(); nPairs = pairs.count()
    nCurves = curves.count(); nTargets = targets.count()
    scalarPairs = pairs.orderBy("pair_id").select(unix_date(col("start")), unix_date(col("end")))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    scalarBook = book.orderBy("bond_id")
      .select("kind", "trade_date", "maturity", "taxa", "vna").collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDate(2).toLocalDate,
        r.getDouble(3), if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    // bootstrap inputs: every PRE snapshot's vertices
    bootInputs = curves.filter(col("curve_id") === "PRE")
      .select("curve_date", "du", "tx").collect()
      .groupBy(_.getDate(0).toLocalDate).toSeq.sortBy(_._1.toEpochDay)
      .map { case (d, rs) => d -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1) }
  }

  // ----------------------------------------------------------- operations

  private def calendar: DataFrame =
    pairs.select(col("pair_id"), col("start"), col("end"), col("n"),
      graft.functions.bday_count(col("start"), col("end")).as("bday_count"),
      graft.functions.is_bday(col("start")).as("is_bday"),
      graft.functions.bday_add(col("start"), col("n")).as("bday_add"))

  private def snapKey: Column = concat_ws("|", col("curve_id"), col("curve_date").cast("string"))

  private def forwards: DataFrame =
    curves.withColumn("fwd", Curve.forwards(col("du"), col("tx"), snapKey))

  private def asof: DataFrame =
    AsOf.join(book.select("bond_id", "curve_id", "trade_date"),
      curves.select("curve_id", "curve_date").distinct(),
      by = Seq("curve_id"), leftOn = "trade_date", rightOn = "curve_date",
      payload = Seq("curve_date" -> "snap_date"))

  private def interpolate: DataFrame =
    Curve.interpolate(targets, "du", curves, "du", "tx",
      groupT = Seq("curve_id", "curve_date"), groupC = Seq("curve_id", "curve_date"))

  private def priced: DataFrame = {
    val liq = col("trade_date"); val venc = col("maturity")
    val taxa = col("taxa"); val vna = col("vna"); val kind = col("kind")
    val withPu = book.withColumn("pu",
      when(kind === "LTN", BondColumns.ltn_pu(liq, venc, taxa))
        .when(kind === "NTNF", BondColumns.ntnf_pu(liq, venc, taxa))
        .when(kind === "NTNB", BondColumns.ntnb_pu(vna, BondColumns.ntnb_cotacao(liq, venc, taxa)))
        .when(kind === "LFT", BondColumns.ntnb_pu(vna, BondColumns.lft_cotacao(liq, venc, taxa))))
    val pu = col("pu")
    withPu.select(col("bond_id"), kind, pu,
      when(kind === "LTN", BondColumns.ltn_taxa(liq, venc, pu))
        .when(kind === "NTNF", BondColumns.ntnf_taxa(liq, venc, pu))
        .when(kind === "LFT", BondColumns.lft_taxa(liq, venc, vna, pu)).as("rate"),
      when(kind === "LTN", graft.functions.bday_count(liq, venc) / 252.0)
        .when(kind === "NTNF", BondColumns.ntnf_duration(liq, venc, taxa))
        .when(kind === "NTNB", BondColumns.ntnb_duration(liq, venc, taxa)).as("duration"),
      when(kind === "LTN", BondColumns.ltn_dv01(liq, venc, taxa, pu))
        .when(kind === "NTNF", BondColumns.ntnf_dv01(liq, venc, taxa, pu))
        .when(kind === "NTNB", BondColumns.ntnb_dv01(liq, venc, taxa, pu)).as("dv01"))
  }

  private def scalarPu(k: String, liq: LocalDate, venc: LocalDate, t: Double, v: Double): Double =
    k match {
      case "LTN" => Ltn.pu(liq, venc, t)
      case "NTNF" => NtnF.pu(liq, venc, t)
      case "NTNB" => NtnB.pu(v, NtnB.cotacao(liq, venc, t))
      case _ => Lft.pu(v, Lft.cotacao(liq, venc, t))
    }

  @volatile private var sink = 0.0

  private def scalarCalendar(): Unit = {
    var acc = 0L; var p = 0
    while (p < CalendarPasses) {
      var i = 0
      while (i < scalarPairs.length) {
        acc += BrCalendar.contar(scalarPairs(i)._1, scalarPairs(i)._2); i += 1
      }
      p += 1
    }
    sink += acc
  }

  private def scalarBonds(): Unit = {
    var acc = 0.0
    for (_ <- 0 until BondPasses)
      scalarBook.foreach { case (k, l, v, t, vna) => acc += scalarPu(k, l, v, t, vna) }
    sink += acc
  }

  private def bootstrapPasses(): Unit =
    for (_ <- 0 until BootstrapPasses) sink += bootstrap().map(_.size).sum

  private def bootstrap(): Seq[Seq[Bootstrap.ZeroVertex]] =
    bootInputs.flatMap { case (liq, vs) =>
      // NTN-B: May/August 15 maturities two to nine years out, real rates
      // below the snapshot's; PRE: LTN vertices up to two years, NTN-F on
      // January firsts beyond
      val ntnb = (2 to 9).map { y =>
        (LocalDate.of(liq.getYear + y, if (y % 2 == 0) 5 else 8, 15), vs(y)._2 - 0.04) }
      val ltn = vs.filter(_._1 <= 504).map { case (du, tx) =>
        (BrCalendar.deslocar(liq, du.toInt), tx) }
      val ntnf = (3 to 9).map { y =>
        (LocalDate.of(liq.getYear + y, 1, 1), vs.last._2 + 0.001 * y) }
      Seq(Bootstrap.ntnbTaxasZero(liq, ntnb.map(_._1), ntnb.map(_._2)),
        Bootstrap.ntnfTaxasZero(liq, ltn.map(_._1), ltn.map(_._2),
          ntnf.map(_._1), ntnf.map(_._2)))
    }

  def round(spark: SparkSession): Seq[Op] = Seq(
    Op("calendar_exprs", "core", nPairs)(() => Main.noop(calendar)),
    Op("curve_forwards", "curve", nCurves)(() => Main.noop(forwards)),
    Op("asof_join", "ops", nBook)(() => Main.noop(asof)),
    Op("curve_interpolate", "curve", nTargets)(() => Main.noop(interpolate)),
    Op("bond_columns", "bonds", nBook)(() => Main.noop(priced)),
    Op("scalar_calendar", "core", scalarPairs.length.toLong * CalendarPasses)(() => scalarCalendar()),
    Op("scalar_bonds", "bonds", scalarBook.length.toLong * BondPasses)(() => scalarBonds()),
    Op("bootstrap", "bonds", bootInputs.map(_._2.size).sum.toLong * BootstrapPasses)(() =>
      bootstrapPasses())
  )

  private var scalarNsPerCall = Double.NaN
  private var scalarUsPerCall = Double.NaN
  private var bootstrapMs = Double.NaN

  def checkPass(spark: SparkSession, out: String, tracer: Tracer): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name")
    save(calendar, "calendar")
    save(forwards, "forwards")
    save(asof, "asof")
    save(interpolate, "interpolate")
    save(priced, "bonds")
    // scalar results over the same rows the Column path priced
    val sc = scalarBook.take(500).zipWithIndex.map { case ((k, l, v, t, vna), i) =>
      Map("bond_id" -> i, "pu" -> scalarPu(k, l, v, t, vna),
        "rate" -> (k match {
          case "LTN" => Ltn.taxa(l, v, Ltn.pu(l, v, t))
          case "NTNF" => NtnF.taxa(l, v, NtnF.pu(l, v, t))
          case "LFT" => Lft.taxa(l, v, vna, scalarPu(k, l, v, t, vna))
          case _ => Double.NaN
        }))
    }
    val boot = bootstrap().map(_.map(z => Map("venc" -> z.dataVencimento.toString,
      "du" -> z.diasUteis, "zero" -> z.taxaZero)))
    // per-call figures of the kernels outside Spark, timed here on warm code
    def timeIt(reps: Int)(f: => Unit): Double = {
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }
      ts.sorted.apply(reps / 2).toDouble
    }
    scalarNsPerCall = timeIt(5)(scalarCalendar()) / (scalarPairs.length.toDouble * CalendarPasses)
    scalarUsPerCall = timeIt(5)(scalarBonds()) / 1e3 / (scalarBook.length.toDouble * BondPasses)
    bootstrapMs = timeIt(5)(bootstrap()) / 1e6
    Json.write(new java.io.File(s"$out/scalar.json"), Map(
      "scalar" -> sc.toSeq,
      "goldens" -> Map(
        "ntnb_cotacao" -> NtnB.cotacao(LocalDate.of(2024, 5, 31), LocalDate.of(2035, 5, 15), 0.061490),
        "ntnb_pu" -> NtnB.pu(4299.160173, 0.993651)),
      "bootstrap" -> boot))
  }

  override def warmRounds: Int = 2

  override def counters: Map[String, Double] = Map(
    "core.scalar_ns_per_call" -> scalarNsPerCall,
    "bonds.scalar_us_per_call" -> scalarUsPerCall,
    "bonds.bootstrap_ms" -> bootstrapMs)
}
