package perfbench

import java.io.{BufferedWriter, File, FileWriter}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{EnergyFrame, EnergySeries}
import graft.operators.{Analytics, Discretize}
import graft.plots.Render
import graft.sources.ReportData
import graft.units.UnitRegistry

/** `energy_report`: the analyst session of the paper, over one year of
  * hourly EnergyPlus ReportData (12 electricity meters in J, 4 zone
  * temperatures in C; 140 160 tidy rows written once as CSV).
  *
  * Why: small data and many sub-second Spark jobs, so planning and
  * driver time bind. It uses no native kernel and no lake, so kernel and
  * lake changes must leave it flat.
  *
  * One round: ingest (`toSeries`, `toFrame`) -> `toUnits` J->kWh and
  * C->K -> `monthly`, `resample`, `ldc`, `normalize`, per-zone
  * `pMaxBy`/`capacityFactorBy`, `toDayHourMatrix` -> `discretize` (k = 4)
  * -> `classicalDecompose` -> `plot2d` -> write the report tables, then
  * read each back. 18 ops, each checked against references computed here
  * from the generated rows. */
final class EnergyReport(ctx: Ctx) extends Workload {
  import EnergyReport._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val csv = s"${ctx.dir}/input/reportdata.csv"
  private val outRoot = s"${ctx.dir}/report"

  // references, from the generated values
  private val energy = Array.ofDim[Double](Meters, Hours) // J
  private val temp = Array.ofDim[Double](Zones, Hours) // C
  private lazy val hourlyJ: Array[Double] =
    Array.tabulate(Hours)(h => (0 until Meters).map(m => energy(m)(h)).sum)
  private lazy val hourlyKwh = hourlyJ.map(_ / 3.6e6)
  private lazy val totalKwh = hourlyKwh.sum
  private var csvBytes = 0L

  def rowsPerRound: Long = (Meters + Zones).toLong * Hours
  def inputBytesPerRound: Long = csvBytes
  val maxRounds = 1000
  def lakeRoots: Seq[String] = Nil

  def prepare(): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val base = Array.fill(Meters)(3.6e6 * (0.5 + 1.5 * rnd.nextDouble()))
    for (m <- 0 until Meters; h <- 0 until Hours) {
      val day = h / 24
      val daily = 1.0 + 0.6 * math.sin(2 * math.Pi * ((h % 24) - 8) / 24.0)
      val season = 1.0 + 0.3 * math.cos(2 * math.Pi * day / 365.0)
      energy(m)(h) = math.rint(base(m) * daily * season *
        (0.8 + 0.4 * rnd.nextDouble()))
    }
    for (z <- 0 until Zones; h <- 0 until Hours) {
      val t = 21.0 + 4.0 * math.sin(2 * math.Pi * ((h % 24) - 9) / 24.0) -
        6.0 * math.cos(2 * math.Pi * (h / 24) / 365.0) + z +
        rnd.nextDouble() - 0.5
      temp(z)(h) = math.rint(t * 100) / 100
    }
    new File(csv).getParentFile.mkdirs()
    val out = new BufferedWriter(new FileWriter(csv))
    try {
      out.write(ReportData.CsvSchema.fieldNames.mkString("", ",", "\n"))
      val cal = java.time.LocalDate.of(Year, 1, 1)
      for (h <- 0 until Hours) {
        val d = cal.plusDays(h / 24)
        val stamp = s"${d.getMonthValue},${d.getDayOfMonth},${h % 24 + 1},0,60"
        for (m <- 0 until Meters)
          out.write(s"$stamp,${energy(m)(h)},J,$EnergyName,METER $m,${h + 1}\n")
        for (z <- 0 until Zones)
          out.write(s"$stamp,${temp(z)(h)},C,$TempName,ZONE $z,${h + 1}\n")
      }
    } finally out.close()
    csvBytes = new File(csv).length()
  }

  private def near(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def round(): Unit = {
    var es: EnergySeries = null
    var fr: EnergyFrame = null
    var kwh: EnergySeries = null
    var fk: EnergyFrame = null
    var decomposed: DataFrame = null
    val raw = ReportData.readCsv(spark, csv)

    rec.op("to_series") {
      es = rec.span("sources.ReportData") {
        val s = ReportData.toSeries(raw.where(col("Name") === EnergyName),
          name = Some(EnergyName))
        val c = s.copy(df = s.df.cache())
        val r = c.df.agg(count(lit(1)), sum(col(c.valueCol))).head()
        require(r.getLong(0) == Hours && near(r.getDouble(1), hourlyJ.sum),
          s"toSeries: ${r.getLong(0)} rows, sum ${r.getDouble(1)}")
        c
      }
      es.units.map(_.raw).contains("J")
    }
    rec.op("to_frame") {
      fr = rec.span("sources.ReportData") {
        val f = ReportData.toFrame(raw.where(col("Name") === TempName))
        f.copy(df = f.df.cache())
      }
      val r = fr.df.agg(count(lit(1)),
        (0 until Zones).map(z => sum(col(s"ZONE $z"))): _*).head()
      r.getLong(0) == Hours && (0 until Zones).forall(z =>
        near(r.getDouble(z + 1), temp(z).sum))
    }
    rec.op("to_kwh") {
      val (k, b) = rec.span("units.UnitRegistry") {
        UnitRegistry.conversion(UnitRegistry.parse("J"),
          UnitRegistry.parse("kWh"))
      }
      kwh = rec.span("core.EnergySeries") {
        val s = es.toUnits("kWh")
        val c = s.copy(df = s.df.cache())
        c.df.count()
        c
      }
      val sumKwh = kwh.df.agg(sum(col(kwh.valueCol))).head().getDouble(0)
      near(k, 1 / 3.6e6) && b == 0.0 && near(sumKwh, totalKwh)
    }
    rec.op("to_kelvin") {
      val (k, b) = rec.span("units.UnitRegistry") {
        UnitRegistry.conversion(UnitRegistry.parse("C"),
          UnitRegistry.parse("K"))
      }
      fk = rec.span("core.EnergyFrame") {
        val f = fr.toUnits("K")
        f.copy(df = f.df.cache())
      }
      val r = fk.df.agg(count(lit(1)),
        (0 until Zones).map(z => sum(col(s"ZONE $z"))): _*).head()
      k == 1.0 && near(b, 273.15) && r.getLong(0) == Hours &&
        (0 until Zones).forall(z =>
          near(r.getDouble(z + 1), temp(z).sum + 273.15 * Hours))
    }
    val monthRef = monthlyMeans(hourlyKwh)
    var monthly: Array[Row] = null
    rec.op("monthly") {
      monthly = rec.span("core.EnergySeries") {
        kwh.monthly.df.orderBy(col("ts")).collect()
      }
      monthly.length == 12 && monthly.zip(monthRef).forall {
        case (r, m) => near(r.getDouble(1), m, 1e-6) }
    }
    rec.op("resample") {
      val days = rec.span("core.EnergySeries") {
        kwh.resample("1 day", "sum").df.orderBy(col("ts")).collect()
      }
      days.length == Hours / 24 && days.zipWithIndex.forall { case (r, d) =>
        near(r.getDouble(1), hourlyKwh.slice(d * 24, d * 24 + 24).sum, 1e-6) }
    }
    rec.op("ldc") {
      val v = rec.span("core.EnergySeries") {
        kwh.ldc.df.orderBy(col("idx")).collect().map(_.getDouble(1))
      }
      v.length == Hours && v.sliding(2).forall(p => p(0) >= p(1)) &&
        near(v.sum, totalKwh)
    }
    rec.op("normalize") {
      val r = rec.span("core.EnergySeries") {
        val n = kwh.normalize()
        n.df.agg(min(col(n.valueCol)), max(col(n.valueCol)),
          sum(col(n.valueCol))).head()
      }
      val (lo, hi) = (hourlyKwh.min, hourlyKwh.max)
      r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0 &&
        near(r.getDouble(2), hourlyKwh.map(x => (x - lo) / (hi - lo)).sum, 1e-6)
    }
    rec.op("peaks") {
      val (pmax, cf) = rec.span("core.EnergyFrame") {
        val zones = EnergySeries(fk.melt("zone", "value"),
          Seq("ts", "zone"), "value", units = Some(UnitRegistry.parse("K")))
        (zones.pMaxBy("zone").collect(),
          zones.capacityFactorBy("zone").collect())
      }
      val ref = (0 until Zones).map { z =>
        val k = temp(z).map(_ + 273.15)
        s"ZONE $z" -> (k.max, k.sum / Hours / k.max)
      }.toMap
      pmax.length == Zones && cf.length == Zones &&
        pmax.forall(r => near(r.getDouble(1), ref(r.getString(0))._1)) &&
        cf.forall(r => near(r.getDouble(1), ref(r.getString(0))._2, 1e-6))
    }
    rec.op("day_hour") {
      val m = rec.span("core.EnergySeries") { kwh.toDayHourMatrix.collect() }
      m.length == Hours / 24 && near(m.map(r =>
        (1 to 24).map(i => r.getDouble(i)).sum).sum, totalKwh, 1e-6)
    }
    rec.op("discretize") {
      val r = rec.span("operators.Discretize") {
        val d = Discretize.discretize(kwh, 4)
        d.df.agg(count(lit(1)), sum(col(d.valueCol))).head()
      }
      r.getLong(0) == Hours && near(r.getDouble(1), totalKwh, 1e-6)
    }
    rec.op("decompose") {
      val r = rec.span("operators.Analytics") {
        decomposed = Analytics.classicalDecompose(fk.melt("zone", "value"),
          "ts", "value", Seq("zone"), period = 24).cache()
        decomposed.agg(count(lit(1)), count(col("trend")),
          max(abs(col("value") - col("trend") - col("seasonal") -
            col("resid")))).head()
      }
      r.getLong(0) == Zones.toLong * Hours &&
        r.getLong(1) == Zones.toLong * (Hours - 23) && r.getDouble(2) < 1e-5
    }
    rec.op("render") {
      val png = rec.span("plots.Render") { Render.plot2d(kwh) }
      png.length > 1000 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G'
    }
    val tables = Seq("monthly", "daily", "ldc", "decomposition")
    rec.op("write_report") {
      kwh.monthly.df.write.mode("overwrite").parquet(s"$outRoot/monthly")
      kwh.resample("1 day", "sum").df.write.mode("overwrite")
        .parquet(s"$outRoot/daily")
      kwh.ldc.df.write.mode("overwrite").parquet(s"$outRoot/ldc")
      decomposed.write.mode("overwrite").parquet(s"$outRoot/decomposition")
      true
    }
    val expect = Map(
      "monthly" -> (12L, monthRef.sum),
      "daily" -> (Hours / 24L, totalKwh),
      "ldc" -> (Hours.toLong, totalKwh),
      "decomposition" -> (Zones.toLong * Hours,
        (0 until Zones).map(z => temp(z).sum + 273.15 * Hours).sum))
    for (t <- tables) rec.op(s"read_$t", kind = "read") {
      val df = spark.read.parquet(s"$outRoot/$t")
      val v = if (t == "decomposition") "value" else kwh.valueCol
      val r = df.agg(count(lit(1)), sum(col(v))).head()
      r.getLong(0) == expect(t)._1 && near(r.getDouble(1), expect(t)._2, 1e-6)
    }
    // also drops what `discretize` cached internally
    spark.catalog.clearCache()
  }

  private def monthlyMeans(hourly: Array[Double]): Seq[Double] = {
    val start = java.time.LocalDate.of(Year, 1, 1)
    hourly.indices.groupBy(h => start.plusDays(h / 24).getMonthValue)
      .toSeq.sortBy(_._1).map { case (_, hs) => hs.map(hourly).sum / hs.size }
  }
}

object EnergyReport {
  val Year = 2018
  val Hours = 8760
  val Meters = 12
  val Zones = 4
  val EnergyName = "Electricity:Zone"
  val TempName = "Zone Mean Air Temperature"
}
