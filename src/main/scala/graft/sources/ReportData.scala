package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{EnergyFrame, EnergySeries}
import graft.units.{MultipleUnitsError, UnitRegistry}

/** EnergyPlus ReportData ingestion: tidy rows
  * `(Month, Day, Hour, Minute, Interval, Value, Units, Name[, KeyValue,
  * TimeIndex])` -> time-indexed series / wide frame.
  *
  * Spark-first re-expression of the reference's `from_reportdata`
  * (`/root/reference/energy_pandas/energypandas.py:231-309` series
  * variant, `:895-946` frame variant): one lazy select/groupBy/pivot
  * chain; the scalar steps (timestamp assembly, interval shift) fuse into
  * the scan stage under whole-stage codegen and the groupBy/pivot is the
  * only shuffle.
  */
object ReportData {

  /** ReportData CSV schema (the shape EnergyPlus SQL exports / the tests
    * construct): explicit schema, no inference pass over the data. */
  val CsvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Month", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("Day", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("Hour", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("Minute", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("Interval", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("Value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("Units", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("Name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("KeyValue", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("TimeIndex", org.apache.spark.sql.types.LongType)))

  /** Read ReportData-shaped CSV (header, explicit schema). */
  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(CsvSchema).csv(path)

  /** EnergyPlus timestamps are period-END; subtracting `Interval` minutes
    * shifts to period-start (`energypandas.py:277-279`). Assembled from
    * date parts against `baseYear` (`energypandas.py:268-276`); built as
    * day-zero timestamp + minute arithmetic so EnergyPlus' 1-24 hour
    * convention cannot overflow `make_timestamp`. */
  def assembleTimestamp(baseYear: Int, month: Column, day: Column,
      hour: Column, minute: Column, intervalMinutes: Column): Column =
    make_timestamp(lit(baseYear), month, day, lit(0), lit(0), lit(0)) +
      make_interval(lit(0), lit(0), lit(0), lit(0), lit(0),
        hour * lit(60) + minute - intervalMinutes, lit(0))

  /** Mixed-unit guard (`energypandas.py:283-288`): one tiny agg action.
    * Returns the single unit string, or the override. */
  private def resolveUnits(df: DataFrame, unitsOverride: Option[String])
      : Option[String] = unitsOverride.orElse {
    singleUnit(df.select("Units").distinct().limit(3).collect()
      .map(_.getString(0)).toSeq)
  }

  private def singleUnit(distinct: Seq[String]): Option[String] = {
    if (distinct.length > 1)
      throw new MultipleUnitsError("The DataFrame contains mixed units: " +
        distinct.take(3).mkString(", "))
    distinct.headOption
  }

  /** Spark's ascending string order: nulls first, then binary UTF-8. */
  private val SparkStringOrder: Ordering[Option[UTF8String]] =
    Ordering.Option((a: UTF8String, b: UTF8String) => a.compareTo(b))

  /** The frame variant's discovery: ONE distinct action over whichever
    * of `Units`/`KeyValue` is still unknown feeds both the mixed-unit
    * guard (checked first) and the pivot keys, sorted as
    * `orderBy("KeyValue")` would sort them; no action when both are
    * given. */
  private def discoverFrame(df: DataFrame, unitsOverride: Option[String],
      keyValues: Seq[String]): (Option[String], Seq[String]) = {
    val unknown = (if (unitsOverride.isEmpty) Seq("Units") else Nil) ++
      (if (keyValues.isEmpty) Seq("KeyValue") else Nil)
    val rows =
      if (unknown.isEmpty) Array.empty[Row]
      else df.select(unknown.map(col): _*).distinct().collect()
    def values(c: String): Seq[String] =
      rows.map(_.getString(unknown.indexOf(c))).toSeq.distinct
    val unit = unitsOverride.orElse(singleUnit(values("Units")))
    val keys =
      if (keyValues.nonEmpty) keyValues
      else values("KeyValue")
        .sortBy(k => Option(k).map(UTF8String.fromString))(SparkStringOrder)
    (unit, keys)
  }

  /** Series variant (`energypandas.py:231-309`). `aggFunc=None` keeps the
    * `(ts, Name)` two-column key (`energypandas.py:292-294`). */
  def toSeries(
      df: DataFrame,
      name: Option[String] = None,
      baseYear: Int = 2018,
      units: Option[String] = None,
      normalize: Boolean = false,
      sortValues: Boolean = false,
      ascending: Boolean = false,
      toUnits: Option[String] = None,
      aggFunc: Option[String] = Some("sum")
  ): EnergySeries = {
    val unit = resolveUnits(df, units)
    val ts = assembleTimestamp(baseYear, col("Month"), col("Day"),
      col("Hour"), col("Minute"), col("Interval"))
    val stamped = df.withColumn("ts", ts)

    val series = aggFunc match {
      case Some(fn) =>
        val grouped = stamped.groupBy(col("ts"))
          .agg(expr(s"$fn(Value)").as("Value"))
        EnergySeries(grouped, Seq("ts"), "Value",
          unit.map(UnitRegistry.parse), baseYear = baseYear, name = name)
      case None =>
        EnergySeries(stamped.select(col("ts"), col("Name"), col("Value")),
          Seq("ts", "Name"), "Value",
          unit.map(UnitRegistry.parse), baseYear = baseYear, name = name)
    }

    val normalized = if (normalize) series.normalize() else series
    val sorted =
      if (sortValues)
        normalized.copy(df = normalized.df.orderBy(
          if (ascending) col("Value").asc else col("Value").desc))
      else normalized
    // to_units applies only when not normalized (energypandas.py:307-308)
    toUnits.filter(_ => !normalize).map(sorted.toUnits).getOrElse(sorted)
  }

  /** The reference's `agg_func` CALLABLE form (`energypandas.py:289-291`
    * accepts any callable, not just named aggregates): the Spark-typed
    * equivalent takes an arbitrary user `Aggregator[Double, B, Double]`
    * and runs it as a first-class aggregate over the assembled-timestamp
    * groups — partial/final stages and map-side combine exactly like a
    * builtin, because `udaf` registers it with the same aggregate
    * machinery. Closes the last `from_reportdata` hook gap (SURVEY
    * §2.10). */
  def toSeriesWith[B](df: DataFrame,
      aggFunc: org.apache.spark.sql.expressions.Aggregator[Double, B, Double],
      name: Option[String] = None, baseYear: Int = 2018,
      units: Option[String] = None): EnergySeries = {
    val unit = resolveUnits(df, units)
    val ts = assembleTimestamp(baseYear, col("Month"), col("Day"),
      col("Hour"), col("Minute"), col("Interval"))
    val f = udaf(aggFunc, org.apache.spark.sql.Encoders.scalaDouble)
    val grouped = df.withColumn("ts", ts).groupBy(col("ts"))
      .agg(f(col("Value")).as("Value"))
    EnergySeries(grouped, Seq("ts"), "Value", unit.map(UnitRegistry.parse),
      baseYear = baseYear, name = name)
  }

  /** Multi-aggregate ingest — the reference's `agg_func` list/dict form
    * (`energypandas.py:289-291`: any pandas-accepted aggregate, incl. a
    * dict of name → function): one groupBy over the assembled timestamp
    * producing a named column per aggregate. Deterministic aggregates
    * ("sum"/"avg") route through DetAgg. */
  def toAggFrame(df: DataFrame, aggs: Map[String, String],
      baseYear: Int = 2018, units: Option[String] = None)
      : graft.core.EnergyFrame = {
    val unit = resolveUnits(df, units)
    val ts = assembleTimestamp(baseYear, col("Month"), col("Day"),
      col("Hour"), col("Minute"), col("Interval"))
    val exprs = aggs.toSeq.sortBy(_._1).map { case (name, fn) =>
      (fn match {
        case "sum" => graft.core.DetAgg.detSum(col("Value"))
        case "avg" | "mean" => graft.core.DetAgg.detAvg(col("Value"))
        case other => expr(s"$other(Value)")
      }).as(name)
    }
    val out = df.withColumn("ts", ts).groupBy(col("ts"))
      .agg(exprs.head, exprs.tail: _*)
    graft.core.EnergyFrame(out, Seq("ts"),
      unit.map(u => aggs.keys.map(_ -> UnitRegistry.parse(u)).toMap)
        .getOrElse(Map.empty), baseYear = baseYear)
  }

  /** Frame variant (`energypandas.py:895-946`): wide frame with one column
    * per `KeyValue`. The reference pivots with pandas' default aggfunc
    * (mean, `energypandas.py:915-917`) and re-collapses the date parts per
    * `TimeIndex` by mean (`:918-923`); here both pivots are ONE
    * groupBy("TimeIndex") — a single shuffle. */
  def toFrame(
      df: DataFrame,
      baseYear: Int = 2018,
      units: Option[String] = None,
      normalize: Boolean = false,
      sortValues: Boolean = false,
      toUnits: Option[String] = None,
      keyValues: Seq[String] = Seq.empty
  ): EnergyFrame = {
    val (unit, keys) = discoverFrame(df, units, keyValues)

    // one shuffle: pivot cells (deterministic mean per key, see DetAgg) +
    // date parts together. The date parts are constant within a TimeIndex,
    // so min == the reference's pivot_table mean (energypandas.py:918-923)
    // without float division.
    val perKey = keys.map { k =>
      val cell = when(col("KeyValue") === lit(k), col("Value"))
      (graft.core.DetAgg.detSum(cell) / count(cell)).as(k)
    }
    val dateParts = Seq("Month", "Day", "Hour", "Minute", "Interval")
      .map(c => min(col(c)).as(c))
    val wide = df.groupBy(col("TimeIndex")).agg((perKey ++ dateParts).head,
      (perKey ++ dateParts).tail: _*)

    val ts = assembleTimestamp(baseYear,
      col("Month").cast("int"), col("Day").cast("int"),
      col("Hour").cast("int"), col("Minute").cast("int"),
      col("Interval").cast("int"))
    val stamped = wide.withColumn("ts", ts)
      .select(col("ts") +: keys.map(col): _*)

    val u = unit.map(UnitRegistry.parse)
    val frame = EnergyFrame(stamped, Seq("ts"),
      u.map(uu => keys.map(_ -> uu).toMap).getOrElse(Map.empty),
      baseYear = baseYear)

    // order differs from the series variant (energypandas.py:940-945)
    val converted = toUnits.map(frame.toUnits).getOrElse(frame)
    val normalized = if (normalize) converted.normalize() else converted
    if (sortValues)
      normalized.copy(df = normalized.df.orderBy(col(keys.head).desc))
    else normalized
  }
}
