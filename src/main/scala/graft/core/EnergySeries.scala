package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.units._

/** A 1-D labeled, typed, units-aware series — the Spark-native analog of
  * the reference's `EnergySeries(pandas.Series)`
  * (`/root/reference/energy_pandas/energypandas.py:46-61`).
  *
  * There is no implicit row index in Spark, so the index is an explicit
  * column (`indexCols`, usually a single `ts` TimestampType column; two
  * columns `(ts, Name)` for the reference's MultiIndex case,
  * `energypandas.py:292-294`). All operators emit declarative Column
  * expressions — zero UDFs — so Catalyst keeps pushdown/pruning/codegen.
  *
  * Units are wrapper-owned metadata, mirrored into `StructField.metadata`
  * on materialization (Catalyst drops field metadata through expressions,
  * so the wrapper is the source of truth — reference `__finalize__`
  * semantics, `energypandas.py:145-168`). Units are inert in arithmetic
  * (`energypandas.py:59`); only `toUnits` converts.
  */
final case class EnergySeries(
    df: DataFrame,
    indexCols: Seq[String],
    valueCol: String,
    units: Option[EUnit] = None,
    meta: Map[String, String] = Map.empty,
    frequency: Option[String] = None,
    baseYear: Int = 2018,
    name: Option[String] = None
) {

  private def v: Column = col(valueCol)
  private def idx: Seq[Column] = indexCols.map(col)

  /** re-wrap a derived plan, keeping metadata (the `__finalize__` analog) */
  private def finalized(newDf: DataFrame): EnergySeries = copy(df = newDf)

  /** DataFrame with units mirrored into StructField metadata (for sinks). */
  def toDF: DataFrame = units match {
    case Some(u) =>
      val m = new MetadataBuilder().putString("units", u.raw).build()
      df.withColumn(valueCol, v.as(valueCol, m))
    case None => df
  }

  // ------------------------------------------------------------ conversion

  /** Vectorized affine unit conversion (`energypandas.py:311-328`): the
    * (slope, intercept) pair is computed once on the driver and emitted as
    * literal arithmetic — Catalyst constant-folds it into the scan stage. */
  def toUnits(target: String): EnergySeries = {
    val to = UnitRegistry.parse(target)
    units match {
      case Some(from) =>
        val (k, b) = UnitRegistry.conversion(from, to)
        copy(df = df.withColumn(valueCol, v * lit(k) + lit(b)), units = Some(to))
      case None => copy(units = Some(to))
    }
  }

  /** SI->IP table lookup then convert; silent passthrough on unknown units
    * (`energypandas.py:653-677`). */
  def toIp: EnergySeries =
    units.flatMap(UnitRegistry.toIpUnit).map(t => toUnits(t.raw)).getOrElse(this)

  def toSi: EnergySeries =
    units.flatMap(UnitRegistry.toSiUnit).map(t => toUnits(t.raw)).getOrElse(this)

  // ------------------------------------------------------------- analytics

  /** Min-max scale to [0,1] (`energypandas.py:330-349`): one small agg
    * action for the global (min, max), then a literal projection. Units
    * become dimensionless in both inplace and copy paths (documented
    * deviation from the reference's inconsistency, SURVEY §1.4.6). */
  def normalize(): EnergySeries = {
    val r = df.agg(min(v), max(v)).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val scaled = if (hi == lo) lit(0.0) else (v - lit(lo)) / lit(hi - lo)
    copy(df = df.withColumn(valueCol, scaled),
      units = Some(UnitRegistry.parse("dimensionless")))
  }

  /** Z-score standardization ((x − μ)/σ, population σ) — the scaling
    * twin of min-max [[normalize]] for ML feature prep. μ and σ come
    * from ONE decimal-routed aggregate (Σx, Σx², n — exact and
    * associative, so the literals are identical on every run and
    * engine); the projection is constant-folded literal arithmetic. */
  def standardize(): EnergySeries = {
    val r = df.agg(DetAgg.detSum(v).as("__s"),
      DetAgg.detSum(v * v).as("__q"), count(v).as("__n")).head()
    val n = r.getLong(2).toDouble
    val m = r.getDouble(0) / n
    val sd = math.sqrt(r.getDouble(1) / n - m * m)
    val scaled = if (sd == 0.0) lit(0.0) else (v - lit(m)) / lit(sd)
    copy(df = df.withColumn(valueCol, scaled),
      units = Some(UnitRegistry.parse("dimensionless")))
  }

  /** Load-duration curve (`energypandas.py:641-644`): sort descending and
    * replace the time index with rank 0..n-1.
    *
    * Scale note: the rank is assigned with zipWithIndex over the
    * range-partitioned sort output — a cheap per-partition-count job plus
    * offset arithmetic, no single-partition window. Survives 100 TB; the
    * sort itself is Spark's distributed range sort. */
  def ldc: EnergySeries = {
    val tieBreak = indexCols.map(col(_).asc)
    val sorted = df.orderBy(v.desc +: tieBreak: _*).select(v)
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("idx", LongType, nullable = false),
      StructField(valueCol, sorted.schema(valueCol).dataType)))
    val withRank = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row(i, row.get(0))
      }, schema)
    copy(df = withRank, indexCols = Seq("idx"), frequency = None)
  }

  /** ldc for small/oracle-checked inputs: same result via a window —
    * keeps the whole plan in Catalyst (single-partition window, so only
    * for driver-verification paths). */
  def ldcWindowed: EnergySeries = {
    val tieBreak = indexCols.map(col(_).asc)
    val w = Window.orderBy(v.desc +: tieBreak: _*)
    val ranked = df.select((row_number().over(w) - 1).cast(LongType).as("idx"), v)
    copy(df = ranked, indexCols = Seq("idx"), frequency = None)
  }

  /** Elementwise conditional split between heating and cooling source-side
    * energy (`energypandas.py:366-382`) — pure CaseWhen, no UDF. */
  def sourceSide(scopH: Option[Double] = None, scopC: Option[Double] = None)
      : EnergySeries = {
    if (scopH.isEmpty && scopC.isEmpty)
      throw new IllegalArgumentException("either scopH or scopC must be provided")
    val hk = scopH.map(s => 1.0 - 1.0 / s).getOrElse(1.0)
    val ck = scopC.map(s => 1.0 + 1.0 / s).getOrElse(1.0)
    finalized(df.withColumn(valueCol,
      when(v > 0, v * lit(hk)).otherwise(v * lit(ck))))
  }

  /** ldc then source-side split (`energypandas.py:351-364`). */
  def ldcSource(scopH: Double = 4.0, scopC: Double = 4.0): EnergySeries =
    ldc.sourceSide(Some(scopH), Some(scopC))

  /** Global peak (`energypandas.py:603-608`). */
  def pMax: Double = df.agg(max(v)).head().getDouble(0)

  /** Per-group peak for the MultiIndex case (`energypandas.py:605-606`). */
  def pMaxBy(groupCol: String): DataFrame =
    df.groupBy(col(groupCol)).agg(max(v).as(valueCol))

  /** mean / max (`energypandas.py:618-622`) — one two-aggregate action. */
  def capacityFactor: Double = {
    val r = df.agg(avg(v), max(v)).head()
    r.getDouble(0) / r.getDouble(1)
  }

  /** Index label of the minimum value (`energypandas.py:629-631`).
    * Deterministic under ties: earliest index among the minima. */
  def timeAtMin: Any = {
    val minVal = df.agg(min(v)).head().get(0)
    df.filter(v === lit(minVal)).agg(min(idx.head)).head().get(0)
  }

  /** Calendar-month mean downsample (`energypandas.py:610-616`); label is
    * the month end like pandas `resample("ME")`. Shuffles once on ~12 keys
    * with map-side partial aggregation; the mean runs through DetAgg so
    * the result is run- and engine-deterministic. */
  def monthly: EnergySeries = {
    require(indexCols.nonEmpty, "monthly requires a time index")
    val ts = idx.head
    val out = df
      .groupBy(last_day(date_trunc("month", ts)).as(indexCols.head))
      .agg(DetAgg.detAvg(v).as(valueCol))
    copy(df = out, frequency = Some("M"))
  }

  /** Generic time resample: tumbling window of `duration` with a
    * deterministic mean ("avg", default) or exact sum ("sum"). */
  def resample(duration: String, how: String = "avg"): EnergySeries = {
    val ts = idx.head
    val agg = how match {
      case "avg" | "mean" => DetAgg.detAvg(v)
      case "sum" => DetAgg.detSum(v)
      case other => call_function(other, col(valueCol))
    }
    val out = df
      .groupBy(window(ts, duration).getField("start").as(indexCols.head))
      .agg(agg.as(valueCol))
    copy(df = out, frequency = Some(duration))
  }

  /** Per-group capacity factor mean/max (`energypandas.py:618-622`
    * generalized to a grouped DataFrame result). */
  def capacityFactorBy(groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg((DetAgg.detAvg(v) / max(v)).as("capacity_factor"))

  /** Per-group index label of the minimum value (`energypandas.py:629-631`
    * grouped). Deterministic under value ties: the struct min orders by
    * (value, index), so the earliest index among the minima wins. */
  def timeAtMinBy(groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(min(struct(v, idx.head)).getField(indexCols.head).as(indexCols.head))

  /** Calendar day × hour-of-day matrix (the plot2d/plot3d heatmap data
    * layer, `energypandas.py:679-802`): rows = dates, 24 columns h0..h23
    * of deterministic hourly means. One shuffle (the groupBy); the pivot
    * is a fixed 24-expression projection, no second pass. */
  def toDayHourMatrix: DataFrame =
    dayHourMatrix(Seq.empty)

  /** Per-group day × hour matrices (the plot3d data layer,
    * `energypandas.py:414-601`: one ridge/surface per level-0 group) —
    * the group column is just an extra key. */
  def toDayHourMatrixBy(groupCol: String): DataFrame =
    dayHourMatrix(Seq(groupCol))

  /** Two-stage matrix build: stage 1 aggregates on the NATURAL key
    * (…, date, hour) — one hash probe per input row, no per-row CASE
    * fan-out (the single-aggregate form evaluates 24 `when` cells per
    * row, i.e. 24× the expression work through the big scan); stage 2
    * pivots the TINY per-hour aggregate (rows = dates × 24) into the 24
    * columns. The second shuffle moves the aggregate, not the data. */
  private def dayHourMatrix(extraKeys: Seq[String]): DataFrame = {
    val ts = idx.head
    val keys = extraKeys.map(col) :+ to_date(ts).as("period_date")
    val hourly = df.groupBy(keys :+ hour(ts).as("__h"): _*)
      .agg(org.apache.spark.sql.functions.sum(v.cast(DetAgg.Dec)).as("__s"),
        count(v).as("__c"))
    val cells = (0 until 24).map { h =>
      (max(when(col("__h") === h, col("__s"))).cast(DoubleType) /
        max(when(col("__h") === h, col("__c")))).as(s"h$h")
    }
    hourly.groupBy(extraKeys.map(col) :+ col("period_date"): _*)
      .agg(cells.head, cells.tail: _*)
  }

  // --------------------------------------------------------- align-arith

  /** Index-alignment arithmetic (`energypandas.py:54-57`): full-outer
    * equi-join on the index, elementwise op, result keeps LEFT units
    * (units are inert in ops, SURVEY §1.4.1). Catalyst picks
    * broadcast/sort-merge automatically. */
  private def aligned(other: EnergySeries, op: (Column, Column) => Column)
      : EnergySeries = {
    require(indexCols == other.indexCols, "aligned ops need matching index columns")
    val l = df.select(idx :+ v.as("__l"): _*)
    val r = other.df.select(other.idx :+ col(other.valueCol).as("__r"): _*)
    val joined = l.join(r, indexCols, "full_outer")
      .select(idx :+ op(col("__l"), col("__r")).as(valueCol): _*)
    copy(df = joined)
  }

  def +(other: EnergySeries): EnergySeries = aligned(other, _ + _)
  def -(other: EnergySeries): EnergySeries = aligned(other, _ - _)
  def *(other: EnergySeries): EnergySeries = aligned(other, _ * _)
  def /(other: EnergySeries): EnergySeries = aligned(other, _ / _)

  def +(k: Double): EnergySeries = finalized(df.withColumn(valueCol, v + lit(k)))
  def -(k: Double): EnergySeries = finalized(df.withColumn(valueCol, v - lit(k)))
  def *(k: Double): EnergySeries = finalized(df.withColumn(valueCol, v * lit(k)))
  def /(k: Double): EnergySeries = finalized(df.withColumn(valueCol, v / lit(k)))

  def sum(): Double =
    df.agg(coalesce(DetAgg.detSum(v), lit(0.0))).head().getDouble(0)

  /** Elementwise transform via a Column expression — the declarative
    * `apply(lambda)` analog (`energypandas.py:278,363,378`); stays inside
    * codegen, unlike a UDF. */
  def mapValues(f: Column => Column): EnergySeries =
    finalized(df.withColumn(valueCol, f(v)))

  /** Exact multiset equality with another series (`equals`,
    * tests/test_energypandas.py:87,207-212). */
  def seriesEquals(other: EnergySeries): Boolean =
    df.exceptAll(other.df).isEmpty && other.df.exceptAll(df).isEmpty

  // ------------------------------------------------------------- reshape

  /** Period matrix (tsam `unstackToPeriods` analog, `energypandas.py:503`,
    * used by plot2d/plot3d/discretize): reshape the series into
    * (period × slot). When the frequency is regular the (period, slot)
    * coordinates are pure timestamp arithmetic — no window, no extra
    * shuffle beyond the pivot's groupBy. */
  def toPeriodMatrix(periodLength: Int = 24): DataFrame =
    periodMatrix(periodLength)._1.orderBy("period")

  /** [[toPeriodMatrix]] unsorted, with the step in seconds that its one
    * first-two-timestamps action inferred — for driver consumers that
    * collect the (bounded) matrix and sort it themselves, and need the
    * step too (plot axis labels). */
  private[graft] def periodMatrix(periodLength: Int): (DataFrame, Long) = {
    val (stepped, stepSeconds) = withStep
    val pm = stepped
      .groupBy((col("__step") / periodLength).cast(LongType).as("period"))
      .pivot(pmod(col("__step"), lit(periodLength)), 0 until periodLength)
      .agg(first(v))
    (pm, stepSeconds)
  }

  /** step = ordinal position along the (regular) time axis, derived from
    * timestamp arithmetic against the series start. The first two sorted
    * timestamps give BOTH the origin and the step — one driver action,
    * not an infer-freq action plus a min(ts) aggregate. */
  private[graft] def withStepColumn: DataFrame = withStep._1

  private def withStep: (DataFrame, Long) = {
    val ts = idx.head
    val first2 = df.select(ts).orderBy(ts.asc).limit(2)
      .collect().map(_.getTimestamp(0).getTime / 1000)
    require(first2.length >= 2, "need at least 2 rows to infer frequency")
    val stepSeconds = first2(1) - first2(0)
    (df.withColumn("__step",
      ((unix_timestamp(ts) - lit(first2(0))) / lit(stepSeconds))
        .cast(LongType)), stepSeconds)
  }

  /** Infer the sampling period from the first timestamps
    * (`energypandas.py:752-756`) — driver-side, 3-row action. */
  def inferStepSeconds: Long = {
    val firstTs = df.select(idx.head).orderBy(idx.head.asc).limit(3)
      .collect().map(_.getTimestamp(0).getTime / 1000)
    require(firstTs.length >= 2, "need at least 2 rows to infer frequency")
    firstTs(1) - firstTs(0)
  }

  /** Positional row slice [start, start+len) in index order — the `iloc`
    * analog (SURVEY §2.2 P2). Declarative sort + OFFSET/LIMIT: Catalyst
    * plans it (partial sorts + limit pushout), no RDD round-trip and no
    * global window. */
  def slicePositional(start: Long, len: Long): EnergySeries = {
    val sorted = df.orderBy(idx.map(_.asc): _*)
    finalized(sorted.offset(start.toInt).limit(len.toInt))
  }

  /** Number of value series — always 1 for a series, the ndim==1 branch
    * of the reference's `nseries` property (`energypandas.py:646-650`). */
  def nseries: Int = 1

  /** Series -> single-column frame (`energypandas.py:76-87`). */
  def toFrame: EnergyFrame = {
    val n = name.getOrElse(valueCol)
    EnergyFrame(df.withColumnRenamed(valueCol, n), indexCols,
      units.map(u => n -> u).toMap, meta, baseYear)
  }

  def show(n: Int = 20): Unit = {
    df.show(n)
    units.foreach(u => println(s"units: ${u.raw}"))
  }
}

object EnergySeries {

  /** Hourly (or any fixed-step) time index starting Jan 1 of `baseYear` —
    * `with_timeindex` (`energypandas.py:175-229`). Generated distributed
    * via `spark.range` (no driver materialization). */
  def withTimeIndex(spark: SparkSession, values: DataFrame, valueCol: String,
      baseYear: Int = 2018, stepSeconds: Long = 3600,
      units: Option[String] = None): EnergySeries = {
    // values must carry an ordinal "id" column 0..n-1; the start epoch is
    // computed in UTC so the result is independent of the JVM default zone
    val startEpoch = java.time.LocalDateTime.of(baseYear, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val df = values.withColumn("ts",
      timestamp_seconds(lit(startEpoch) + col("id") * lit(stepSeconds)))
      .select(col("ts"), col(valueCol))
    EnergySeries(df, Seq("ts"), valueCol,
      units.map(UnitRegistry.parse), frequency = Some(s"${stepSeconds}s"),
      baseYear = baseYear)
  }

  /** Convenience: 0..n-1 doubles with an hourly index (the reference test
    * fixture shape, `tests/test_energypandas.py:43-57`). */
  def rangeSeries(spark: SparkSession, n: Long, baseYear: Int = 2018,
      units: Option[String] = None, valueCol: String = "value"): EnergySeries = {
    val vals = spark.range(n).withColumn(valueCol, col("id").cast(DoubleType))
    withTimeIndex(spark, vals, valueCol, baseYear, 3600, units)
  }
}
