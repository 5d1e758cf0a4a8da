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
    * replace the time index with rank 0..n-1 — the 0-based projection
    * of [[graft.operators.Analytics.distributedRank]], which picks the
    * physical rank from the plan's size estimate (a single-partition
    * window for a small series, Spark's range sort plus zipWithIndex
    * above the broadcast threshold). Ties in value break on the index. */
  def ldc: EnergySeries = {
    val order = v.desc +: indexCols.map(col(_).asc)
    val ranked = graft.operators.Analytics.distributedRank(
      df.select(idx :+ v: _*), order, rankCol = "__rank")
    copy(df = ranked.select((col("__rank") - 1L).as("idx"), v),
      indexCols = Seq("idx"), frequency = None)
  }

  /** [[ldc]] forced onto the single-partition window whatever the
    * size estimate — for driver-verification paths. */
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

  /** Period matrix (tsam `unstackToPeriods` analog, `energypandas.py:503`):
    * reshape the series into (period × slot), one row per period with
    * columns `0 until periodLength`. When the frequency is regular the
    * (period, slot) coordinates are pure timestamp arithmetic — no
    * window, no extra shuffle beyond the pivot's groupBy. Consumers that
    * collect the matrix anyway use [[unstack]]. */
  def toPeriodMatrix(periodLength: Int = 24): DataFrame = {
    val (origin, step) = axis
    df.withColumn("__step", stepIndex(origin, step))
      .groupBy((col("__step") / periodLength).cast(LongType).as("period"))
      .pivot(pmod(col("__step"), lit(periodLength)), 0 until periodLength)
      .agg(first(v))
      .orderBy("period")
  }

  /** [[toPeriodMatrix]] built on the driver from ONE collect of
    * `(ts, valueCols…)` — for consumers that collect the (bounded)
    * matrix anyway (plots, the local cluster fit), where the pivot would
    * be a shuffle whose output is collected on the next line. Same
    * semantics as the pivot: origin and step from the first two
    * ascending timestamps, `__step` = ((unix_timestamp(ts) − origin) /
    * step) cast to long, `period` = (`__step` / periodLength) cast to
    * long, `slot` = pmod(`__step`, periodLength), each cell the first
    * value (null included) of its (period, slot), periods ascending.
    * `cells(j)(p)(s)` is column j's value in the p-th period at slot s.
    * With `maxRows` the collect is a `limit(maxRows + 1)` and a series
    * longer than that gives None. */
  private[graft] def unstack(periodLength: Int,
      valueCols: Seq[String] = Seq(valueCol),
      maxRows: Option[Int] = None): Option[EnergySeries.Unstacked] = {
    val ts = indexCols.head
    val picked = df.select(col(ts) +: valueCols.map(c => col(c).cast(DoubleType)): _*)
    val rows = maxRows.fold(picked.collect())(m => picked.limit(m + 1).collect())
    if (maxRows.exists(rows.length > _)) None
    else {
      // the first two ascending timestamps, as orderBy(ts).limit(2) sees them
      val first2 = rows.foldLeft(List.empty[java.sql.Timestamp]) { (acc, r) =>
        (r.getTimestamp(0) :: acc).sorted(EnergySeries.NullsFirst).take(2)
      }
      val (origin, step) = originAndStep(ts, first2)
      require(step > 0,
        s"the first two timestamps of '$ts' are equal; no step to infer")
      val n = valueCols.size
      // per period: slot-major cells, null = no row seen yet (first wins)
      val byPeriod = scala.collection.mutable.LongMap.empty[Array[Option[Double]]]
      rows.foreach { r =>
        val unix = Math.floorDiv(r.getTimestamp(0).getTime, 1000L)
        val s = ((unix - origin).toDouble / step).toLong
        val slot = Math.floorMod(s, periodLength.toLong).toInt
        val cells = byPeriod.getOrElseUpdate((s.toDouble / periodLength).toLong,
          new Array[Option[Double]](periodLength * n))
        var j = 0
        while (j < n) {
          val i = slot * n + j
          if (cells(i) == null)
            cells(i) = if (r.isNullAt(j + 1)) None else Some(r.getDouble(j + 1))
          j += 1
        }
      }
      val periods = byPeriod.keys.toArray.sorted
      val cells = valueCols.indices.map(j => periods.map { p =>
        val c = byPeriod(p)
        Array.tabulate(periodLength)(slot => Option(c(slot * n + j)).flatten)
      })
      Some(EnergySeries.Unstacked(origin, step, periods, cells))
    }
  }

  /** The ordinal position along the (regular) time axis: `__step` =
    * ((unix_timestamp(ts) − origin) / step) cast to long. */
  private[graft] def stepIndex(origin: Long, step: Long): Column =
    ((unix_timestamp(idx.head) - lit(origin)) / lit(step)).cast(LongType)

  /** (origin, step) in epoch seconds from the first two ascending
    * timestamps — one driver action, not an infer-freq action plus a
    * min(ts) aggregate. */
  private[graft] def axis: (Long, Long) = {
    val ts = indexCols.head
    originAndStep(ts, df.select(col(ts)).orderBy(col(ts).asc).limit(2)
      .collect().map(_.getTimestamp(0)).toList)
  }

  /** Ascending order puts nulls first, so a null timestamp anywhere in
    * the series shows up among the first two: raise instead of
    * dereferencing it. */
  private def originAndStep(ts: String, first2: List[java.sql.Timestamp])
      : (Long, Long) = {
    if (first2.contains(null)) throw new IllegalArgumentException(
      s"column '$ts' holds a null timestamp; the step cannot be inferred")
    require(first2.length >= 2, "need at least 2 rows to infer frequency")
    val origin = first2.head.getTime / 1000
    (origin, first2(1).getTime / 1000 - origin)
  }

  /** Infer the sampling period from the first timestamps
    * (`energypandas.py:752-756`) — driver-side, 2-row action. */
  def inferStepSeconds: Long = axis._2

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

  /** A series unstacked on the driver ([[EnergySeries.unstack]]): the
    * time axis' origin and step in epoch seconds, the periods in
    * ascending order, and per value column a periods × slots matrix
    * (None = null or no row). */
  private[graft] final case class Unstacked(origin: Long, step: Long,
      periods: Array[Long], cells: Seq[Array[Array[Option[Double]]]])

  /** Spark's ascending timestamp order: nulls first. */
  private val NullsFirst: Ordering[java.sql.Timestamp] =
    Ordering.fromLessThan((a, b) => b != null && (a == null || a.before(b)))

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
