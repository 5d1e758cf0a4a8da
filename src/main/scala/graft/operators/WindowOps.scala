package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.DetAgg

/** Ordered-window analytics (rolling means, running totals). The frames
  * accumulate through DECIMAL like DetAgg, so window results are exact
  * and engine/run-deterministic regardless of how the engine associates
  * the frame sum. Windows partition by an explicit key — state per key is
  * bounded, and the shuffle is the partition key, so these scale
  * horizontally (a global unpartitioned window would not). */
object WindowOps {

  /** Trailing `n`-row mean of `valueCol` within each partition, ordered by
    * `orderCols` (include a unique tie-breaker for determinism). */
  def rollingMean(df: DataFrame, valueCol: String, n: Int,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "rolling_mean"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    df.withColumn(as,
      sum(col(valueCol).cast(DetAgg.Dec)).over(w).cast("double") /
        count(col(valueCol)).over(w))
  }

  /** Consecutive-row delta of `valueCol` within each partition (lag-based;
    * NULL for each partition's first row). */
  def delta(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], as: String = "delta"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn(as, col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /** Running total of `valueCol` within each partition. */
  def runningTotal(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "running_total"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as,
      sum(col(valueCol).cast(DetAgg.Dec)).over(w).cast("double"))
  }

  /** Exponentially-weighted moving mean (the pandas `ewm(alpha).mean()`
    * analog), truncated to the trailing `window` observations: weight
    * (1-α)^k at lag k, normalized by the sum of PRESENT weights (pandas
    * `adjust=True`). Exact ewm is a sequential recurrence over the full
    * prefix that no engine parallelizes; truncating bounds both state and
    * error — (1-α)^16 < 2e-3 of the weight mass for α ≥ 0.35, below the
    * 6-dp output rounding. Lag-chain formulation: one window shuffle,
    * numerator and denominator accumulated left-to-right in the same
    * order as the oracle SQL, so results are bit-identical. */
  def ewmMean(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], alpha: Double, window: Int,
      as: String = "ewm"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val v = col(valueCol)
    val terms = (0 until window).map { k =>
      val x = if (k == 0) v else lag(v, k).over(w)
      val wt = lit(math.pow(1 - alpha, k))
      (coalesce(x * wt, lit(0.0)), coalesce(when(x.isNotNull, wt), lit(0.0)))
    }
    val num = terms.map(_._1).reduceLeft(_ + _)
    val den = terms.map(_._2).reduceLeft(_ + _)
    df.withColumn(as, round(num / den, 6))
  }

  /** Rolling z-score anomaly flag: each value scored against the trailing
    * `n`-row window EXCLUDING the current row (the point under test must
    * not contaminate its own baseline). Mean and variance derive from
    * decimal-routed sums of v and v² — associative, so the scores are
    * bit-identical on any engine, unlike stddev builtins whose streaming
    * vs segment-tree accumulation orders differ. Rows with fewer than
    * `minPeriods` trailing points (or zero variance) get NULL. One
    * shuffle, keyed by the window partition. */
  def anomalyZScore(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      n: Int, minPeriods: Int, z: Double): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-n, -1)
    val v = col(valueCol)
    val s1 = sum(v.cast(DetAgg.Dec)).over(w).cast("double")
    val s2 = sum((v * v).cast(DetAgg.Dec)).over(w).cast("double")
    val cnt = count(v).over(w)
    val varC = when(cnt >= minPeriods, (s2 - s1 * s1 / cnt) / (cnt - 1))
    val withVar = df.withColumn("__mu", when(cnt >= minPeriods, s1 / cnt))
      .withColumn("__var", varC)
    val sd = when(col("__var") > 0, sqrt(col("__var")))
    val zc = round((v - col("__mu")) / sd, 6)
    withVar.withColumn("zscore", zc)
      .withColumn("is_anomaly", (abs(zc) > lit(z)).cast("long"))
      .drop("__mu", "__var")
  }

  /** Chunk-parallel twin of [[anomalyZScore]] — identical output, built
    * for the LOW-CARDINALITY-KEY regime where a keyed window serializes:
    * `PARTITION BY event_type` over 5 types runs 5 single-threaded
    * sorts no matter how many cores or executors exist, and at 100 TB a
    * hot key's partition does not fit one task. This formulation keeps
    * every stage fine-grained:
    *
    *  1. range-partition by (key, order) and assign each row its exact
    *     per-key GLOBAL ordinal: `row_number` windows partition by
    *     (physical partition id, key) — parallel across partitions —
    *     and a driver-side prefix sum over the (partition × key) count
    *     matrix (bounded by parts × |keys|, the operator's premise)
    *     supplies each partition's starting offset, broadcast back.
    *     The same count-plus-offset idiom as the RDD rank of
    *     [[Analytics.distributedRank]], expressed with windows.
    *  2. bucket rows by `ordinal DIV bucketRows` and REPLICATE each
    *     bucket's last `n` rows into the next bucket as context, so
    *     every trailing `ROWS n PRECEDING` frame is complete inside
    *     its bucket.
    *  3. run the verbatim z-score frame partitioned by (key, bucket) —
    *     parallelism = buckets, state per task = bucketRows + n rows —
    *     and keep only non-context rows.
    *
    * Replication overhead is n/bucketRows (≤ 0.1 % at the defaults).
    * DetAgg's associative decimal sums make the chunked result
    * bit-identical to the single-window plan — spec-asserted row for
    * row, and q183 runs it against q94's unchunked oracle. `orderCols`
    * must be a total order within each key (same contract as every
    * deterministic window here). */
  def anomalyZScoreChunked(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      n: Int, minPeriods: Int, z: Double,
      bucketRows: Int = 1 << 16, rangeParts: Int = 0): DataFrame =
    chunkedTrailing(df, partitionCols, orderCols, n, bucketRows,
        rangeParts) { (chunked, w) =>
      val v = col(valueCol)
      val s1 = sum(v.cast(DetAgg.Dec)).over(w).cast("double")
      val s2 = sum((v * v).cast(DetAgg.Dec)).over(w).cast("double")
      val cnt = count(v).over(w)
      val varC = when(cnt >= minPeriods, (s2 - s1 * s1 / cnt) / (cnt - 1))
      val sd = when(varC > 0, sqrt(varC))
      val mu = when(cnt >= minPeriods, s1 / cnt)
      val zc = round((v - mu) / sd, 6)
      chunked.withColumn("zscore", zc)
        .withColumn("is_anomaly", (abs(col("zscore")) > lit(z)).cast("long"))
    }.getOrElse(anomalyZScore(df, valueCol, partitionCols, orderCols,
      n, minPeriods, z))

  /** Chunk-parallel twin of [[rollingMean]] — same decomposition as
    * [[anomalyZScoreChunked]] (the frame here INCLUDES the current row,
    * so context replication still suffices: n-1 preceding + current).
    * Bit-identical to the keyed window, spec-asserted. */
  def rollingMeanChunked(df: DataFrame, valueCol: String, n: Int,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "rolling_mean", bucketRows: Int = 1 << 16,
      rangeParts: Int = 0): DataFrame =
    chunkedTrailing(df, partitionCols, orderCols, n - 1, bucketRows,
        rangeParts) { (chunked, wExcl) =>
      val w = wExcl.rowsBetween(-(n - 1), Window.currentRow)
      chunked.withColumn(as,
        sum(col(valueCol).cast(DetAgg.Dec)).over(w).cast("double") /
          count(col(valueCol)).over(w))
    }.getOrElse(rollingMean(df, valueCol, n, partitionCols, orderCols, as))

  /** The shared chunk-parallel scaffolding: hand `score` a frame whose
    * rows carry exact per-key global ordinals (`__ord`), bucketed with
    * the last `n` rows of each bucket replicated into the next, plus
    * the (key, bucket) trailing window `ROWS [-n, -1]` (re-frame it for
    * other trailing shapes — any frame reaching at most n rows back is
    * complete inside its bucket). Returns None on empty input (callers
    * fall back to the plain window). See [[anomalyZScoreChunked]] for
    * the full design rationale. */
  private def chunkedTrailing(df: DataFrame, partitionCols: Seq[String],
      orderCols: Seq[String], n: Int, bucketRows: Int, rangeParts: Int)(
      score: (DataFrame, org.apache.spark.sql.expressions.WindowSpec)
        => DataFrame): Option[DataFrame] = {
    require(bucketRows > n, s"bucketRows ($bucketRows) must exceed n ($n)")
    val spark = df.sparkSession
    val parts = if (rangeParts > 0) rangeParts
      else spark.sessionState.conf.numShufflePartitions
    val keyCols = partitionCols.map(col)
    val ranged = Lineage.keep(
      df.repartitionByRange(parts, (partitionCols ++ orderCols).map(col): _*)
        .withColumn("__pid", spark_partition_id()))
    // (partition, key) row counts -> per-(partition, key) start offsets
    val counts = ranged.groupBy(col("__pid") +: keyCols: _*)
      .agg(count(lit(1)).as("__c")).collect()
    if (counts.isEmpty) return None
    val k = partitionCols.length
    val offsetRows = counts.groupBy(r => (1 to k).map(r.get(_)).toSeq)
      .iterator.flatMap { case (_, rs) =>
        var acc = 0L
        rs.sortBy(_.getInt(0)).map { r =>
          val off = acc; acc += r.getLong(k + 1)
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.take(k + 1) :+ off)
        }
      }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      counts.headOption.map(_.schema.fields.take(k + 1)).getOrElse(Array())
        :+ org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType, nullable = false))
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offSchema)
    val wLocal = Window.partitionBy(col("__pid") +: keyCols: _*)
      .orderBy(orderCols.map(col): _*)
    val withOrd = ranged
      .join(broadcast(offsets), "__pid" +: partitionCols)
      .withColumn("__ord",
        row_number().over(wLocal).cast("long") - 1L + col("__off"))
    val main = withOrd
      .withColumn("__bucket", expr(s"__ord DIV $bucketRows"))
      .withColumn("__ctx", lit(false))
    val ctx = withOrd
      .where(pmod(col("__ord"), lit(bucketRows.toLong)) >= bucketRows - n)
      .withColumn("__bucket", expr(s"__ord DIV $bucketRows") + 1L)
      .withColumn("__ctx", lit(true))
    val w = Window.partitionBy(keyCols :+ col("__bucket"): _*)
      .orderBy(col("__ord"))
      .rowsBetween(-n, -1)
    Some(score(main.unionByName(ctx), w)
      .where(!col("__ctx"))
      .drop("__pid", "__off", "__ord", "__bucket", "__ctx"))
  }

  /** Equal-frequency (quantile) binning: every bin gets n/k consecutive
    * rows of the value order. The global ascending rank comes from
    * [[Analytics.distributedRank]], then `bin = (rank−1)·k / n` in exact
    * long arithmetic. Ties must be broken unique by `tieCols` for
    * determinism. */
  def equalFrequencyBins(df: DataFrame, valueCol: String,
      tieCols: Seq[String], k: Int): DataFrame = {
    val n = df.count()
    val ranked = Analytics.distributedRank(
      df.select((valueCol +: tieCols).map(col): _*),
      col(valueCol).asc +: tieCols.map(col(_).asc), rankCol = "__rank")
    ranked.groupBy(expr(s"(__rank - 1) * ${k}L div ${n}L").as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("bin_min"), max(col(valueCol)).as("bin_max"),
        DetAgg.detSum(col(valueCol)).as("bin_sum"))
  }

  /** Linear interpolation of nulls (the pandas `interpolate()` analog):
    * each null takes the straight line between its nearest non-null
    * neighbors in the partition's row order; leading/trailing gaps take
    * the single available endpoint. One shuffle keyed by the partition.
    * The "next non-null" lookups run over the REVERSED ordering with a
    * running (unboundedPreceding → current) frame instead of an
    * (current → unboundedFollowing) frame: Spark evaluates running
    * frames incrementally but re-scans the partition tail per row for
    * unbounded-following ones — O(n²), measured 39 s vs 0.5 s on a 20 k-
    * row partition. Same exchange either way; the reversed window only
    * adds a second in-partition sort. */
  def interpolateLinear(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "interp"): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val prevW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextW = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol)
    df.withColumn("__rn", row_number().over(base))
      .withColumn("__pr",
        last(when(v.isNotNull, col("__rn")), ignoreNulls = true).over(prevW))
      .withColumn("__pv", last(v, ignoreNulls = true).over(prevW))
      .withColumn("__nr",
        last(when(v.isNotNull, col("__rn")), ignoreNulls = true).over(nextW))
      .withColumn("__nv", last(v, ignoreNulls = true).over(nextW))
      .withColumn(as,
        when(v.isNotNull, v)
          .when(col("__pr").isNull, col("__nv"))
          .when(col("__nr").isNull, col("__pv"))
          .otherwise(round(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__rn") - col("__pr")).cast("double") /
              (col("__nr") - col("__pr")).cast("double")), 6)))
      .drop("__rn", "__pr", "__pv", "__nr", "__nv")
  }

  /** Rolling Pearson correlation of two columns over the trailing `n`
    * rows (the pandas `rolling(n).corr()` analog), pairwise-complete.
    * The six sufficient statistics are window aggregates sharing ONE
    * frame — Spark evaluates bounded-preceding ROWS frames incrementally
    * (never the O(n²) unbounded-following shape), so cost is O(rows).
    * With empty `partitionCols` the window is single-partition: meant
    * for already-reduced matrices (hourly/daily pivots), same contract
    * as `ldcWindowed`. */
  def rollingCorrelation(df: DataFrame, xCol: String, yCol: String,
      n: Int, partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "roll_corr"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    val x = col(xCol); val y = col(yCol)
    val pair = x.isNotNull && y.isNotNull
    def dsumw(c: Column) =
      sum(when(pair, c).cast(DetAgg.Dec)).over(w).cast("double")
    val cnt = count(when(pair, lit(1))).over(w).cast("double")
    val sx = dsumw(x); val sy = dsumw(y)
    val sxy = dsumw(x * y); val sxx = dsumw(x * x); val syy = dsumw(y * y)
    val cov = cnt * sxy - sx * sy
    val vx = cnt * sxx - sx * sx
    val vy = cnt * syy - sy * sy
    df.withColumn(as,
      round(when(cnt >= 2.0 && vx > 0.0 && vy > 0.0,
        cov / sqrt(vx * vy)), 6))
  }

  /** Rolling quantile over the trailing `n` rows (the pandas
    * `rolling(n).quantile(q)` analog): exact interpolated percentile per
    * bounded ROWS frame. The frame is bounded (never unbounded-
    * following), so the per-row buffer is ≤ n values — cost O(rows · n)
    * with O(n) state, keyed and partitioned by the caller's group. The
    * quantile rounds to 6 decimals (the engine's strict-compare
    * discipline for interpolated statistics). */
  def rollingQuantile(df: DataFrame, valueCol: String, q: Double, n: Int,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "roll_q"): DataFrame = {
    require(q >= 0.0 && q <= 1.0, "q must be in [0, 1]")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    df.withColumn(as,
      round(percentile(col(valueCol), lit(q)).over(w), 6))
  }

  /** Resample-to-grid with time-weighted linear interpolation — the
    * pandas `.resample(freq).interpolate("time")` analog, and the
    * upsampling twin of [[interpolateLinear]] (which fills nulls at
    * EXISTING rows by row index; this one generates NEW grid timestamps
    * and weights by actual elapsed time).
    *
    * Per key: observations are first reduced to one value per raw
    * timestamp (deterministic decimal mean, rounded to 6), a `freq`
    * grid spanning [trunc(min ts), trunc(max ts)] is generated with
    * `sequence` (no driver loop), and each grid point takes
    * `pv + (nv − pv) · (t − pt)/(nt − pt)` from its bracketing
    * observations via two running-last windows (one per direction) —
    * O(rows) incremental frames, no self-join. Grid points outside the
    * observed range (or exactly at an observation) resolve to null / the
    * observation value respectively. Shape at scale: one keyed shuffle
    * for the dedup aggregate, one for the windows — grid density is a
    * constant factor, state per key is one running (value, ts) pair.
    */
  def resampleInterpolate(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], freq: String = "hour",
      as: String = "v"): DataFrame = {
    val k = keys.map(col)
    val obs = df.groupBy((k :+ col(tsCol)): _*)
      .agg(round(DetAgg.detAvg(col(valueCol)), 6).as("__v"))
    val grid = obs.groupBy(k: _*)
      .agg(date_trunc(freq, min(col(tsCol))).as("__lo"),
        date_trunc(freq, max(col(tsCol))).as("__hi"))
      .select((k :+ explode(sequence(col("__lo"), col("__hi"),
        expr(s"interval 1 $freq"))).as(tsCol)): _*)
    val unioned = obs
      .select((k ++ Seq(col(tsCol), col("__v"), lit(1).as("__o"))): _*)
      .unionByName(grid
        .select((k ++ Seq(col(tsCol), lit(null).cast("double").as("__v"),
          lit(0).as("__o"))): _*))
      .withColumn("__us", unix_micros(col(tsCol)))
    // obs row sorts BEFORE the grid row at an equal timestamp going
    // forward (so prev sees it) and AFTER it going backward (so next
    // does not) — exact-hit grid points take the observation via the
    // pt == t branch, never a 0/0 fraction
    val wPrev = Window.partitionBy(k: _*)
      .orderBy(col(tsCol).asc, col("__o").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(k: _*)
      .orderBy(col(tsCol).desc, col("__o").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def obsOnly(c: Column): Column = when(col("__o") === 1, c)
    val bracketed = unioned
      .withColumn("__pv", last(obsOnly(col("__v")), ignoreNulls = true)
        .over(wPrev))
      .withColumn("__pt", last(obsOnly(col("__us")), ignoreNulls = true)
        .over(wPrev))
      .withColumn("__nv", last(obsOnly(col("__v")), ignoreNulls = true)
        .over(wNext))
      .withColumn("__nt", last(obsOnly(col("__us")), ignoreNulls = true)
        .over(wNext))
    bracketed.where(col("__o") === 0)
      .select((k ++ Seq(col(tsCol),
        when(col("__pt").isNull, lit(null).cast("double"))
          .when(col("__pt") === col("__us"), col("__pv"))
          .when(col("__nt").isNull, lit(null).cast("double"))
          .otherwise(round(col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__us") - col("__pt")).cast("double") /
              (col("__nt") - col("__pt")).cast("double")), 6))
          .as(as))): _*)
  }

  /** Forward-fill (the pandas `ffill` analog): each null takes the most
    * recent non-null value within its partition — a keyed running-last,
    * so state per partition is one value and the shuffle is the window's
    * partition key (scale-safe; an UNpartitioned fill would funnel
    * everything through one task — give gap-filling a key). */
  def forwardFill(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      as: String = "filled"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, last(col(valueCol), ignoreNulls = true).over(w))
  }
}
