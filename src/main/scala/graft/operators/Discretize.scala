package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EnergySeries

/** Clustering method for the period vectors. */
sealed trait ClusterMethod
object ClusterMethod {
  /** Seeded k-means (tsam `clusterMethod='k_means'` analog). */
  case object KMeansMethod extends ClusterMethod
  /** Ward-linkage agglomerative (tsam's default `'hierarchical'`). */
  case object Hierarchical extends ClusterMethod
}

/** Typical-period clustering — the Spark-native re-expression of the
  * reference's `discretize_tsam`
  * (`/root/reference/energy_pandas/energypandas.py:384-412`, frame variant
  * `:1118-1147`), which delegates to tsam's `TimeSeriesAggregation`:
  * unstack the series into period vectors, cluster them, and write each
  * period's cluster-mean profile back over the original timestamps
  * (`predictOriginalData`).
  *
  * Semantics here (documented deviation, tsam's exact hierarchical
  * pipeline is not reproduced): periods of `periodLength` consecutive
  * steps; k-means (fixed seed) over complete period vectors; cluster
  * representation = slot-wise mean over member periods; incomplete
  * trailing periods are clustered after padding missing slots with the
  * global slot mean, and receive their cluster's profile on the slots they
  * cover. For `noTypicalPeriods = 1` this degenerates to the slot-wise
  * mean profile and is sum-preserving over complete periods.
  *
  * Scale: clustering runs on the period×slot matrix (rows/periodLength
  * rows — inherently reduced), unstacked on the driver from one bounded
  * collect of the series and fit in-process ([[LocalKMeans]] /
  * [[LocalWard]], mirroring tsam's in-process sklearn), with spark.ml
  * over a distributed pivot as the fallback above [[MaxLocalRows]]; the
  * write-back reuses the collect's origin and step and is two joins on
  * (period) and (cluster, slot) — both tiny dimension joins that Spark
  * broadcasts.
  */
object Discretize {

  /** Above this many period rows the cluster fit falls back to spark.ml
    * KMeans (distributed). Below it — which is every realistic input,
    * since the matrix shrinks by periodLength and a century of hourly
    * data is ~36 500 rows — the series is collected (at most
    * MaxLocalRows × periodLength rows), unstacked and fit with
    * [[LocalKMeans]] on the driver: one bounded collect, zero scheduler
    * round-trips, exactly how tsam runs sklearn in-process on the same
    * matrix. */
  val MaxLocalRows = 100000

  /** Pad missing slots (a null cell, or an incomplete trailing period)
    * with the slot mean over the present values, in place, ON THE
    * DRIVER — sequential in period order, so deterministic. */
  private def padWithSlotMeans(pts: Array[Array[Double]]): Unit = {
    val dim = if (pts.isEmpty) 0 else pts.head.length
    var j = 0
    while (j < dim) { // slot mean over present values, sequential = det.
      var s = 0.0; var n = 0
      pts.foreach { p => if (!p(j).isNaN) { s += p(j); n += 1 } }
      val m = if (n > 0) s / n else 0.0
      pts.foreach { p => if (p(j).isNaN) p(j) = m }
      j += 1
    }
  }

  /** The `__step` column of `es`'s time axis and the (__period,
    * __cluster) assignment of its periods over `valueCols`; None for
    * k ≤ 1 (one cluster, no fit: the cheap first-two-timestamps
    * inference gives the step). For k ≥ 2, ONE bounded collect of
    * `(ts, valueCols…)` unstacked on the driver
    * ([[EnergySeries.unstack]]) gives the origin, the step and the
    * period matrix (features = each column's slots in turn), fit with
    * [[LocalWard]] / [[LocalKMeans]]. Above [[MaxLocalRows]] periods (or
    * that many times `periodLength` rows) spark.ml KMeans fits the
    * distributed pivot that `pivot(step)` builds. */
  private def clusterPeriods(es: EnergySeries, valueCols: Seq[String],
      k: Int, periodLength: Int, seed: Long, method: ClusterMethod)(
      pivot: Column => (DataFrame, Seq[String]))
      : (Column, Option[DataFrame]) = {
    val maxRows = math.min(MaxLocalRows.toLong * periodLength,
      Int.MaxValue - 1L).toInt
    if (k <= 1) {
      val (origin, step) = es.axis
      (es.stepIndex(origin, step), None)
    } else es.unstack(periodLength, valueCols, Some(maxRows)) match {
      case Some(u) if u.periods.length <= MaxLocalRows =>
        val points = u.periods.indices.map(p => (for {
          m <- u.cells; cell <- m(p)
        } yield cell.getOrElse(Double.NaN)).toArray).toArray
        padWithSlotMeans(points)
        val assign = method match {
          case ClusterMethod.Hierarchical => LocalWard.fit(points, k)
          case ClusterMethod.KMeansMethod => LocalKMeans.fit(points, k, seed)._1
        }
        val spark = es.df.sparkSession
        import spark.implicits._
        (es.stepIndex(u.origin, u.step),
          Some(u.periods.zip(assign).toSeq.toDF("__period", "__cluster")))
      case bounded =>
        require(method == ClusterMethod.KMeansMethod,
          s"hierarchical clustering needs the period matrix on the driver " +
            s"(<= $MaxLocalRows periods); use k-means above that")
        val (origin, step) = bounded.fold(es.axis)(u => (u.origin, u.step))
        val stepCol = es.stepIndex(origin, step)
        val (matrix, featCols) = pivot(stepCol)
        // pad missing slots with the slot mean, then fit distributed:
        // sorted single partition keeps the k-means|| init independent of
        // session parallelism (DEVIATIONS §9)
        val means = matrix.select(featCols.map(c => avg(col(c)).as(c)): _*)
          .head()
        val filled = featCols.zipWithIndex.foldLeft(matrix) {
          case (d, (c, i)) => d.withColumn(c, coalesce(col(c),
            lit(if (means.isNullAt(i)) 0.0 else means.getDouble(i))))
        }
        val features = new VectorAssembler()
          .setInputCols(featCols.toArray).setOutputCol("__features")
          .transform(filled.orderBy("__period").coalesce(1))
        val model = new KMeans().setK(k).setSeed(seed)
          .setFeaturesCol("__features").setPredictionCol("__cluster")
          .fit(features)
        (stepCol, Some(
          model.transform(features).select(col("__period"), col("__cluster"))))
    }
  }

  /** `__step`, `__period` and `__slot` over `df`'s time column. */
  private def stamped(df: DataFrame, step: Column, periodLength: Int)
      : DataFrame =
    df.withColumn("__step", step)
      .withColumn("__period", (col("__step") / periodLength).cast(LongType))
      .withColumn("__slot", pmod(col("__step"), lit(periodLength))
        .cast(IntegerType))

  /** Every row of `long` with its period's cluster (0 without a fit). */
  private def withClusters(long: DataFrame, assigned: Option[DataFrame])
      : DataFrame =
    assigned.fold(long.withColumn("__cluster", lit(0)))(a =>
      long.join(broadcast(a), Seq("__period")))

  def discretize(series: EnergySeries, noTypicalPeriods: Int,
      periodLength: Int = 24, seed: Long = 42L,
      method: ClusterMethod = ClusterMethod.KMeansMethod): EnergySeries = {
    require(series.indexCols.nonEmpty, "discretize requires a time index")
    val v = series.valueCol
    // cache the INPUT before the collect (or the step inference): it is
    // a full-scan job, and without the cache the series' upstream plan —
    // often an aggregation over a raw table — re-evaluates for the
    // write-back. One fill, two consumers; a caller's own cache is used
    // as it is, and ours belongs to the caller's Lineage scope.
    val base = series.copy(df = Lineage.keep(series.df))
    val slotCols = (0 until periodLength).map(s => s"s$s")
    val (step, assigned) = clusterPeriods(base, Seq(v), noTypicalPeriods,
        periodLength, seed, method) { stepCol =>
      (stamped(base.df, stepCol, periodLength).groupBy("__period")
        .pivot("__slot", 0 until periodLength)
        .agg(first(col(v)))
        .toDF("__period" +: slotCols: _*), slotCols)
    }
    val long = Lineage.keep(stamped(base.df, step, periodLength))

    // mean representation: slot-wise deterministic mean over the cluster's
    // member periods (DetAgg: exact decimal accumulation)
    val withCluster = withClusters(long, assigned)
    val profiles = withCluster.groupBy("__cluster", "__slot")
      .agg(graft.core.DetAgg.detAvg(col(v)).as("__profile"))

    val predicted = withCluster
      .join(broadcast(profiles), Seq("__cluster", "__slot"))
      .select(series.indexCols.map(col) :+ col("__profile").as(v): _*)

    series.copy(df = predicted)
  }

  /** Frame variant (`energypandas.py:1118-1147`): clusters periods JOINTLY
    * across all value columns (the tsam behavior — one cluster assignment
    * per period, features = concatenated per-column slot vectors), then
    * writes each column's cluster profile back. Long-format melt →
    * shared assignment → per-(cluster, slot, column) mean profiles →
    * re-widen. */
  def discretizeFrame(frame: graft.core.EnergyFrame, noTypicalPeriods: Int,
      periodLength: Int = 24, seed: Long = 42L,
      method: ClusterMethod = ClusterMethod.KMeansMethod)
      : graft.core.EnergyFrame = {
    val ts = frame.indexCols.head
    val cols = frame.valueCols
    require(cols.nonEmpty, "frame has no value columns")

    // cache the input frame before the collect (see discretize): the
    // melt below re-reads it once PER VALUE COLUMN, so without the cache
    // the upstream plan evaluates |cols|+1 times
    val fdf = Lineage.keep(frame.df)
    val es = EnergySeries(fdf, frame.indexCols, cols.head)
    val long = cols.map(c => fdf.select(col(ts), lit(c).as("__col"),
        col(c).cast("double").as("__v"))).reduce(_ unionByName _)
    val featKeys = for (c <- cols; s <- 0 until periodLength)
      yield s"${c}__$s"
    val (step, assigned) = clusterPeriods(es, cols, noTypicalPeriods,
        periodLength, seed, method) { stepCol =>
      (stamped(long, stepCol, periodLength)
        .withColumn("__sc", concat_ws("__", col("__col"), col("__slot")))
        .groupBy("__period").pivot("__sc", featKeys).agg(first(col("__v"))),
        featKeys)
    }
    val withCluster = withClusters(
      Lineage.keep(stamped(long, step, periodLength)), assigned)
    val profiles = withCluster.groupBy("__cluster", "__col", "__slot")
      .agg(graft.core.DetAgg.detAvg(col("__v")).as("__profile"))
    val predicted = withCluster
      .join(broadcast(profiles), Seq("__cluster", "__col", "__slot"))
    val wide = predicted.groupBy(col(ts))
      .pivot("__col", cols).agg(first(col("__profile")))
    frame.copy(df = wide)
  }
}
