package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
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
  * rows — inherently reduced), fit in-process on the driver
  * ([[LocalKMeans]] / [[LocalWard]], one bounded collect, mirroring
  * tsam's in-process sklearn) with spark.ml as the distributed fallback
  * above [[MaxLocalRows]]; the write-back is two joins on (period) and
  * (cluster, slot) — both tiny dimension joins that Spark broadcasts.
  */
object Discretize {

  /** Above this many period rows the cluster fit falls back to spark.ml
    * KMeans (distributed). Below it — which is every realistic input,
    * since the matrix shrinks by periodLength and a century of hourly
    * data is ~36 500 rows — the already-aggregated matrix is collected
    * and fit with [[LocalKMeans]] on the driver: one bounded collect
    * (100k × periodLength doubles), zero scheduler round-trips, exactly
    * how tsam runs sklearn in-process on the same matrix. */
  val MaxLocalRows = 100000

  /** Collect the (sorted) period feature matrix if it is small enough,
    * padding missing slots (incomplete trailing period) with the slot
    * mean ON THE DRIVER — one collect serves padding AND the fit, so the
    * whole clustering step costs a single Spark job. None → caller takes
    * the distributed fallback. */
  private def collectMatrix(matrix: DataFrame, featCols: Seq[String])
      : Option[(Array[Long], Array[Array[Double]])] = {
    val rows = matrix.orderBy("__period")
      .select(col("__period") +: featCols.map(c => col(c).cast(DoubleType)): _*)
      .limit(MaxLocalRows + 1).collect()
    if (rows.length > MaxLocalRows) None
    else {
      val dim = featCols.size
      val pts = rows.map(r => Array.tabulate(dim)(i =>
        if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1)))
      var j = 0
      while (j < dim) { // slot mean over present values, sequential = det.
        var s = 0.0; var n = 0
        pts.foreach { p => if (!p(j).isNaN) { s += p(j); n += 1 } }
        val m = if (n > 0) s / n else 0.0
        pts.foreach { p => if (p(j).isNaN) p(j) = m }
        j += 1
      }
      Some((rows.map(_.getLong(0)), pts))
    }
  }

  /** Fit cluster assignments for the (possibly unpadded) period matrix:
    * driver-side (LocalKMeans / LocalWard) when bounded, spark.ml KMeans
    * above [[MaxLocalRows]]. Returns (__period, __cluster). */
  private def assignClusters(matrix: DataFrame, featCols: Seq[String], k: Int,
      seed: Long, method: ClusterMethod): DataFrame = {
    val spark = matrix.sparkSession
    collectMatrix(matrix, featCols) match {
      case Some((periods, points)) =>
        val assign = method match {
          case ClusterMethod.Hierarchical => LocalWard.fit(points, k)
          case ClusterMethod.KMeansMethod => LocalKMeans.fit(points, k, seed)._1
        }
        import spark.implicits._
        periods.zip(assign).toSeq.toDF("__period", "__cluster")
      case None =>
        require(method == ClusterMethod.KMeansMethod,
          s"hierarchical clustering needs the period matrix on the driver " +
            s"(<= $MaxLocalRows periods); use k-means above that")
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
        model.transform(features).select(col("__period"), col("__cluster"))
    }
  }

  def discretize(series: EnergySeries, noTypicalPeriods: Int,
      periodLength: Int = 24, seed: Long = 42L,
      method: ClusterMethod = ClusterMethod.KMeansMethod): EnergySeries = {
    require(series.indexCols.nonEmpty, "discretize requires a time index")
    val v = series.valueCol
    // cache the INPUT before the step-inference collect: that sort+limit
    // is a full-scan job (a global min-2 reads every partition), and
    // without the cache the series' upstream plan — often an
    // aggregation over a raw table — re-evaluates for the period pivot.
    // One fill, two consumers; both caches belong to the caller's
    // Lineage scope.
    val base = series.copy(df = Lineage.keep(series.df))
    val long = Lineage.keep(base.withStepColumn
      .withColumn("__period", (col("__step") / periodLength).cast(LongType))
      .withColumn("__slot", pmod(col("__step"), lit(periodLength)).cast(IntegerType)))

    val slotCols = (0 until periodLength).map(s => s"s$s")
    val matrix = long.groupBy("__period")
      .pivot("__slot", 0 until periodLength)
      .agg(first(col(v)))
      .toDF("__period" +: slotCols: _*)

    val assigned: DataFrame =
      if (noTypicalPeriods <= 1) {
        matrix.select(col("__period"), lit(0).as("__cluster"))
      } else {
        assignClusters(matrix, slotCols, noTypicalPeriods, seed, method)
      }

    // mean representation: slot-wise deterministic mean over the cluster's
    // member periods (DetAgg: exact decimal accumulation)
    val withCluster = long.join(broadcast(assigned), Seq("__period"))
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
    * writes each column's cluster profile back. Long-format melt → one
    * pivot for the feature matrix → shared assignment → per-(cluster,
    * slot, column) mean profiles → re-widen. */
  def discretizeFrame(frame: graft.core.EnergyFrame, noTypicalPeriods: Int,
      periodLength: Int = 24, seed: Long = 42L,
      method: ClusterMethod = ClusterMethod.KMeansMethod)
      : graft.core.EnergyFrame = {
    val ts = frame.indexCols.head
    val cols = frame.valueCols
    require(cols.nonEmpty, "frame has no value columns")

    // cache the input frame before the step-inference collect (see
    // discretize): the melt below re-reads it once PER VALUE COLUMN,
    // so without the cache the upstream plan evaluates |cols|+1 times
    val fdf = Lineage.keep(frame.df)
    val long = cols.map(c => fdf.select(col(ts), lit(c).as("__col"),
        col(c).cast("double").as("__v"))).reduce(_ unionByName _)
    val firstTs = fdf.select(col(ts)).orderBy(col(ts).asc).limit(2)
      .collect().map(_.getTimestamp(0).getTime / 1000)
    require(firstTs.length >= 2, "need at least 2 rows")
    val stepSeconds = firstTs(1) - firstTs(0)
    val stamped = Lineage.keep(long.withColumn("__step",
        ((unix_timestamp(col(ts)) - lit(firstTs(0))) / lit(stepSeconds))
          .cast(LongType))
      .withColumn("__period", (col("__step") / periodLength).cast(LongType))
      .withColumn("__slot", pmod(col("__step"), lit(periodLength))
        .cast(IntegerType)))

    val assigned: DataFrame =
      if (noTypicalPeriods <= 1)
        stamped.select(col("__period")).distinct()
          .withColumn("__cluster", lit(0))
      else {
        val featKeys = for (c <- cols; s <- 0 until periodLength)
          yield s"${c}__$s"
        val keyed = stamped.withColumn("__sc",
          concat_ws("__", col("__col"), col("__slot")))
        val matrix = keyed.groupBy("__period")
          .pivot("__sc", featKeys).agg(first(col("__v")))
        assignClusters(matrix, featKeys, noTypicalPeriods, seed, method)
      }

    val withCluster = stamped.join(broadcast(assigned), Seq("__period"))
    val profiles = withCluster.groupBy("__cluster", "__col", "__slot")
      .agg(graft.core.DetAgg.detAvg(col("__v")).as("__profile"))
    val predicted = withCluster
      .join(broadcast(profiles), Seq("__cluster", "__col", "__slot"))
    val wide = predicted.groupBy(col(ts))
      .pivot("__col", cols).agg(first(col("__profile")))
    frame.copy(df = wide)
  }
}
