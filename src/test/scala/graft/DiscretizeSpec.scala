package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{EnergyFrame, EnergySeries}
import graft.operators.{ClusterMethod, Discretize, LocalKMeans, LocalWard}

/** `Discretize` fits from one driver-side unstack of the series and
  * writes back with the collect's origin and step. Its output equals the
  * pivot formulation kept below as the reference (a first-two-timestamps
  * inference, a distributed pivot, a collect of the pivot and a second
  * step inference for the write-back), compared with `exceptAll` both
  * ways: k = 1, 3 and 4, k-means and hierarchical, an incomplete
  * trailing period and null values, for a series and a frame. */
class DiscretizeSpec extends SparkTestBase {
  import spark.implicits._

  private object Reference {
    /** `df` plus `__step`, inferred from the first two timestamps of
      * `axis` (the input frame: `df` may be its melt). */
    private def withStep(df: DataFrame, ts: String,
        axis: DataFrame): DataFrame = {
      val first2 = axis.select(col(ts)).orderBy(col(ts).asc).limit(2)
        .collect().map(_.getTimestamp(0).getTime / 1000)
      df.withColumn("__step", ((unix_timestamp(col(ts)) - lit(first2(0))) /
        lit(first2(1) - first2(0))).cast(LongType))
    }

    private def collectMatrix(matrix: DataFrame, featCols: Seq[String])
        : (Array[Long], Array[Array[Double]]) = {
      val rows = matrix.orderBy("__period")
        .select(col("__period") +: featCols.map(c => col(c).cast(DoubleType)): _*)
        .collect()
      val dim = featCols.size
      val pts = rows.map(r => Array.tabulate(dim)(i =>
        if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1)))
      for (j <- 0 until dim) {
        var s = 0.0; var n = 0
        pts.foreach { p => if (!p(j).isNaN) { s += p(j); n += 1 } }
        val m = if (n > 0) s / n else 0.0
        pts.foreach { p => if (p(j).isNaN) p(j) = m }
      }
      (rows.map(_.getLong(0)), pts)
    }

    private def assign(matrix: DataFrame, featCols: Seq[String], k: Int,
        seed: Long, method: ClusterMethod): DataFrame = {
      val (periods, points) = collectMatrix(matrix, featCols)
      val a = method match {
        case ClusterMethod.Hierarchical => LocalWard.fit(points, k)
        case ClusterMethod.KMeansMethod => LocalKMeans.fit(points, k, seed)._1
      }
      periods.zip(a).toSeq.toDF("__period", "__cluster")
    }

    def discretize(series: EnergySeries, k: Int, periodLength: Int,
        seed: Long, method: ClusterMethod): DataFrame = {
      val v = series.valueCol
      val long = withStep(series.df, series.indexCols.head, series.df)
        .withColumn("__period", (col("__step") / periodLength).cast(LongType))
        .withColumn("__slot", pmod(col("__step"), lit(periodLength))
          .cast(IntegerType))
      val slotCols = (0 until periodLength).map(s => s"s$s")
      val matrix = long.groupBy("__period")
        .pivot("__slot", 0 until periodLength).agg(first(col(v)))
        .toDF("__period" +: slotCols: _*)
      val assigned =
        if (k <= 1) matrix.select(col("__period"), lit(0).as("__cluster"))
        else assign(matrix, slotCols, k, seed, method)
      val withCluster = long.join(broadcast(assigned), Seq("__period"))
      val profiles = withCluster.groupBy("__cluster", "__slot")
        .agg(graft.core.DetAgg.detAvg(col(v)).as("__profile"))
      withCluster.join(broadcast(profiles), Seq("__cluster", "__slot"))
        .select(series.indexCols.map(col) :+ col("__profile").as(v): _*)
    }

    def discretizeFrame(frame: EnergyFrame, k: Int, periodLength: Int,
        seed: Long, method: ClusterMethod): DataFrame = {
      val ts = frame.indexCols.head
      val cols = frame.valueCols
      val long = cols.map(c => frame.df.select(col(ts), lit(c).as("__col"),
        col(c).cast("double").as("__v"))).reduce(_ unionByName _)
      val stamped = withStep(long, ts, frame.df)
        .withColumn("__period", (col("__step") / periodLength).cast(LongType))
        .withColumn("__slot", pmod(col("__step"), lit(periodLength))
          .cast(IntegerType))
      val assigned =
        if (k <= 1)
          stamped.select(col("__period")).distinct()
            .withColumn("__cluster", lit(0))
        else {
          val featKeys = for (c <- cols; s <- 0 until periodLength)
            yield s"${c}__$s"
          val matrix = stamped.withColumn("__sc",
              concat_ws("__", col("__col"), col("__slot")))
            .groupBy("__period").pivot("__sc", featKeys).agg(first(col("__v")))
          assign(matrix, featKeys, k, seed, method)
        }
      val withCluster = stamped.join(broadcast(assigned), Seq("__period"))
      val profiles = withCluster.groupBy("__cluster", "__col", "__slot")
        .agg(graft.core.DetAgg.detAvg(col("__v")).as("__profile"))
      withCluster.join(broadcast(profiles), Seq("__cluster", "__col", "__slot"))
        .groupBy(col(ts)).pivot("__col", cols).agg(first(col("__profile")))
    }
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty, "rows only in the new output")
    assert(want.exceptAll(got).isEmpty, "rows only in the reference")
  }

  // 10 days and 7 hours of a noisy two-regime load: every 13th value is
  // null, and the last period covers 7 of its 24 slots
  private val n = 24 * 10 + 7
  private def load(i: Int, shift: Double): Option[Double] =
    if (i % 13 == 5) None
    else {
      val day = i / 24; val slot = i % 24
      val base = if (day % 3 == 0) 10.0 else 40.0
      Some(base + shift + slot * (1 + day % 2) + ((i * 7919) % 17) / 4.0)
    }
  private lazy val series = EnergySeries.withTimeIndex(spark,
    (0 until n).map(i => (i.toLong, load(i, 0.0))).toDF("id", "value"),
    "value")
  private lazy val frame = {
    val df = (0 until n).map(i => (i.toLong, load(i, 0.0),
        load(i + 3, 5.0), load(n - i, -2.0))).toDF("id", "a", "b", "c")
      .withColumn("ts", timestamp_seconds(lit(1514764800L) + col("id") * 3600))
      .select("ts", "a", "b", "c")
    EnergyFrame(df, Seq("ts"), Map.empty)
  }

  private val cases = Seq(
    (1, ClusterMethod.KMeansMethod), (3, ClusterMethod.KMeansMethod),
    (4, ClusterMethod.KMeansMethod), (3, ClusterMethod.Hierarchical))

  test("discretize equals the pivot formulation") {
    for ((k, method) <- cases) withClue(s"k=$k $method: ") {
      sameRows(Discretize.discretize(series, k, 24, 7L, method).df,
        Reference.discretize(series, k, 24, 7L, method))
    }
    // a period that does not divide the series, on a 2-hour step
    val twoHourly = EnergySeries.withTimeIndex(spark,
      (0 until 100).map(i => (i.toLong, load(i, 1.0))).toDF("id", "value"),
      "value", stepSeconds = 7200)
    sameRows(Discretize.discretize(twoHourly, 2, 12, 3L).df,
      Reference.discretize(twoHourly, 2, 12, 3L, ClusterMethod.KMeansMethod))
  }

  test("discretizeFrame equals the pivot formulation") {
    for ((k, method) <- cases) withClue(s"k=$k $method: ") {
      sameRows(Discretize.discretizeFrame(frame, k, 24, 7L, method).df,
        Reference.discretizeFrame(frame, k, 24, 7L, method))
    }
  }
}
