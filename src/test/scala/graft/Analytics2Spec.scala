package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.DetAgg
import graft.operators.{Analytics, Curation, Similarity}

/** Round-6 analytics: snapshot diff, budgeted selection, hard
  * negatives, column profiling, classical decomposition. */
class Analytics2Spec extends SparkTestBase {
  import spark.implicits._

  test("snapshotDiff classifies added/removed/changed, drops unchanged") {
    val old = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val neu = Seq((2L, 20.0), (3L, 31.0), (4L, 40.0)).toDF("k", "v")
    val d = Analytics.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .orderBy("k").collect()
    assert(d.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
    val changed = d(1)
    assert(changed.getDouble(2) == 30.0 && changed.getDouble(3) == 31.0)
  }

  test("snapshotDiff null-safe value compare") {
    val old = Seq((1L, Some(1.0)), (2L, None)).toDF("k", "v")
    val neu = Seq((1L, None), (2L, None): (Long, Option[Double]))
      .toDF("k", "v")
    val d = Analytics.snapshotDiff(old, neu, Seq("k"), Seq("v")).collect()
    // 1: value->null is a change; 2: null==null is unchanged
    assert(d.map(_.getLong(0)).toSeq == Seq(1L))
    assert(d.head.getString(1) == "changed")
  }

  test("budgetedSelect keeps top rows within the share, never empties") {
    val docs = Seq(
      ("a", 1L, 60L), ("a", 2L, 30L), ("a", 3L, 10L),
      ("b", 4L, 5L) // singleton group: kept via the rank-1 guard
    ).toDF("source", "doc_id", "n_chars")
    val r = Curation.budgetedSelect(docs, "source", "doc_id",
      "n_chars", "n_chars", share = 0.5).orderBy("doc_id").collect()
    // a: total 100, budget 50 -> 60 exceeds but rank 1 keeps it; 30
    // would push cum to 90 -> out; b: 5 <= 2.5 fails but rank 1 keeps
    assert(r.map(_.getLong(1)).toSeq == Seq(1L, 4L))
  }

  test("budgetedSelect fills up to the boundary inclusively") {
    val docs = Seq(("a", 1L, 50L), ("a", 2L, 50L), ("a", 3L, 1L))
      .toDF("source", "doc_id", "n_chars")
    val r = Curation.budgetedSelect(docs, "source", "doc_id",
      "n_chars", "n_chars", share = 0.5).collect()
    // total 101, budget 50.5: first 50 fits, second hits 100 > 50.5
    assert(r.map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("hardNegatives excludes same-label neighbors") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.01f), 0),  // same label: excluded
      (2L, Seq(1.0f, 0.1f), 1),   // closest different-label
      (3L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(emb, emb.where(col("vec_id") === 0),
      "vec_id", "embedding", "label", k = 2).orderBy("rank").collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(2L, 3L))
  }

  test("profileColumns: one row per column with exact stats") {
    val df = Seq((1.0, Some(2.0)), (1.0, None), (3.0, Some(4.0)))
      .toDF("x", "y")
    val p = Analytics.profileColumns(df, Seq("x", "y"))
      .orderBy("col_name").collect()
    val x = p(0); val y = p(1)
    assert(x.getString(0) == "x" && x.getLong(1) == 3 &&
      x.getLong(2) == 0 && x.getLong(3) == 2 &&
      x.getDouble(4) == 1.0 && x.getDouble(5) == 3.0)
    assert(y.getString(0) == "y" && y.getLong(2) == 1 &&
      y.getLong(3) == 2 && y.getDouble(5) == 4.0)
  }

  test("classicalDecompose: v = trend + seasonal + resid on full windows") {
    // 3 days of hourly data: base 100 + hour-of-day wave + tiny noise
    val rows = for (d <- 0 until 3; h <- 0 until 24) yield
      ("a", Timestamp.valueOf(f"2024-01-0${d + 1} $h%02d:00:00"),
        100.0 + (h % 12) + d * 0.1)
    val df = rows.toDF("k", "hr", "v")
    val r = Analytics.classicalDecompose(df, "hr", "v", Seq("k"), 24)
    val full = r.where(col("trend").isNotNull).collect()
    assert(full.nonEmpty)
    // additive identity holds exactly at the quantization grid
    full.foreach { row =>
      val v = row.getDouble(2); val t = row.getDouble(3)
      val s = row.getDouble(4); val e = row.getDouble(5)
      assert(math.abs(v - t - s - e) < 1e-9,
        s"decomposition must reassemble: $v vs ${t + s + e}")
    }
    // edge rows (first/last half-day) have no full window
    val edges = r.where(col("trend").isNull).count()
    assert(edges == 23) // 12 leading + 11 trailing
  }

  test("classicalDecompose seasonal sums to ~0 over one period") {
    val rows = for (d <- 0 until 4; h <- 0 until 24) yield
      ("a", Timestamp.valueOf(f"2024-01-0${d + 1} $h%02d:00:00"),
        50.0 + (if (h < 12) 5.0 else -5.0))
    val df = rows.toDF("k", "hr", "v")
    val season = Analytics.classicalDecompose(df, "hr", "v", Seq("k"), 24)
      .where(col("seasonal").isNotNull)
      .select(col("hr"), col("seasonal")).collect()
      .groupBy(_.getTimestamp(0).toLocalDateTime.getHour)
      .map(_._2.head.getDouble(1))
    assert(math.abs(season.sum) < 1e-4)
  }

  /** The self-join formulation of `classicalDecompose` (a sliding
    * window sum, a (key, slot) aggregate, a key aggregate, and joins
    * back), kept as the reference the single-pass version must equal.
    * Its frame is the centered [t-half, t+period-half-1], which is the
    * old [t-half, t+half-1] for every even period. */
  private def decomposeRef(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], period: Int): DataFrame = {
    val k = keys.map(col)
    val half = period / 2
    val wTrend = Window.partitionBy(k: _*).orderBy(col(tsCol))
      .rowsBetween(-half, period - half - 1)
    def r6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val withTrend = df
      .withColumn("__cnt", count(col(valueCol)).over(wTrend))
      .withColumn("__trend",
        when(col("__cnt") === period,
          r6(sum(col(valueCol).cast(DetAgg.Dec)).over(wTrend)
            .cast("double") / period)))
      .withColumn("__slot", hour(col(tsCol)) % period)
    val detr = r6(col(valueCol) - col("__trend"))
    val slotMeans = withTrend.where(col("__trend").isNotNull)
      .groupBy((k :+ col("__slot")): _*)
      .agg(r6(DetAgg.detAvg(detr)).as("__smean"))
    val slotAdj = slotMeans.groupBy(k: _*)
      .agg(r6(DetAgg.detSum(col("__smean")) / count(lit(1))).as("__sbar"))
    val seasonalTbl = slotMeans.join(slotAdj, keys)
      .withColumn("__seasonal", r6(col("__smean") - col("__sbar")))
      .select(k ++ Seq(col("__slot"), col("__seasonal")): _*)
    withTrend.join(broadcast(seasonalTbl), keys :+ "__slot", "left")
      .withColumn("seasonal",
        when(col("__trend").isNotNull, col("__seasonal")))
      .withColumn("resid", when(col("__trend").isNotNull,
        r6(col(valueCol) - col("__trend") - col("seasonal"))))
      .select(k ++ Seq(col(tsCol), col(valueCol),
        col("__trend").as("trend"), col("seasonal"), col("resid")): _*)
  }

  /** Hourly rows from 2018-01-01 for `nKeys` keys; `value(key, hour)`
    * gives the value (None = null). */
  private def hourly(nKeys: Int, hours: Int)(
      value: (Int, Int) => Option[Double]): DataFrame = {
    val t0 = Timestamp.valueOf("2018-01-01 00:00:00").getTime
    (for (z <- 0 until nKeys; h <- 0 until hours) yield
      (s"ZONE $z", new Timestamp(t0 + h * 3600000L), value(z, h)))
      .toDF("zone", "ts", "value")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "decomposition differs from the self-join reference")
  }

  test("classicalDecompose equals the self-join reference") {
    val temps = hourly(4, 24 * 9) { (z, h) =>
      Some(273.15 + 20 + 5 * math.sin(2 * math.Pi * (h % 24) / 24) +
        z * 0.37 + ((h * 7919 + z * 104729) % 1000) / 997.0) }
    val gappy = hourly(3, 24 * 6) { (z, h) =>
      if ((h * 31 + z * 17) % 20 == 3) None
      else Some(100.0 + (h % 24) * 1.5 - z + (h % 7) * 0.013) }
    val short = hourly(2, 10)((z, h) => Some(h + z * 0.5))
    // a null every 5 hours leaves no full 24-hour window
    val noTrend = hourly(2, 24 * 4) { (z, h) =>
      if (h % 5 == 0) None else Some(h * 0.25 + z) }
    // large magnitudes with 6-decimal fractions: the running prefix
    // differences must stay exact far past a double's 2^53 grid
    val big = hourly(2, 24 * 5) { (z, h) =>
      Some(3.6e12 + h * 1234567.891011 + z * 0.000001) }
    val cases = Seq(temps -> Seq(24, 2, 8), gappy -> Seq(24, 3, 6),
      short -> Seq(24, 2), noTrend -> Seq(24), big -> Seq(24, 12))
    for ((df, periods) <- cases; p <- periods) {
      assertSameRows(
        Analytics.classicalDecompose(df, "ts", "value", Seq("zone"), p),
        decomposeRef(df, "ts", "value", Seq("zone"), p))
    }
    // no key columns: one series
    val one = temps.where(col("zone") === "ZONE 1").drop("zone")
    assertSameRows(Analytics.classicalDecompose(one, "ts", "value", Nil),
      decomposeRef(one, "ts", "value", Nil, 24))
    // all-null trends really are all null
    assert(Analytics.classicalDecompose(noTrend, "ts", "value",
      Seq("zone")).where(col("trend").isNotNull).isEmpty)
  }

  test("classicalDecompose: an odd period gets a full centered trend " +
      "(driver-side reference); a period not dividing 24 raises") {
    val period = 3
    val hours = 24 * 3
    val vals = (0 until hours).map(h => 10.0 + (h % 3) * 2.0 + h * 0.01)
    val df = hourly(1, hours)((_, h) => Some(vals(h)))
    val got = Analytics.classicalDecompose(df, "ts", "value", Seq("zone"),
      period).orderBy("ts").collect()
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // centered window [t-1, t+1]: edges are the first and last hour
    val trend = (0 until hours).map(t =>
      if (t < 1 || t + 1 >= hours) None
      else Some(q6(vals.slice(t - 1, t + 2)
        .map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / period)))
    val slot = (0 until hours).map(_ % period) // hour(ts) % 3
    val smean = (0 until period).map { s =>
      val d = (0 until hours).filter(t => slot(t) == s && trend(t).nonEmpty)
        .map(t => BigDecimal(q6(vals(t) - trend(t).get)))
      q6(d.sum.toDouble / d.length)
    }
    val sbar = q6(smean.map(BigDecimal(_)).sum.toDouble / period)
    assert(got.count(!_.isNullAt(3)) == hours - 2)
    got.zipWithIndex.foreach { case (r, t) =>
      assert(Option(r.get(3)).map(_.asInstanceOf[Double]) == trend(t),
        s"trend at hour $t")
      val seasonal = trend(t).map(_ => q6(smean(slot(t)) - sbar))
      assert(Option(r.get(4)).map(_.asInstanceOf[Double]) == seasonal,
        s"seasonal at hour $t")
      val resid = trend(t).map(tr => q6(vals(t) - tr - seasonal.get))
      assert(Option(r.get(5)).map(_.asInstanceOf[Double]) == resid,
        s"resid at hour $t")
    }
    val e = intercept[IllegalArgumentException] {
      Analytics.classicalDecompose(df, "ts", "value", Seq("zone"), 5)
    }
    assert(e.getMessage.contains("hour of day"))
  }

  test("classicalDecompose plans one shuffle and no join over a scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_decomp")
      .resolve("series").toString
    hourly(3, 24 * 4)((z, h) => Some(h * 0.5 + z)).repartition(3)
      .write.parquet(dir)
    val out = Analytics.classicalDecompose(spark.read.parquet(dir), "ts",
      "value", Seq("zone"))
    assert(out.collect().length == 3 * 24 * 4)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(out.queryExecution.executedPlan)
    val finalPlan = out.queryExecution.executedPlan.toString
    assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, finalPlan)
    assert(!all.exists(_.isInstanceOf[BaseJoinExec]), finalPlan)
  }
}
