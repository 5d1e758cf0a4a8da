package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.core.EnergySeries
import graft.operators.{Analytics, Discretize}
import graft.plots.Render
import graft.sources.ReportData
import graft.units.MultipleUnitsError

/** The energy path runs each intermediate once: `ReportData.toFrame`
  * discovers units and pivot keys in one action, `Render.plot2d` runs
  * one (the collect its matrix is unstacked from) — with the key order,
  * the units error and the PNG bytes of the multi-action versions — and
  * a small `ldc` ranks through a single-partition window, with the rows
  * of the RDD rank. */
class EnergyPassSpec extends SparkTestBase {
  import spark.implicits._

  /** Root SQL executions started from this thread while `body` runs.
    * They are tagged with a thread-local job tag; a sentinel execution
    * under a second tag proves the listener has seen every earlier
    * one. */
  private def executionsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"energypass-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          if (s.jobTags.contains(tag)) n.incrementAndGet()
          else if (s.jobTags.contains(s"$tag-end")) sentinel.countDown()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag-end")
      try spark.range(1).collect() finally sc.removeJobTag(s"$tag-end")
      assert(sentinel.await(60, TimeUnit.SECONDS))
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  private val keyNames = Seq("b", "Zone 2", "a", "été", "Zone 10",
    "𝔘", "�", "Ä")

  private def tidy(units: Int => String) =
    (for (t <- 0 until 6; (k, i) <- keyNames.zipWithIndex) yield
      (t.toLong, 1, 1, t + 1, 0, 60, t * 10.0 + i, units(i), "m", k))
      .toDF("TimeIndex", "Month", "Day", "Hour", "Minute", "Interval",
        "Value", "Units", "Name", "KeyValue")

  test("toFrame discovers units and keys in one action, keys in " +
      "Spark's orderBy order") {
    val df = tidy(_ => "J")
    var frame: core.EnergyFrame = null
    assert(executionsDuring {
      frame = ReportData.toFrame(df)
    } == 1)
    val want = df.select("KeyValue").distinct().orderBy("KeyValue")
      .collect().map(_.getString(0)).toSeq
    assert(frame.valueCols == want)
    assert(frame.df.columns.toSeq == "ts" +: want)
    assert(frame.unitsMap.values.map(_.raw).toSet == Set("J"))
    assert(executionsDuring {
      ReportData.toFrame(df, units = Some("J"), keyValues = Seq("a"))
    } == 0)
    assert(executionsDuring {
      ReportData.toFrame(df, keyValues = Seq("a", "b"))
    } == 1)
  }

  test("toFrame raises MultipleUnitsError before anything else") {
    val mixed = tidy(i => if (i % 2 == 0) "J" else "W")
    val e = intercept[MultipleUnitsError](ReportData.toFrame(mixed))
    assert(e.getMessage.startsWith("The DataFrame contains mixed units: "))
    assert(e.getMessage.stripPrefix("The DataFrame contains mixed units: ")
      .split(", ").toSet == Set("J", "W"))
    intercept[MultipleUnitsError](
      ReportData.toFrame(mixed, keyValues = Seq("a")))
    // the override skips the guard
    assert(ReportData.toFrame(mixed, units = Some("J")).df.count() == 6)
  }

  test("plot2d runs one action and renders the same PNG bytes") {
    val es = EnergySeries.rangeSeries(spark, 24 * 5, units = Some("kWh"))
    var png: Array[Byte] = null
    assert(executionsDuring { png = Render.plot2d(es) } == 1)
    def md5(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    assert(md5(png) == Plot2dMd5, "plot2d bytes moved")
    assert(md5(Render.plot2d(es, axisOff = true)) == Plot2dAxisOffMd5)
    // a one-column frame draws the same single panel
    assert(md5(Render.plot2dFrame(es.toFrame)) == Plot2dMd5,
      "plot2dFrame bytes moved")
  }

  test("plot2dFrame runs one action for three columns and renders the " +
      "same PNG bytes") {
    val f = EnergySeries.rangeSeries(spark, 24 * 5, units = Some("kWh"))
      .toFrame
    val ef = f.copy(df = f.df
      .withColumn("twice", col("value") * 2)
      .withColumn("tail", when(col("value") > 50, lit(200.0) - col("value"))))
    var png: Array[Byte] = null
    assert(executionsDuring { png = Render.plot2dFrame(ef) } == 1)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(png)
      .map("%02x".format(_)).mkString
    assert(md5 == Plot2dFrame3Md5, "plot2dFrame bytes moved")
  }

  /** A series whose values repeat (every value occurs 3 to 4 times), so
    * the rank's order leans on the index tie-break. */
  private def tiedSeries: EnergySeries = EnergySeries.withTimeIndex(spark,
    (0 until 100).map(i => (i.toLong, ((i * 37) % 29).toDouble))
      .toDF("id", "value"), "value")

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case w: Window => w }
      .isDefined

  private def ldcRows(es: EnergySeries): Seq[(Long, Double)] =
    es.ldc.df.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq

  test("a small ldc ranks through a single-partition window: no RDD and " +
      "no range exchange, even under a sort on the rank") {
    val ranked = tiedSeries.ldc.df.orderBy("idx")
    assert(hasWindow(ranked))
    assert(ranked.queryExecution.optimizedPlan
      .collectFirst { case r: LogicalRDD => r }.isEmpty)
    ranked.collect()
    val physical = ranked.queryExecution.executedPlan.toString.toLowerCase
    assert(!physical.contains("rangepartitioning"), physical)
    assert(physical.contains("singlepartition"), physical)
  }

  test("ldc over an RDD or above the broadcast threshold takes the RDD " +
      "rank, with the window's rows, ties included") {
    val small = tiedSeries
    val want = ldcRows(small)
    assert(want.map(_._1) == (0L until 100L))
    // the rank's order: value descending, then the index ascending
    val byHand = small.df.collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sortBy { case (t, v) => (-v, t.getTime) }.map(_._2).toSeq
    assert(want.map(_._2) == byHand)
    assert(ldcRows(small.copy(df = small.df.orderBy("value"))) == want)
    assert(small.ldcWindowed.df.orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)

    val overRdd = small.copy(df = spark.createDataFrame(small.df.rdd,
      small.df.schema))
    assert(!hasWindow(overRdd.ldc.df))
    assert(ldcRows(overRdd) == want)

    // the primitive itself: 1-based, in the caller's total order
    val order = Seq(col("value").asc, col("ts").desc)
    val byWindow = Analytics.distributedRank(small.df, order).collect().toSeq
    assert(byWindow.map(_.getLong(0)) == (1L to 100L))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      assert(!hasWindow(small.ldc.df))
      assert(ldcRows(small) == want)
      val byRdd = Analytics.distributedRank(small.df, order)
      assert(!hasWindow(byRdd))
      assert(byRdd.collect().toSeq == byWindow)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a null timestamp raises IllegalArgumentException naming the " +
      "column, not a NullPointerException") {
    val df = Seq((Some(0L), 1.0), (None, 2.0), (Some(7200L), 3.0),
        (Some(3600L), 4.0))
      .toDF("sec", "value")
      .select(timestamp_seconds(col("sec")).as("when"), col("value"))
    val es = EnergySeries(df, Seq("when"), "value")
    def named(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("'when'"), e.getMessage)
    }
    named(es.inferStepSeconds)
    named(es.toPeriodMatrix(2))
    named(Render.plot2d(es, periodLength = 2))
    named(Discretize.discretize(es, 1, periodLength = 2))
    named(Discretize.discretize(es, 2, periodLength = 2))
    named(Discretize.discretizeFrame(es.toFrame, 2, periodLength = 2))
    // without the null row the same series has a step
    assert(es.copy(df = df.where(col("when").isNotNull)).inferStepSeconds ==
      3600L)
  }

  test("the RDD rank (zipWithIndex) lives only in Analytics.distributedRank " +
      "under graft.core and graft.operators") {
    val rddRank = "zipWithIndex\\s*\\(\\s*\\)|\\.rdd\\s*\\.\\s*zipWithIndex".r
    val hits = Seq("core", "operators").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"$dir not found")
      dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        rddRank.findAllMatchIn(src).map { m =>
          val before = src.substring(0, m.start)
          val owner = "def (\\w+)".r.findAllMatchIn(before).toSeq.lastOption
            .map(_.group(1)).getOrElse("")
          s"${f.getName}:${before.count(_ == '\n') + 1}:$owner"
        }
      }
    }
    assert(hits.size == 1 && hits.head.startsWith("Analytics.scala:") &&
      hits.head.endsWith(":distributedRank"),
      s"rank through Analytics.distributedRank: ${hits.mkString(", ")}")
  }

  // digest of the three-column render as produced by one step inference
  // and one pivot per column
  private val Plot2dFrame3Md5 = "e742ce06909dc394e439cb3f21658a87"

  // digests of the renders above as produced by the multi-action
  // version (a distributed sort plus a separate step inference)
  private val Plot2dMd5 = "2615edf7813783044e57797b65767f3a"
  private val Plot2dAxisOffMd5 = "f9ba379f55f418d9e856b2cb48cd5812"
}
