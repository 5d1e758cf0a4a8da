package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.core.EnergySeries
import graft.plots.Render
import graft.sources.ReportData
import graft.units.MultipleUnitsError

/** The energy path runs each intermediate once: `ReportData.toFrame`
  * discovers units and pivot keys in one action, and `Render.plot2d`
  * runs two (the step inference and the matrix collect) — with the key
  * order, the units error and the PNG bytes of the multi-action
  * versions. */
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

  test("plot2d runs two actions and renders the same PNG bytes") {
    val es = EnergySeries.rangeSeries(spark, 24 * 5, units = Some("kWh"))
    var png: Array[Byte] = null
    assert(executionsDuring { png = Render.plot2d(es) } == 2)
    def md5(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    assert(md5(png) == Plot2dMd5, "plot2d bytes moved")
    assert(md5(Render.plot2d(es, axisOff = true)) == Plot2dAxisOffMd5)
    // a one-column frame draws the same single panel
    assert(md5(Render.plot2dFrame(es.toFrame)) == Plot2dMd5,
      "plot2dFrame bytes moved")
  }

  test("plot2dFrame runs two actions for three columns and renders the " +
      "same PNG bytes") {
    val f = EnergySeries.rangeSeries(spark, 24 * 5, units = Some("kWh"))
      .toFrame
    val ef = f.copy(df = f.df
      .withColumn("twice", col("value") * 2)
      .withColumn("tail", when(col("value") > 50, lit(200.0) - col("value"))))
    var png: Array[Byte] = null
    assert(executionsDuring { png = Render.plot2dFrame(ef) } == 2)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(png)
      .map("%02x".format(_)).mkString
    assert(md5 == Plot2dFrame3Md5, "plot2dFrame bytes moved")
  }

  // digest of the three-column render as produced by one step inference
  // and one pivot per column
  private val Plot2dFrame3Md5 = "e742ce06909dc394e439cb3f21658a87"

  // digests of the renders above as produced by the multi-action
  // version (a distributed sort plus a separate step inference)
  private val Plot2dMd5 = "2615edf7813783044e57797b65767f3a"
  private val Plot2dAxisOffMd5 = "f9ba379f55f418d9e856b2cb48cd5812"
}
