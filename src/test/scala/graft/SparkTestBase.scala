package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (UTC, small shuffle fan-out). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // session shared across suites

  /** Spark jobs submitted from this thread while `body` runs. Jobs
    * are tagged with a thread-local property; a tagged sentinel job
    * run afterwards proves the listener has seen every earlier one. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"probe-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.probe")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag-end" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", tag)
      body
      sc.setLocalProperty("graft.probe", s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS))
      jobs.get()
    } finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
