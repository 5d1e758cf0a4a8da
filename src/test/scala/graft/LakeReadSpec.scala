package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.LakeRead

/** [[LakeRead.parquet]] is `spark.read.parquet` minus the
  * schema-inference job: for every shape of lake read the engine makes
  * (flat artifact, multi-increment union, `shard=N` partitioned
  * increment, `base_v<k>` pointer generation) the frame equals the
  * plain read in column names, order, types and rows; errors and
  * metadata-free files fall back to the plain read; and building the
  * plan runs no Spark job where the plain read runs one. */
class LakeReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lakeread_$tag").toString

  private def assertSameRead(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*)
    val got = LakeRead.parquet(spark, paths: _*)
    assert(got.schema == want.schema)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  /** Spark jobs submitted from this thread while `body` runs. Jobs
    * are tagged with a thread-local property; a tagged sentinel job
    * run afterwards proves the listener has seen every earlier one. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"lakeread-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
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
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  test("flat artifact: same columns, types and rows as the plain read") {
    val d = s"${tmp("flat")}/vocab"
    Seq((1L, "a", true, Seq(1L, 2L), 0.5), (2L, "b", false, Seq(), 1.5))
      .toDF("token_id", "token", "is_base", "ids", "w")
      .withColumn("span", struct(col("token_id").as("start"),
        col("w").as("weight")))
      .repartition(2).write.parquet(d)
    assertSameRead(d)
  }

  test("multi-path read (the visible-increments shape)") {
    val root = tmp("multi")
    Seq((1L, "x")).toDF("id", "h").write.parquet(s"$root/base")
    Seq((2L, "y"), (3L, "z")).toDF("id", "h")
      .write.parquet(s"$root/inc_b0")
    // an empty increment still writes a schema-only file
    Seq.empty[(Long, String)].toDF("id", "h")
      .write.parquet(s"$root/inc_b1")
    assertSameRead(s"$root/base", s"$root/inc_b0", s"$root/inc_b1")
    assertSameRead(s"$root/inc_b1", s"$root/base")
  }

  test("shard=N partitioned increment keeps the discovered partition " +
      "column, in place and type") {
    val d = s"${tmp("part")}/layout/inc_b0"
    Seq((1L, 3L, 0, 0L), (2L, 4L, 0, 3L), (3L, 5L, 1, 0L))
      .toDF("doc_id", "n_tokens", "shard", "offset")
      .write.partitionBy("shard").parquet(d)
    assertSameRead(d)
    assert(LakeRead.parquet(spark, d).columns.last == "shard")
  }

  test("pointer-generation base_v<k> directory of a compacted layout") {
    val root = tmp("basev")
    val docs = (0L until 30L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    (0L until 3L).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(col("doc_id") >= b * 10 && col("doc_id") < (b + 1) * 10),
        root, "doc_id", "n_tokens", shardWeight = 16L, batchId = b)
    }
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    val base = new java.io.File(s"$root/layout").listFiles()
      .map(_.getName).filter(_.startsWith("base_v"))
    assert(base.nonEmpty, "compaction left no base_v<k> generation")
    assertSameRead(s"$root/layout/${base.max}")
    assertSameRead(s"$root/manifest/${base.max}")
    graft.operators.Dedup.releaseIntermediates()
  }

  test("a _SUCCESS-only or missing directory raises what the plain " +
      "read raises") {
    val root = tmp("empty")
    val d = new java.io.File(s"$root/inc_b0")
    d.mkdirs()
    new java.io.File(d, "_SUCCESS").createNewFile()
    for (p <- Seq(d.toString, s"$root/nope")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](LakeRead.parquet(spark, p))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
    assert(LakeRead.ifData(spark, d.toString).isEmpty)
  }

  test("a parquet file without Spark row metadata falls back to the " +
      "plain read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = s"${tmp("foreign")}/t"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary s (STRING); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i => w.write(f.newGroup().append("id", i)
      .append("s", s"v$i")))
    finally w.close()
    assertSameRead(d)
    // the fallback IS the plain read, inference job included
    assert(jobsDuring(LakeRead.parquet(spark, d)) == 1)
  }

  test("building the plan runs no Spark job; the plain read runs one") {
    val root = tmp("jobs")
    Seq((1L, "x"), (2L, "y")).toDF("id", "h").write.parquet(s"$root/flat")
    Seq((1L, 0), (2L, 1)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(s"$root/part")
    for (p <- Seq(s"$root/flat", s"$root/part")) {
      assert(jobsDuring(
        LakeRead.parquet(spark, p).queryExecution.executedPlan) == 0)
      assert(jobsDuring(spark.read.parquet(p)) == 1)
    }
  }

  test("every lake read in graft.operators and graft.streaming goes " +
      "through LakeRead") {
    val stray = "read\\s*\\.\\s*parquet\\s*\\(".r
    val offenders = Seq("operators", "streaming").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"$dir not found")
      dir.listFiles().toSeq
        .filter(f => f.getName.endsWith(".scala") &&
          f.getName != "LakeRead.scala")
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
          stray.findAllMatchIn(src).map { m =>
            s"${f.getName}:${src.substring(0, m.start).count(_ == '\n') + 1}"
          }
        }
    }
    assert(offenders.isEmpty,
      s"read lake artifacts with LakeRead.parquet: ${offenders.mkString(", ")}")
  }
}
