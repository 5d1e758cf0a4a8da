package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, DriverPool, Graph, Lineage}
import graft.streaming.StreamLakeIngest

/** `Lineage` is the one owner of materialized intermediates: a frame
  * cut or kept inside a scope lives exactly as long as that scope, no
  * other scope's exit and no root release can free it, and a scope
  * that unwinds by exception frees its frames only after the driver-pool
  * jobs it started have finished. The streamed ingest, which now runs
  * each micro-batch in one scope, gives the same lake with adaptive
  * execution off as with it on. */
class LineageSpec extends SparkTestBase {
  import spark.implicits._

  /** Whether the storage behind `df` is still held: the checkpointed
    * RDD of a cut frame, the cache entry of a kept one. */
  private def held(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        spark.sparkContext.getPersistentRDDs.contains(lr.rdd.id)
      case _ => df.storageLevel != StorageLevel.NONE
    }

  private def frames(tag: Int): (DataFrame, DataFrame) = {
    val k = Lineage.keep(spark.range(0, 50 + tag).toDF("x"))
    assert(k.count() == 50 + tag)
    (k, Lineage.cut(spark.range(0, 20 + tag).toDF("y")))
  }

  test("closing one thread's scope leaves another thread's kept frame " +
      "cached and its cut frame readable") {
    val registered = new CountDownLatch(2)
    val closeA = new CountDownLatch(1)
    val aClosed = new CountDownLatch(1)
    @volatile var a: (DataFrame, DataFrame) = null
    @volatile var failure: Throwable = null
    @volatile var bHeldAfterA = false
    @volatile var bCount = -1L
    val ta = new Thread(() =>
      try {
        Lineage.scope {
          a = frames(1)
          registered.countDown()
          assert(closeA.await(60, TimeUnit.SECONDS))
        }
        aClosed.countDown()
      } catch { case t: Throwable => failure = t })
    val tb = new Thread(() =>
      try Lineage.scope {
        val b = frames(2)
        registered.countDown()
        assert(aClosed.await(60, TimeUnit.SECONDS))
        bHeldAfterA = held(b._1) && held(b._2)
        bCount = b._2.count()
      } catch { case t: Throwable => failure = t })
    ta.start(); tb.start()
    assert(registered.await(60, TimeUnit.SECONDS))
    closeA.countDown()
    ta.join(60000); tb.join(60000)
    assert(failure == null, String.valueOf(failure))
    assert(!held(a._1) && !held(a._2), "scope A's exit left its frames")
    assert(bHeldAfterA, "scope A's exit freed scope B's frames")
    assert(bCount == 22L)
  }

  test("neither root release frees a frame of a scope still open") {
    val rootK = Lineage.keep(spark.range(0, 7).toDF("r"))
    rootK.count()
    Lineage.scope {
      val (k, c) = frames(3)
      Dedup.releaseIntermediates()
      Graph.releaseIntermediates()
      assert(held(k) && held(c))
      assert(c.count() == 23L)
      assert(!held(rootK), "the root release skipped a root frame")
    }
  }

  test("a scope that exits by exception frees its frames only after " +
      "the driver-pool jobs it started have finished") {
    @volatile var kept: DataFrame = null
    @volatile var jobCut: DataFrame = null
    @volatile var heldInJob = false
    @volatile var jobDone = false
    val e = intercept[IllegalStateException](Lineage.scope {
      kept = frames(4)._1
      DriverPool.both(throw new IllegalStateException("stage failed"), {
        Thread.sleep(1000)
        heldInJob = held(kept)
        jobCut = Lineage.cut(kept.select((col("x") * 2).as("x2")))
        jobDone = true
      })
    })
    assert(e.getMessage == "stage failed")
    assert(jobDone, "the failure escaped before the sibling job finished")
    assert(heldInJob, "the scope freed a frame while a job still read it")
    // the job's cut registered with the caller's scope, which freed it
    assert(!held(kept) && !held(jobCut))
  }

  test("keep leaves a caller's own cache to the caller: a cached series " +
      "passed through discretize in a scope is still cached after it") {
    val es = graft.core.EnergySeries.rangeSeries(spark, 24 * 4 + 5)
    val cached = es.copy(df = es.df.cache())
    try {
      assert(cached.df.count() == 24 * 4 + 5)
      Lineage.scope {
        assert(graft.operators.Discretize.discretize(cached, 2).df.count() ==
          24 * 4 + 5)
      }
      assert(held(cached.df), "the scope dropped the caller's cache")
      // a frame kept twice is released once, by the scope that took it
      var kept: DataFrame = null
      Lineage.scope {
        kept = Lineage.keep(spark.range(0, 31).toDF("x"))
        Lineage.scope(Lineage.keep(spark.range(0, 31).toDF("x")).count())
        assert(held(kept))
      }
      assert(!held(kept))
    } finally cached.df.unpersist()
  }

  test("materialization has one owner: no persist, cache or checkpoint " +
      "outside Lineage, and no root release in graft.streaming") {
    val materialize =
      "\\.persist\\(|\\.cache\\(\\)|localCheckpoint\\(|\\.checkpoint\\(".r
    val release = "releaseIntermediates\\s*\\(\\s*\\)".r
    def offenders(pkg: String, pattern: scala.util.matching.Regex) = {
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"$dir not found")
      dir.listFiles().toSeq
        .filter(f => f.getName.endsWith(".scala") &&
          f.getName != "Lineage.scala")
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
          pattern.findAllMatchIn(src).map { m =>
            s"$pkg/${f.getName}:" +
              s"${src.substring(0, m.start).count(_ == '\n') + 1}"
          }
        }
    }
    val stray = Seq("operators", "streaming", "core", "plots", "sources")
      .flatMap(offenders(_, materialize))
    assert(stray.isEmpty,
      s"cut or keep through Lineage: ${stray.mkString(", ")}")
    val released = offenders("streaming", release)
    assert(released.isEmpty,
      s"run the batch in a Lineage.scope: ${released.mkString(", ")}")
  }

  // ---- the streamed ingest with adaptive execution off ---------------

  private val p = StreamLakeIngest.Params(windowLen = 20,
    minEstJaccard = 0.35, semThreshold = 0.7, nlist = 2, nassign = 2,
    minQuality = 0.0, maxTopBigramFrac = 1.0, lang = "en")

  /** Document `i`: twenty words, every fourth one "the" (so it reads as
    * English), the rest drawn by a hash of (i, position) from a
    * 100-word vocabulary — distinct documents share almost no word
    * 3-shingle. */
  private def doc(i: Int): String = {
    val syl = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu")
    (0 until 20).map { k =>
      val h = math.floorMod(
        scala.util.hashing.MurmurHash3.productHash((i, k)), 100)
      if (k % 4 == 0) "the" else syl(h / 10) + syl(h % 10)
    }.mkString(" ")
  }

  /** One-hot embedding: documents are semantic duplicates exactly when
    * their ids agree modulo 64. */
  private def vec(id: Long): Array[Float] =
    Array.tabulate(64)(j => if (j == id % 64) 1f else 0f)

  /** Two micro-batches through `ingestFull` on a fresh fixture lake;
    * returns the admitted rows and every lake increment the batches
    * wrote, each as sorted row strings. */
  private def ingestTwice(tag: String): Map[String, Seq[String]] = {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory(s"graft_lineage_$tag").toString
    val lake = s"$root/lake"
    val hist = (0 until 12).map(i =>
      IngestDoc(10L + i, doc(i), vec(10L + i))).toDF()
    val bench = Seq((1L, "THEBENCHMARKSECRETPASSAGEBODY IS HERE NOW"))
      .toDF("doc_id", "text")
    val sp = StreamLakeIngest.SelectParams(minMicro = Long.MinValue,
      tokenBudget = Long.MaxValue / 4)
    StreamLakeIngest.initLakeFull(hist, bench, "text", "doc_id", "vec",
      lit(true), lake, p, sp)
    val stream = MemoryStream[(Long, String, String, Array[Float])]
    val q = StreamLakeIngest.ingestFull(
      stream.toDF().toDF("doc_id", "source", "text", "vec"), lake,
      s"$root/admitted", s"$root/ckpt", "text", "doc_id", "vec", "source",
      p, sp)
    try {
      for (b <- 0 until 2) {
        // fresh docs, exact copies of history, of this batch and of
        // batch 0, and one-word edits of history (near-dups); batch 1's
        // ids 140..149 are semantic duplicates of history
        val base = 100 + 40 * b
        stream.addData((0 until 24).map { i =>
          val text = i % 6 match {
            case 0 => doc(i / 6)
            case 1 => doc(i / 6).split(" ").updated(9, "zebra")
              .mkString(" ")
            case 3 => doc(base + i - 1)
            case 5 => doc(100 + i)
            case _ => doc(base + i)
          }
          ((base + i).toLong, s"s${i % 2}", text, vec(base + i))
        }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def rows(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
    (for (b <- 0 until 2; d <- Seq(s"admitted/inc_b$b",
        s"lake/hashes/inc_b$b", s"lake/sigs/inc_b$b",
        s"lake/sem/keepers_b$b", s"lake/budget/used_b$b"))
      yield d -> rows(s"$root/$d")).toMap
  }

  test("ingestFull with adaptive execution off admits and writes what " +
      "it does with it on") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    val off =
      try {
        spark.conf.set(key, "false")
        ingestTwice("aqe_off")
      } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val on = ingestTwice("aqe_on")
    assert(on("admitted/inc_b0").nonEmpty && on("admitted/inc_b1").nonEmpty)
    assert(off == on)
  }
}
