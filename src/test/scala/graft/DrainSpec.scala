package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.{Dedup, DriverPool}
import graft.streaming.StreamLakeIngest
import scala.jdk.CollectionConverters._

/** No writer outlives the call that started it: a caller interrupted
  * while blocked in [[DriverPool.both]] returns only after every job
  * it submitted has finished, and a five-stage ingest whose stage 3
  * throws lets the exception escape only after the fold-ins already
  * started have finished writing their batch directories. */
class DrainSpec extends SparkTestBase {
  import spark.implicits._

  test("DriverPool.both drains its jobs before an interrupt " +
      "propagates") {
    val running = new AtomicInteger(0)
    val started = new CountDownLatch(2)
    def job(): Unit = {
      running.incrementAndGet()
      started.countDown()
      try Thread.sleep(1000) finally running.decrementAndGet()
    }
    @volatile var thrown: Throwable = null
    @volatile var runningAtReturn = -1
    @volatile var interruptedAtReturn = false
    val caller = new Thread(() => {
      try DriverPool.both(job(), job())
      catch { case t: Throwable => thrown = t }
      runningAtReturn = running.get()
      interruptedAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException])
    assert(runningAtReturn == 0, "a submitted job outlived the call")
    // the interrupt was delivered as the exception, not left pending
    assert(!interruptedAtReturn)
  }

  test("DriverPool.drain waits through an interrupt and re-asserts it") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val started = new CountDownLatch(1)
    val done = new AtomicInteger(0)
    pool.submit(new Runnable {
      def run(): Unit = {
        started.countDown()
        Thread.sleep(500)
        done.incrementAndGet()
      }
    })
    assert(started.await(30, TimeUnit.SECONDS))
    Thread.currentThread().interrupt()
    DriverPool.drain(pool)
    val reasserted = Thread.interrupted() // also clears it for later tests
    assert(done.get() == 1 && pool.isTerminated)
    assert(reasserted, "the interrupt was swallowed")
  }

  test("fiveStages: a stage-3 failure escapes only after the started " +
      "fold-ins finished writing") {
    val root = Files.createTempDirectory("graft_drain").toString
    val lake = s"$root/lake"
    val p = StreamLakeIngest.Params(windowLen = 20, minEstJaccard = 0.35,
      semThreshold = 0.7, nlist = 2, nassign = 2, minQuality = 0.0,
      maxTopBigramFrac = 1.0, lang = "en")
    val text = "the quick brown fox jumps over the lazy dog and the " +
      "dog is of a sleepy kind so it naps under the old oak tree"
    val hist = Seq(IngestDoc(10L, text, Array(1f, 0f, 0f))).toDF()
    val bench = Seq((1L, "THEBENCHMARKSECRETPASSAGEBODY IS HERE NOW"))
      .toDF("doc_id", "text")
    StreamLakeIngest.initLake(hist, bench, "text", "doc_id", "vec",
      lake, p)
    // fault: the signature lake no longer holds a signature table, so
    // stage 3 refuses it — after stage 2 has started its hash fold-in
    Seq((1L, "x")).toDF("id", "junk").write.mode("overwrite")
      .parquet(s"$lake/sigs/base")
    val batch = (0 until 40).map(i => IngestDoc(100L + i,
      s"document number $i talks about topic ${i * 7} at some length " +
        s"and then about item ${i * 13} in the closing words",
      Array(0f, 0f, 1f))).toDF()
    val targets = Seq(s"$lake/hashes/inc_b0", s"$lake/sigs/inc_b0",
      s"$lake/sem/keepers_b0")
    def snapshot(): Seq[(String, Long)] = targets.flatMap { t =>
      val f = new java.io.File(t)
      if (!f.exists) Seq.empty
      else {
        val walk = Files.walk(f.toPath)
        try walk.iterator.asScala.map(_.toFile)
          .map(x => (x.toString, x.length)).toList
        finally walk.close()
      }
    }.sorted

    val e = intercept[IllegalArgumentException](
      StreamLakeIngest.curateIncrement(batch, lake, s"$root/admitted",
        "text", "doc_id", "vec", 0L, p))
    val atEscape = snapshot()
    assert(e.getMessage.contains("refSigs"), e.getMessage)
    // the hash fold-in had started; it has COMPLETED by now
    assert(new java.io.File(s"$lake/hashes/inc_b0/_SUCCESS").exists,
      s"hash fold-in still running when the failure escaped: $atEscape")
    assert(!atEscape.exists(_._1.contains("_temporary")))
    Thread.sleep(1500)
    assert(snapshot() == atEscape, "a fold-in kept writing")
    Dedup.releaseIntermediates()
  }
}
