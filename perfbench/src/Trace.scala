package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-aligned milliseconds with nanosecond resolution, so op times,
  * span times and Spark listener timestamps share one axis. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** Everything one run records, written out once at the end.
  *
  * Ops are always recorded: they carry the end-to-end latencies. Spans
  * and the Spark listeners exist only when tracing: a span is opened by
  * the benchmark around each call into one of the program's modules and
  * the action that forces it (`<layer>.<Module>`), nested under the op
  * that made the call (`op.<name>`). Spark jobs are attributed to spans
  * afterwards, by time, which also catches jobs the program submits from
  * its own threads (streaming, driver pools). */
final class Recorder(val tracing: Boolean) {
  final case class Op(name: String, kind: String, round: Int,
      timed: Boolean, start: Double, end: Double, ok: Boolean, error: String)
  final case class Span(id: Int, parent: Int, name: String, start: Double,
      var end: Double)

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val rounds = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  var round = -1
  var timed = false
  /** Called after every op while tracing (e.g. a cache-size sample). */
  var afterOp: () => Unit = () => ()

  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
        Clock.nowMs, Double.NaN)
      spans += s
      stack = s.id :: stack
      try f
      finally { s.end = Clock.nowMs; stack = stack.tail }
    }

  /** One op: runs `body`, which forces its result and returns whether
    * the result matched the reference. An exception is a failed op. */
  def op(name: String, kind: String = "op")(body: => Boolean): Unit = {
    val t0 = Clock.nowMs
    val (ok, err) =
      try (span(s"op.$name")(body), "")
      catch {
        case scala.util.control.NonFatal(e) =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
    val t1 = Clock.nowMs
    if (!ok) System.err.println(s"perfbench: op $name failed in round " +
      s"$round ${if (err.nonEmpty) err else "(check mismatch)"}")
    ops += Op(name, kind, round, timed, t0, t1, ok, err)
    if (tracing) afterOp()
  }
}

/** The Spark-side counters of a traced run: jobs with their task
  * metrics, plan phase times, streaming progress, and stack samples of
  * the program's own driver threads (compaction, operator modules). */
final class SparkTrace(spark: SparkSession) {
  final class Job(val id: Int, val start: Double) {
    var end: Double = Double.NaN
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Job]
  private val plans = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  private val compacting = ArrayBuffer.empty[Double]
  private val operatorSamples = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var sampling = true

  /** Jobs a streaming query submits carry the query's call site, not the
    * program's, and the operators a query calls run on its own threads,
    * where the client's spans cannot see them. So the threads the
    * program runs driver work on (streaming query threads and its driver
    * pools) are sampled every [[SparkTrace.SampleMs]]: whether a query
    * thread is inside a `compact*` call of `graft.streaming`, and which
    * of [[SparkTrace.SampledOperators]] (innermost first) each thread is
    * inside. Only those threads' stacks are read, which keeps the
    * sampler's cost off the measured run. */
  private val sampler = new Thread("perfbench-thread-sampler") {
    setDaemon(true)
    override def run(): Unit = while (sampling) {
      var root = Thread.currentThread.getThreadGroup
      while (root.getParent != null) root = root.getParent
      val all = new Array[Thread](root.activeCount * 2 + 16)
      val n = root.enumerate(all, true)
      val now = Clock.nowMs
      var compact = false
      val inOps = ArrayBuffer.empty[String]
      all.take(n).foreach { t =>
        val query = t.getName.startsWith("stream execution thread")
        if (query || t.getName.startsWith("pool-")) {
          val st = t.getStackTrace
          if (query &&
              st.exists(f => f.getClassName.startsWith("graft.streaming.") &&
                f.getMethodName.startsWith("compact")))
            compact = true
          st.iterator.map(f => SparkTrace.operatorOf(f.getClassName))
            .collectFirst { case Some(m) => m }
            .foreach(inOps += _)
        }
      }
      SparkTrace.this.synchronized {
        if (compact) compacting += now
        inOps.foreach(m => operatorSamples += Map("at" -> now, "module" -> m))
      }
      Thread.sleep(SparkTrace.SampleMs)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new Job(e.jobId, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      plans += Map("at" -> at.toDouble, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress += Map("query" -> p.id.toString, "batch" -> p.batchId,
        "at" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "add_batch_ms" -> d("addBatch"), "wal_commit_ms" -> d("walCommit"))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    sampler.start()
  }

  /** Waits until every posted event has been delivered, then returns
    * the records. */
  def finish(): Map[String, Any] = {
    sampling = false
    sampler.join()
    org.apache.spark.BenchShim.drainListeners(spark.sparkContext)
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start" -> j.start,
          "end" -> j.end, "tasks" -> j.tasks, "run_ms" -> j.runMs,
          "cpu_ns" -> j.cpuNs, "shuffle_write" -> j.shuffleWrite,
          "spill" -> j.spill)).toSeq,
        "plans" -> plans.toSeq,
        "progress" -> progress.toSeq,
        "compacting" -> compacting.toSeq,
        "operator_samples" -> operatorSamples.toSeq,
        "sample_ms" -> SparkTrace.SampleMs)
    }
  }
}

object SparkTrace {
  val SampleMs = 20L
  /** The operator modules the trainer chain calls from the streaming
    * query threads. */
  val SampledOperators =
    Set("Dedup", "Similarity", "Curation", "Tokenizer", "Sampling")

  /** `operators.<Module>` when the class belongs to one of
    * [[SampledOperators]]. */
  def operatorOf(cls: String): Option[String] =
    if (!cls.startsWith("graft.operators.")) None
    else {
      val m = cls.drop("graft.operators.".length).takeWhile(_ != '$')
      if (SampledOperators(m)) Some(s"operators.$m") else None
    }
}
