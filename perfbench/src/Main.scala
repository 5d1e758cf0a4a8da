package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload hands the runner. One round is a fixed list of ops
  * over fixed-size inputs; the seed changes the content, never the
  * amount of work. */
trait Workload {
  /** Input rows one round processes (tidy rows or documents). */
  def rowsPerRound: Long
  /** Input bytes one round processes. */
  def inputBytesPerRound: Long
  /** The timed window holds at most this many rounds. */
  def maxRounds: Int
  def prepare(): Unit
  def round(): Unit
  /** The lake directories (the `lake` layer); empty when there is none. */
  def lakeRoots: Seq[String]
  /** End-of-run checks over everything the run wrote. */
  def finish(): Boolean = true
  /** Work counts the run reports (e.g. planted vs. removed documents). */
  def counters: Map[String, Long] = Map.empty
  /** Direct kernel timings (`functions` layer), traced runs only. */
  def kernels(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long,
    dir: String)

/** Runs one workload with one seed: set-up, warm-up, a timed window of
  * whole rounds, end-of-run checks, then writes the raw record (ops,
  * rounds, counters, and when tracing spans and Spark events) as JSON
  * for `perfbench/run.py` to reduce to metrics. */
object Main {
  val Cores = 3
  /** Untimed rounds after `prepare`: they carry code generation and most
    * of the JIT work. */
  val WarmRounds = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val dir = new File(opt("dir")).getAbsolutePath
    val rawPath = opt("raw")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.streaming.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$dir/checkpoints")

    val rec = new Recorder(tracing)
    val sparkTrace = if (tracing) Some(new SparkTrace(spark)) else None
    sparkTrace.foreach(_.start())
    val ctx = Ctx(spark, rec, seed, dir)
    val w: Workload = workload match {
      case "energy_report" => new EnergyReport(ctx)
      case "trainer_arc" => new TrainerArc(ctx)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    var cachedPeak = 0L
    if (tracing) rec.afterOp = () => {
      val b = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      cachedPeak = math.max(cachedPeak, b)
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val marks =
      scala.collection.mutable.LinkedHashMap("spark_ready" -> Clock.nowMs)
    w.prepare()
    marks("prepared") = Clock.nowMs
    for (i <- 0 until WarmRounds) {
      rec.round += 1; w.round(); marks(s"warm_$i") = Clock.nowMs
    }

    // the timed window: whole rounds until `seconds` have passed (at
    // least one)
    var lakeSnap = Host.tree(w.lakeRoots)
    val lakeRounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val calibBefore = Host.calibrate()
    val h0 = Host.sample()
    val t0 = Clock.nowMs
    rec.timed = true
    var n = 0
    while (Clock.nowMs - t0 < seconds * 1000 && n < w.maxRounds) {
      rec.round += 1
      val r0 = Clock.nowMs
      w.round()
      rec.rounds += Map("round" -> rec.round, "start" -> r0,
        "end" -> Clock.nowMs, "rows" -> w.rowsPerRound)
      if (tracing && w.lakeRoots.nonEmpty) {
        val now = Host.tree(w.lakeRoots)
        lakeRounds += Host.written(lakeSnap, now)
        lakeSnap = now
      }
      n += 1
    }
    val t1 = Clock.nowMs
    val h1 = Host.sample()
    rec.timed = false

    val calibMs = calibBefore ++ Host.calibrate()
    val finishOk = w.finish()
    val kernels = if (tracing) w.kernels() else Map.empty[String, Double]
    // the least heap in use over three full collections, spaced so that
    // Spark's asynchronous cleaner can release what the run dropped
    val heapUsed = (0 until 3).map { _ =>
      Thread.sleep(250)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    val lakeEnd = Host.tree(w.lakeRoots)
    val out = Map(
      "workload" -> workload, "seed" -> seed, "tracing" -> tracing,
      "jvm_start" -> jvmStartMs, "setup_marks" -> marks,
      "window_start" -> t0, "window_end" -> t1,
      "rows_per_round" -> w.rowsPerRound,
      "input_bytes_per_round" -> w.inputBytesPerRound,
      "finish_ok" -> finishOk,
      "ops" -> rec.ops.toSeq, "rounds" -> rec.rounds.toSeq,
      "cpu_ns" -> (h1.cpuNs - h0.cpuNs), "wchar" -> (h1.wchar - h0.wchar),
      "gc_ms" -> (h1.gcMs - h0.gcMs),
      "steal_share" -> Host.stealShare(h0, h1), "loadavg" -> h1.loadavg,
      "calib_ms" -> calibMs,
      "heap_used" -> heapUsed,
      "lake_bytes_live" -> lakeEnd.values.map(_._1).sum,
      "lake_files_live" -> lakeEnd.size,
      "lake_rounds" -> lakeRounds.map { case (b, f) =>
        Map("bytes" -> b, "files" -> f) }.toSeq,
      "cached_peak" -> cachedPeak,
      "kernels" -> kernels, "counters" -> w.counters,
      "spans" -> rec.spans.toSeq,
      "spark" -> sparkTrace.map(_.finish()).getOrElse(Map.empty))
    Files.write(Paths.get(rawPath), new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsBytes(out))
    w.close()
    spark.stop()
  }
}

/** Host and process counters read around the timed window. */
object Host {
  final case class Sample(cpuNs: Long, wchar: Long, gcMs: Long,
      stat: Array[Long], loadavg: Double)

  def sample(): Sample = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans
    var gcMs = 0L
    gc.forEach(b => gcMs += math.max(0L, b.getCollectionTime))
    val wchar = read("/proc/self/io").linesIterator
      .collectFirst { case l if l.startsWith("wchar:") =>
        l.drop(6).trim.toLong }.getOrElse(0L)
    // cpu  user nice system idle iowait irq softirq steal
    val stat = read("/proc/stat").linesIterator.next().split("\\s+")
      .drop(1).take(8).map(_.toLong)
    val load = read("/proc/loadavg").split("\\s+").head.toDouble
    Sample(os.getProcessCpuTime, wchar, gcMs, stat, load)
  }

  /** The host's speed as this run saw it: the milliseconds of each of
    * seven passes of one fixed single-threaded integer loop that touches
    * no program code. Taken right before and right after the timed
    * window, while the program is idle. */
  def calibrate(): Seq[Double] = {
    var sink = 0L
    val times = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink += x
      (System.nanoTime() - t0) / 1e6
    }
    require(sink != 0L)
    times
  }

  def stealShare(a: Sample, b: Sample): Double = {
    val d = b.stat.zip(a.stat).map { case (x, y) => x - y }
    val total = d.sum
    if (total <= 0) 0.0 else d(7).toDouble / total
  }

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  /** path -> (size, mtime) of every regular file under the roots. */
  def tree(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.flatMap { r =>
      val p = Paths.get(r)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try {
          val b = Seq.newBuilder[(String, (Long, Long))]
          s.filter(Files.isRegularFile(_)).forEach { f =>
            b += f.toString -> (Files.size(f),
              Files.getLastModifiedTime(f).toMillis)
          }
          b.result()
        } finally s.close()
      }
    }.toMap

  /** (bytes, files) present in `after` that are new or rewritten since
    * `before`. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
    (fresh.values.map(_._1).sum, fresh.size.toLong)
  }
}
