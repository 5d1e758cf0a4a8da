package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skewed-corpus probe for the join-heavy dedup paths: builds a
  * Zipf-style hot-key variant of the 10x document corpus — one hot
  * template passage planted into ~5% of documents (every 20th id), so
  * a single near-dup clique of thousands of docs hammers the shingle /
  * window inverted indexes — then measures whether the skew guards
  * (`docFreqCap`, `blockCap`, PPJoin prefixes, span-dup df cap) really
  * bound the work: per-query wall time, candidate-row count, and the
  * task-time skew (max / median task duration within the heaviest
  * stage, the straggler signal a 1000-executor cluster feels).
  *
  * Non-hot text is per-replica salted exactly like ScaleGen, so the
  * hot clique is the ONLY cross-replica duplicate structure and the
  * measured candidates are attributable to it.
  *
  * Usage: runMain graft.tools.SkewProbe [srcDir] [outDir] [replicas]
  * Output: one "SKEWPROBE <json>" line per query.
  */
object SkewProbe {

  private class StageTimes extends SparkListener {
    val byStage = new ConcurrentHashMap[Int, java.util.List[Long]]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null) {
        byStage.computeIfAbsent(te.stageId,
          _ => java.util.Collections.synchronizedList(
            new java.util.ArrayList[Long]())).add(te.taskInfo.duration)
      }
    def reset(): Unit = byStage.clear()
    /** (maxMs, medianMs, nTasks) of the stage with the largest total
      * task time — the stage a straggler would stretch. */
    def heaviest(): (Long, Long, Int) = {
      import scala.jdk.CollectionConverters._
      val stages = byStage.asScala.values.map(_.asScala.toSeq.sorted)
      if (stages.isEmpty) (0L, 0L, 0)
      else {
        val heavy = stages.maxBy(_.sum)
        (heavy.max, heavy(heavy.size / 2), heavy.size)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfskew")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docsPath = s"$out/documents.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
      val docs = graft.Tables.load(spark, src, "documents")
      // ~500-char hot passage: >50-char windows and many 3-shingles, so
      // every dedup family (minhash, ngram, ppjoin, shared-substring,
      // span-dup) sees the same hot clique
      val hot = (1 to 10).map(i =>
        s"hot template passage sentence $i shared across the skew " +
          "clique with stable wording and enough length to matter")
        .mkString(" ")
      def saltText(c: org.apache.spark.sql.Column, r: Int) =
        if (r == 0) c
        else array_join(transform(split(c, " "), (w, i) =>
          when(pmod(i, lit(4)) === 0, concat(lit(s"zq${r}q"), w))
            .otherwise(w)), " ")
      val scaled = (0 until reps).map { r =>
        docs.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
          .withColumn("text",
            when(pmod(col("doc_id"), lit(20)) === 0,
              // tiny unique tail so hot docs are near- not exact-dups
              concat(lit(hot), lit(" tail"), col("doc_id")))
              .otherwise(saltText(col("text"), r)))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_.unionAll(_))
      graft.Tables.ntzOut(scaled).repartition(16)
        .write.mode("overwrite").parquet(docsPath)
      println(s"SKEWGEN documents -> $docsPath")
    }

    val listener = new StageTimes
    spark.sparkContext.addSparkListener(listener)
    val names = Seq("q25_dedup_minhash", "q27_dedup_ngram",
      "q78_shared_substring", "q99_jaccard_prefix", "q152_span_dup",
      "q189_span_scrub")
    names.foreach { n =>
      listener.reset()
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(n)(spark, out).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus before reading stage times
      var last = -1L; var cur = 0L
      do {
        Thread.sleep(200); last = cur
        val (mx, md, nt) = listener.heaviest(); cur = mx + md + nt
      } while (cur != last)
      val (maxMs, medMs, nTasks) = listener.heaviest()
      val skew = if (medMs == 0) 0.0 else maxMs.toDouble / medMs
      println(f"""SKEWPROBE {"query":"$n","sec":$sec%.2f,"rows":$rows,""" +
        f""""heavy_stage_tasks":$nTasks,"task_max_ms":$maxMs,""" +
        f""""task_median_ms":$medMs,"task_skew":$skew%.1f}""")
      graft.operators.Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
