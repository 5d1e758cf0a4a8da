package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curation, Dedup, Sampling, Similarity, TextOps}

/** Per-stage scale probe for the END-TO-END curation mega-pipeline
  * (round-9 verdict #5; stage-3 A/B added for the round-11 verdict #3):
  * the q194 composition with the PRODUCTION operators in the dedup
  * slots — near-dup pair generation + star CC, semDedup instead of
  * brute-force cosine — run stage by stage with wall/shuffle/spill
  * deltas per stage. Stage boundaries persist (as in q194), so each
  * delta measures that stage's own work.
  *
  * The near-dup stage (3) runs in one of two routings, A/B'd in one
  * JVM when both are requested:
  *  - `lsh`: minhashLsh banding at est-Jaccard ≥ 0.35 (sketch recall
  *    path — catches lower-similarity pairs probabilistically);
  *  - `ppjoin`: ngramJaccardPairsPrefix at exact Jaccard ≥ 0.5 (the
  *    routing that cut q87/q98's 100× shuffle 43/64 → 6.4/6.0 GB).
  * The two prune DIFFERENT pair sets (est-0.35 is deliberately looser
  * than exact-0.5), so survivor counts differ downstream; the A/B
  * reads stage 3's own wall/shuffle, not the tail's.
  *
  * Usage: runMain graft.tools.MegaPipelineProbe <dir> [modes]
  *   modes: comma list of lsh|ppjoin (default "lsh,ppjoin")
  * Output: one "MEGASTAGE <json>" line per stage + a MEGATOTAL line
  * per mode, each tagged with the mode.
  */
object MegaPipelineProbe {
  private class SpillListener extends SparkListener {
    val written = new AtomicLong(0)
    val spilled = new AtomicLong(0)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfx100")
    val modes = args.lift(1).getOrElse("lsh,ppjoin").split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)

    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    docs.count(); emb.count() // warm scans

    modes.foreach { mode =>
      val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val t00 = System.nanoTime()
      val modeW0 = listener.written.get
      val modeS0 = listener.spilled.get
      var lastW = modeW0
      var lastS = modeS0
      def stage(name: String)(body: => (DataFrame, Column)): DataFrame = {
        val t0 = System.nanoTime()
        val (df, metric) = body
        // Lineage.cut, not bare persist: stage plans nest all upstream
        // plans, and persist-time plan-string rendering walks the nested
        // tree — exponential by stage 6 (see q194's scaladoc)
        val out = graft.operators.Lineage.cut(df)
        cuts += out
        val row = out.agg(count(lit(1)), coalesce(sum(metric), lit(0L))).head()
        val sec = (System.nanoTime() - t0) / 1e9
        val w = listener.written.get; val s = listener.spilled.get
        println(f"""MEGASTAGE {"mode":"$mode","stage":"$name","sec":$sec%.1f,""" +
          s""""n":${row.getLong(0)},"metric":${row.get(1)},""" +
          f""""shuffle_mb":${(w - lastW) / 1e6}%.1f,""" +
          f""""spill_mb":${(s - lastS) / 1e6}%.1f}""")
        lastW = w; lastS = s
        out
      }

      val bench = docs.where(col("doc_id") < 10)
      val train = docs.where(col("doc_id") >= 10)
      val s1 = stage("1_decon") {
        val contaminated = Dedup.contaminatedDocs(train, bench, "text",
          "doc_id", windowLen = 50).select(col("id").as("doc_id"))
        (train.join(contaminated, Seq("doc_id"), "left_anti"),
          col("n_chars"))
      }
      val s2 = stage("2_exact") {
        val keep = Dedup.exact(s1, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        (s1.join(keep, Seq("doc_id"), "left_semi"), col("n_chars"))
      }
      val s3 = stage(if (mode == "ppjoin") "3_ppjoin_cc" else "3_minhash_cc") {
        val pairs =
          if (mode == "ppjoin")
            Dedup.ngramJaccardPairsPrefix(s2, "text", "doc_id",
              shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
          else
            Dedup.minhashLsh(s2, "text", "doc_id",
              shingleLen = 3, bands = 8, rowsPerBand = 2,
              minEstJaccard = 0.35)
        val comp = Dedup.duplicateComponentsStar(pairs, "a", "b")
          .withColumnRenamed("id", "doc_id")
        (s2.join(comp, Seq("doc_id"), "left")
          .where(col("component").isNull || col("component") === col("doc_id"))
          .drop("component"), col("n_chars"))
      }
      val s4 = stage("4_semdedup") {
        val embS = emb.join(s3.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        val nassign = 3
        val nlist = math.max(8, (nassign * emb.count() / 1000).toInt)
        val removed = Similarity.semDedup(embS, "vec_id", "embedding",
            threshold = 0.4, nlist = nlist, nassign = nassign,
            keeperCap = 250, sampleRows = math.max(4096, 8 * nlist))
          .select(col("id").as("doc_id")).distinct()
        (s3.join(removed, Seq("doc_id"), "left_anti"), col("n_chars"))
      }
      val s5 = stage("5_filters") {
        (s4.withColumn("__r", TextOps.repetitionScores(col("text")))
          .withColumn("quality", TextOps.qualityScore(col("text")))
          .where(col("quality") >= 0.5 &&
            col("__r.top_bigram_frac") <= 0.2 &&
            TextOps.langId(col("text")) === "en")
          .drop("__r", "quality"), col("n_chars"))
      }
      val kept6 = stage("6_scrub") {
        (Curation.spanScrub(s5, "text", "doc_id", n = 5, minDf = 2)
          .select(col("doc_id"),
            (col("n_tokens") - col("n_removed")).as("kt")), col("kt"))
      }
      val sel = stage("7_mix") {
        // production mixing keeps a corpus-proportional slice, not a
        // fixed count — one third here
        val total = math.max(1L, s5.count() / 3)
        val mix = Sampling.temperatureMix(s5.select(col("doc_id"),
          col("source")), "source", "doc_id", tau = 0.5, total = total)
        (mix.join(kept6, Seq("doc_id")), col("kt"))
      }
      stage("8_pack") {
        (Sampling.packByBudget(sel, "source", "doc_id", "kt",
            budget = 4000L)
          .groupBy(col("source"), col("bin"))
          .agg(sum(col("kt")).as("kt")), col("kt"))
      }
      println(f"""MEGATOTAL {"mode":"$mode","sec":${(System.nanoTime() - t00) / 1e9}%.1f,""" +
        f""""shuffle_mb":${(listener.written.get - modeW0) / 1e6}%.1f,""" +
        f""""spill_mb":${(listener.spilled.get - modeS0) / 1e6}%.1f}""")
      // free this mode's stage checkpoints + operator persists so the
      // next mode starts from a clean store
      cuts.foreach(graft.operators.Lineage.free)
      Dedup.releaseIntermediates()
      graft.operators.Graph.releaseIntermediates()
      spark.catalog.clearCache()
      System.gc()
    }
  }

}
