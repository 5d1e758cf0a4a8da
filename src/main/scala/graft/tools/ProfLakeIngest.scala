package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import graft.streaming.StreamLakeIngest

/** Scale probe for the streaming lake-ingest loop (round-13): drive
  * [[StreamLakeIngest.curateIncrement]] at the 100× corpus and measure
  * what a 100 TB deployment cares about:
  *  - per-micro-batch wall stays O(batch) as the lake accumulates
  *    increments (the whole design: never O(history));
  *  - the directory-of-increments layout's creeping cost — per-column
  *    subdir count and the visible-state read fan-in — and how much
  *    [[StreamLakeIngest.compactIsolated]] claws back;
  *  - a post-compaction batch matches the pre-compaction cadence
  *    (compaction preserves the probe plan, not just the data).
  *
  * Usage: runMain graft.tools.ProfLakeIngest <dir> [nIncrements]
  * Output: LAKEINGEST <json> lines (one per micro-batch) plus a
  * LAKECOMPACT line.
  */
object ProfLakeIngest {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfx100")
    val nInc = args.lift(1).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    // the ingest chain needs (id, text, vec) rows: use the id range
    // both tables cover (ScaleGen's embeddings replicate fewer rows
    // than documents)
    val joined = docs.join(emb.withColumnRenamed("vec_id", "doc_id"),
      Seq("doc_id"))
    joined.persist(); println(s"JOINED ${joined.count()} rows")
    val root = java.nio.file.Files
      .createTempDirectory("graft_lakeingest_").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    def sec[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val slice = pmod(col("doc_id"), lit(2 * nInc))
    // ScaleGen has no benchmark table; 50 docs stand in as the
    // "benchmark" for the decon artifact
    val benchDf = docs.orderBy("doc_id").limit(50)
    val p = StreamLakeIngest.Params(minEstJaccard = 0.35, nlist = 16,
      nassign = 3)
    val (_, tInit) = sec {
      StreamLakeIngest.initLake(joined.where(slice < nInc), benchDf,
        "text", "doc_id", "embedding", lake, p)
    }
    println(f"""LAKEINGEST {"phase":"init","sec":$tInit%.1f}""")
    def nDirs(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$lake/$sub")
      graft.streaming.LakeDir.live(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).size
    }
    def runBatch(k: Int, tag: String): Unit = {
      val inc = joined.where(slice === (nInc + k))
      val n = inc.count()
      val (out, t) = sec {
        val adm = StreamLakeIngest.curateIncrement(inc, lake, admitted,
          "text", "doc_id", "embedding", k.toLong, p)
        val c = adm.count()
        graft.operators.Lineage.free(adm)
        Dedup.releaseIntermediates()
        c
      }
      println(f"""LAKEINGEST {"batch":$k,"rows":$n,""" +
        f""""admitted":$out,"sec":$t%.1f,"hash_dirs":${nDirs("hashes")},""" +
        f""""sig_dirs":${nDirs("sigs")}$tag}""")
    }
    // batches 0..nInc-3 accumulate increments, then compact, then the
    // next slice runs as a fresh batch against the compacted lake,
    // and the LAST slice runs through the SEVEN-stage chain so the
    // stage-6/7 delta (DSIR gate + budget ledger) is measurable
    // against the immediately-preceding five-stage batch of the same
    // slice size
    for (k <- 0 until nInc - 2) runBatch(k, "")
    val (_, tc) = sec { StreamLakeIngest.compactIsolated(spark, lake) }
    println(f"""LAKECOMPACT {"sec":$tc%.1f,""" +
      f""""hash_dirs":${nDirs("hashes")},"sig_dirs":${nDirs("sigs")}}""")
    runBatch(nInc - 2, ""","post_compact":true""")
    // stage-6/7 artifacts (the initLakeFull pieces the 5-stage init
    // skipped): the DSIR model over the history, the empty ledger
    val isTarget = col("lang") === "en"
    val sp = StreamLakeIngest.SelectParams(
      minMicro = Long.MinValue, tokenBudget = Long.MaxValue / 4)
    val (_, tFullInit) = sec {
      graft.operators.Curation.writeDsirModel(
        joined.where(slice < nInc), "text", isTarget, sp.dsirBuckets,
        sp.dsirSalt, s"$lake/dsir/model_init")
      StreamLakeIngest.writeEmptyLedger(spark,
        s"$lake/budget/used_init")
    }
    println(f"""LAKEFULLINIT {"sec":$tFullInit%.1f}""")
    val incF = joined.where(slice === (2 * nInc - 1))
    val nF = incF.count()
    val (admF, tF) = sec {
      val adm = StreamLakeIngest.curateIncrementFull(incF, lake,
        admitted, "text", "doc_id", "embedding", "source",
        (nInc - 1).toLong, p, sp)
      val c = adm.count()
      graft.operators.Lineage.free(adm)
      Dedup.releaseIntermediates()
      c
    }
    println(f"""LAKEFULL {"batch":${nInc - 1},"rows":$nF,""" +
      f""""admitted":$admF,"sec":$tF%.1f,"stages":7}""")
    spark.stop()
  }
}
