package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Diagnostic: prints the actual recall of each approximate operator
  * against its exact ground truth at a given sf dir, so the thresholds in
  * SparkEntry's recall gates are set with measured margin, not guessed.
  *
  * Usage: sbt "runMain graft.tools.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def recall(name: String, exact: DataFrame, approx: DataFrame,
        keys: Seq[String]): Unit = {
      val e = exact.select(keys.map(col): _*).distinct().cache()
      val a = approx.select(keys.map(col): _*).distinct()
      val nExact = e.count()
      val nHit = e.join(a, keys, "left_semi").count()
      val r = if (nExact == 0) Double.NaN else nHit.toDouble / nExact
      println(f"$name%-22s n_exact=$nExact%5d n_hit=$nHit%5d recall=$r%.3f")
      e.unpersist()
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
    }

    // optional second arg: embeddings table name (e.g.
    // "embeddings_clustered", the ScaleGen adversarial-id-layout
    // variant) + optional third arg "embonly" to skip the document
    // probes when the dir holds only embeddings
    val embTable = args.lift(1).getOrElse("embeddings")
    val embOnly = args.lift(2).contains("embonly") ||
      embTable != "embeddings"
    val emb = Tables.load(spark, sfDir, embTable)
    val q = emb.where(col("vec_id") < 10)
    lazy val docs = Tables.load(spark, sfDir, "documents")

    if (!embOnly) {
    recall("q25_minhash",
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5, 1000),
      Dedup.minhashLsh(docs, "text", "doc_id", 3, 8, 2, 0.35),
      Seq("a", "b"))
    for (bands <- Seq(4, 8); mh <- Seq(8, 10, 12))
      recall(s"q26_simhash_b${bands}_h$mh",
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.8, 1000),
        Dedup.simhashPairs(docs, "text", "doc_id",
          shingleLen = 3, bands = bands, maxHamming = mh),
        Seq("a", "b"))
    }
    for (tables <- Seq(8, 12); mp <- Seq(false, true))
      recall(s"q30_lsh_topk_t${tables}_mp$mp",
        Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5),
        Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 5,
          numPlanes = 4, numTables = tables, dim = 64, multiProbe = mp),
        Seq("query_id", "neighbor_id"))
    for (nprobe <- Seq(6, 8); nassign <- Seq(1, 2))
      recall(s"q33_ivf_topk_np${nprobe}_na$nassign",
        Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5),
        Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5, 16, nprobe,
          nassign = nassign),
        Seq("query_id", "neighbor_id"))
    val nemb = emb.select(col("vec_id"),
      Similarity.l2Normalize(col("embedding")).as("embedding"))
    val nq = nemb.where(col("vec_id") < 10)
    for (m <- Seq(8, 16); sl <- Seq(0, 25, 50))
      recall(s"q141_pq_topk_m${m}_sl$sl",
        Similarity.cosineTopK(nemb, nq, "vec_id", "embedding", 5),
        Similarity.pqTopK(nemb, nq, "vec_id", "embedding", 5,
          m = m, nbits = 4, shortlist = sl),
        Seq("query_id", "neighbor_id"))
    for (mp <- Seq(false, true))
      recall(s"q51_lsh_neardup_mp$mp",
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3),
        Similarity.lshNearDupPairs(emb, "vec_id", "embedding", threshold = 0.3,
          numPlanes = 4, numTables = 8, multiProbe = mp),
        Seq("a", "b"))
    // q188 touched-doc recall: exact >=0.4-neighbor docs the streaming
    // semantic gate's batch twin removes or records as keeper
    val exact188 = Similarity.cosineNearDupPairs(emb, "vec_id",
      "embedding", 0.4)
    val sd188 = graft.streaming.StreamSemDedup.batch(emb, "vec_id",
      "embedding", threshold = 0.4, nlist = 8, nassign = 3)
    recall("q188_stream_semdedup",
      exact188.select(col("a").as("vec"))
        .union(exact188.select(col("b").as("vec"))),
      sd188.select(col("vec_id").as("vec"))
        .union(sd188.select(col("keeper").as("vec"))),
      Seq("vec"))
    // q191: new docs with an exact >=0.4 cross-side neighbor that the
    // incremental semantic dedup removes
    val exactCross = exact188
      .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
    recall("q191_cross_semdedup",
      exactCross.select(
        when(pmod(col("a"), lit(2)) === 1, col("a")).otherwise(col("b"))
          .as("vec")),
      Similarity.semDedupCross(
        emb.where(pmod(col("vec_id"), lit(2)) === 1),
        emb.where(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", threshold = 0.4, nlist = 8, nassign = 3)
        .select(col("id").as("vec")),
      Seq("vec"))
    spark.stop()
  }
}
