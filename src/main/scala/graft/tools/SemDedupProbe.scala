package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Prints SemDeDup touched-doc recall vs the exact near-dup ground
  * truth at one SF dir — the number behind q178's gate threshold. */
object SemDedupProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
    val exactDocs = exact.select(col("a").as("vec"))
      .union(exact.select(col("b").as("vec"))).distinct().cache()
    val nExact = exactDocs.count()
    for (nassign <- Seq(1, 2, 3); nlist <- Seq(8, 16)) {
      val sd = Similarity.semDedup(emb, "vec_id", "embedding", 0.4,
        nlist = nlist, nassign = nassign)
      val touched = sd.select(col("id").as("vec"))
        .union(sd.select(col("keeper").as("vec"))).distinct()
      val hit = exactDocs.join(touched, Seq("vec")).count()
      val removed = sd.count()
      println(f"SEMDEDUP dir=$dir nlist=$nlist nassign=$nassign " +
        f"n_exact=$nExact touched_recall=${hit.toDouble / nExact}%.3f " +
        f"removed=$removed")
    }
    spark.stop()
  }
}
