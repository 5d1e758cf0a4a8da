package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Lineage, Similarity}

/** Scale probe for the distributed per-query MMR (round 15): the
  * thousand-probe audit shape end to end — 1000 query vectors retrieve
  * their cosine top-100 over the 10x embeddings corpus, then every
  * query's list diversifies through `mmrRerankPerQuery` in ONE
  * query-keyed pass. Records the retrieve wall vs the diversify wall
  * (the greedy must be a small constant on top of the retriever).
  *
  * Usage: runMain graft.tools.ProfMmrPerQuery [scaledDir]
  * (generate first: ScaleGen /root/testdata/sf0.1 /tmp/sfx1 10 embeddings)
  */
object ProfMmrPerQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfx1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val queries = emb.where(col("vec_id") < 1000)
    println(s"PROF corpus=$n queries=1000")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.1fs")
      r
    }
    // retrieve: per-query cosine top-100, materialized (tracked) so
    // the diversify wall below measures ONLY the MMR pass
    val cand = timed("retrieve_top100") {
      val c = Lineage.keep(
        Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
            k = 100)
          .select(col("query_id"), col("neighbor_id").as("vec_id"),
            col("cos_sim"))
          .join(emb.select(col("vec_id"), col("embedding")),
            Seq("vec_id")))
      println(s"PROF candidates=${c.count()}")
      c
    }
    (1 to 2).foreach { i =>
      timed(s"mmr_perquery_$i") {
        Similarity.mmrRerankPerQuery(cand, Seq("query_id"), "vec_id",
            "embedding", "cos_sim", k = 10, lambda = 0.7)
          .write.mode("overwrite").format("noop").save()
      }
    }
    Dedup.releaseIntermediates()
    spark.stop()
  }
}
