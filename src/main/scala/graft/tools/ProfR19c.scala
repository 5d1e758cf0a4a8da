package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, Lineage}

/** Round-19 inner split of ngramJaccardPairsPrefix (the q194/q207/
  * q208/q221/q229 shared near-dup operator) at bench scale — which of
  * its stages owns the ~9 s warm wall. Mirrors the operator body. */
object ProfR19c {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
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
    spark.read.parquet(s"$sfDir/region.parquet").count()
    var last = System.nanoTime()
    def mark(name: String): Unit = {
      val now = System.nanoTime()
      println(f"PROF $name%-46s ${(now - last) / 1e9}%8.3f s")
      last = now
    }
    def t(table: String): DataFrame =
      graft.Tables.load(spark, sfDir, table)
    val minJaccard = 0.5
    val docFreqCap = 1000

    (1 to 2).foreach { rep =>
      println(s"== ppjoin inner (rep $rep)")
      val docs = t("documents").where(col("doc_id") >= 10)
      last = System.nanoTime()
      val shingled = Lineage.keep(docs.select(col("doc_id").as("id"),
        array_distinct(Dedup.wordShingles(col("text"), 3)).as("sh")))
      shingled.write.mode("overwrite").format("noop").save()
      mark("pp.1_shingled")
      val ex = shingled.where(size(col("sh")) > 0)
        .select(col("id"), size(col("sh")).as("n_sh"),
          explode(col("sh")).as("shingle"))
      val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= docFreqCap)
      val kept = ex.join(dfreq, "shingle")
      val perDoc = Lineage.keep(kept
        .groupBy("id", "n_sh")
        .agg(array_sort(collect_list(struct(col("df"), col("shingle"))))
          .as("ranked")))
      perDoc.write.mode("overwrite").format("noop").save()
      mark("pp.2_perDoc(dfreq+kept+rankagg)")
      val p = (size(col("ranked"))
        - ceil(lit(minJaccard) * col("n_sh") - lit(1e-9)) + lit(1))
        .cast("int")
      val prefixes = perDoc.select(col("id"), col("n_sh"),
        size(col("ranked")).as("ke"),
        posexplode(transform(slice(col("ranked"), lit(1),
          greatest(p, lit(0))), x => x("shingle")))
          .as(Seq("pos", "shingle")))
      println(s"  prefixes rows = ${prefixes.count()}")
      mark("pp.3_prefixes_count")
      val cand = prefixes.as("l").join(prefixes.as("r"),
          col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id")
            && col("l.n_sh") >= lit(minJaccard) * col("r.n_sh")
            && col("r.n_sh") >= lit(minJaccard) * col("l.n_sh"))
        .groupBy(col("l.id").as("a"), col("r.id").as("b"))
        .agg(max(least(col("l.ke") - col("l.pos"),
            col("r.ke") - col("r.pos"))).as("__ub"),
          max(col("l.n_sh")).as("na"), max(col("r.n_sh")).as("nb"))
        .where(col("__ub") >= ceil(lit(minJaccard / (1 + minJaccard)) *
          (col("na") + col("nb")) - lit(1e-9)))
      println(s"  cand rows = ${cand.count()}")
      mark("pp.4_cand_count(selfjoin+agg)")
      val arrays = perDoc.select(col("id"),
        transform(col("ranked"), x => x("shingle")).as("sharr"))
      val out = cand
        .join(arrays.select(col("id").as("a"), col("sharr").as("sa")),
          Seq("a"))
        .join(arrays.select(col("id").as("b"), col("sharr").as("sb")),
          Seq("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("sa"), col("sb"))).as("n_inter"),
          col("na"), col("nb"))
        .select(col("a"), col("b"),
          (col("n_inter") / (col("na") + col("nb") - col("n_inter")))
            .as("jaccard"))
        .where(col("jaccard") >= minJaccard)
      out.write.mode("overwrite").format("noop").save()
      mark("pp.5_verify_join_noop")
      // and the full operator end to end for reference
      Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
        .write.mode("overwrite").format("noop").save()
      mark("pp.6_full_operator_noop")
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
