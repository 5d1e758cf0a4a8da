package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N-x scale-up of the driver's synthetic corpus, for the
  * empirical scale probe (SCALE.md): every "scale-safe" claim in the
  * operator docs gets tested against a corpus 10x the largest driver SF
  * instead of being argued from the plan shape alone.
  *
  * Construction (pure column expressions, no RNG — same bytes every
  * run): each fact table is the union of R key-shifted replicas
  * (replica r shifts every entity key by r*10_000_000, far beyond any
  * source key). Content columns are salted PER REPLICA so cross-replica
  * rows are neither exact nor near duplicates:
  *
  *  - documents.text: replica r>0 prefixes every 4th token with a
  *    replica salt. A 3-shingle then survives unmutated only when it
  *    touches no salted position (1 in 4 start offsets), giving
  *    cross-replica Jaccard ~1/7 — below every dedup threshold in the
  *    probe set (0.35 LSH, 0.5 exact). Intra-replica duplicate
  *    structure is preserved, so the DUPLICATE RATE stays ~constant as
  *    the corpus grows — the realistic scaling regime.
  *  - part.p_name: replica suffix appended to the LAST token (no new
  *    space), because fuzzyNamePairs blocks on the last token — blocks
  *    replicate per-replica instead of merging into 10x cliques.
  *  - embeddings.embedding: +-10% multiplicative hash noise per
  *    (vec_id, dim, replica) — nearby vectors stay nearby, replicas
  *    don't collapse onto their originals.
  *
  * Dims (region, nation) are copied once — dims don't scale in a star
  * schema. Referential integrity holds within each replica because all
  * key spaces shift by the same offset.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> [replicas] [tables]
  * `tables` (comma-separated) restricts generation — the 100x probe
  * corpus only needs the tables its query families read.
  */
object ScaleGen {
  private val Offset = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = graft.Tables.load(spark, src, name)

    // union of R shifted replicas; perRep builds replica r from the base
    def scaled(base: DataFrame)(perRep: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until reps).map(r => perRep(base, r)).reduce(_.unionAll(_))

    def shift(cols: String*)(df: DataFrame, r: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * Offset)))

    // every 4th token prefixed with a replica salt (identity for r=0)
    def saltText(c: org.apache.spark.sql.Column, r: Int) =
      if (r == 0) c
      else array_join(transform(split(c, " "), (w, i) =>
        when(pmod(i, lit(4)) === 0, concat(lit(s"zq${r}q"), w))
          .otherwise(w)), " ")

    def write(name: String, df: => DataFrame, parts: Int): Unit =
      if (tables.forall(_.contains(name))) {
        graft.Tables.ntzOut(df).repartition(parts)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"SCALEGEN $name -> $out/$name.parquet")
      }

    write("region", t("region"), 1)
    write("nation", t("nation"), 1)
    write("customer", scaled(t("customer"))(shift("c_custkey")), 4)
    write("supplier", scaled(t("supplier"))(shift("s_suppkey")), 1)
    write("orders", scaled(t("orders"))(shift("o_orderkey", "o_custkey")), 8)
    write("lineitem", scaled(t("lineitem"))(
      shift("l_orderkey", "l_partkey", "l_suppkey")), 32)
    write("part", scaled(t("part")) { (df, r) =>
      val named = if (r == 0) df
        else df.withColumn("p_name", concat(col("p_name"), lit(s"r$r")))
      shift("p_partkey")(named, r)
    }, 4)
    write("events", scaled(t("events"))(shift("event_id", "user_id")), 8)
    write("documents", scaled(t("documents")) { (df, r) =>
      shift("doc_id")(df, r)
        .withColumn("text", saltText(col("text"), r))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, 16)
    write("embeddings", scaled(t("embeddings")) { (df, r) =>
      val emb =
        if (r == 0) df
        else df.withColumn("embedding", transform(col("embedding"),
          (x, i) => (x * (lit(1.0) +
            (pmod(xxhash64(col("vec_id"), i, lit(r)), lit(1000)).cast("double")
              / 1000.0 - 0.5) * 0.2)).cast("float")))
      shift("vec_id")(emb, r)
    }, 4)
    // adversarial id-layout variant: SAME vectors, ids renumbered so id
    // order tracks a dominant embedding direction (dim 0) — the
    // id-clustered corpus (crawl-time/shard-correlated ids) on which a
    // first-n-by-id codebook sample fits one corner of the distribution.
    // The RecallProbe run over this table is the evidence for the
    // seeded-hash codebookSample fix (SCALE.md round 10).
    write("embeddings_clustered", {
      graft.operators.Analytics.distributedRank(t("embeddings"),
          Seq(element_at(col("embedding"), 1).asc, col("vec_id").asc))
        .select((col("rank") - 1).as("vec_id"), col("embedding"),
          col("label"))
    }, 4)
    spark.stop()
  }
}
