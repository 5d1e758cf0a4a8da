package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Lineage, Sampling, Similarity}

/** Round-19 optimization probe: per-step wall seconds of the bench's
  * most expensive queries (q194 stage-3 split, q264, q270, q208), each
  * step an EAGER boundary, so the sum approximates the query total and
  * the slices name where it goes. Steps mirror the query bodies
  * byte-for-byte (same params, same artifact roots suffixed `_prof`),
  * so a slice's wall is the query's slice wall.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfR19 [sfDir] [which...]"
  */
object ProfR19 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which =
      if (args.length > 1) args.drop(1).toSet
      else Set("q194", "q264", "q270", "q208")
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
    // warm
    spark.read.parquet(s"$sfDir/region.parquet").count()

    var last = System.nanoTime()
    def mark(name: String): Unit = {
      val now = System.nanoTime()
      println(f"PROF $name%-42s ${(now - last) / 1e9}%8.3f s")
      last = now
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val root0 = "/tmp/graft_prof_r19"
    def t(table: String): DataFrame =
      graft.Tables.load(spark, sfDir, table)

    // ---------------- q194 stage 3 split: PPJoin vs CC ----------------
    if (which("q194")) (1 to 2).foreach { rep =>
      println(s"== q194 stage3 split (rep $rep)")
      val docs = t("documents")
      val bench = docs.where(col("doc_id") < 10)
      val train = docs.where(col("doc_id") >= 10)
      val contaminated = Dedup.contaminatedDocs(train, bench, "text",
        "doc_id", windowLen = 50).select(col("id").as("doc_id"))
      val s1 = graft.operators.Lineage.cut(
        train.join(contaminated, Seq("doc_id"), "left_anti"))
      val keep2 = Dedup.exact(s1, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val s2 = graft.operators.Lineage.cut(
        s1.join(keep2, Seq("doc_id"), "left_semi"))
      last = System.nanoTime()
      val pairs = Dedup.ngramJaccardPairsPrefix(s2, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val pairsCut = graft.operators.Lineage.cut(
        pairs.select(col("a"), col("b")))
      mark("q194.3a_ppjoin_pairs")
      val comp = Dedup.duplicateComponents(pairsCut, "a", "b")
      noop(comp)
      mark("q194.3b_cc")
      Dedup.releaseIntermediates()
      graft.operators.Graph.releaseIntermediates()
      spark.catalog.clearCache()
    }

    // ---------------- q264 step split ----------------
    if (which("q264")) (1 to 2).foreach { rep =>
      println(s"== q264 split (rep $rep)")
      val pc = graft.SparkEntry.punctCorpus(spark, sfDir)
      noop(pc)
      mark("q264.0_corpus")
      val mpath = s"$root0/capmodel"
      last = System.nanoTime()
      val merges = graft.operators.Tokenizer.bpeMerges(pc, "text",
        merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      mark("q264.1_bpeMerges8")
      graft.operators.Tokenizer.writeBpeModel(spark, mpath, merges,
        byteFallback = true)
      val model = graft.operators.Tokenizer.readBpeModel(spark, mpath)
      mark("q264.2_model_write_read")
      val vocabDf = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        model.merges, unicode = model.unicode,
        byteFallback = model.byteFallback)
      graft.operators.Tokenizer.writeBpeVocab(spark, mpath, vocabDf,
        specials = Seq("eos"))
      mark("q264.3_vocab_build_write")
      val vocab = graft.operators.Tokenizer.readBpeVocab(spark, mpath)
      val eosId = graft.operators.Tokenizer.readBpeSpecials(spark, mpath)
        .validateAgainst(vocab).eos
      mark("q264.4_vocab_read_specials")
      val counts = graft.operators.Tokenizer
        .bpeTokenCounts(pc, "text", "doc_id", model.merges,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .select(col("doc_id"), col("n_tokens"))
      val root = s"$root0/capstream"
      graft.streaming.StreamShardLayout.initLayout(spark, root)
      mark("q264.5_initLayout")
      def land(b: Long): Unit = {
        val part = counts.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        mark(s"q264.6.${b}a_appendIncrement")
        val ids = graft.operators.Tokenizer
          .bpeEncodeIds(pc.where(pmod(col("doc_id"), lit(2)) === b),
            "text", "doc_id", model.merges, vocab,
            unicode = model.unicode, byteFallback = model.byteFallback)
          .where(col("token_id").isNotNull)
          .select(col("doc_id"), col("pos"),
            col("token_id").cast("string").as("token"))
        graft.streaming.StreamShardLayout.appendTokens(ids, a, root,
          batchId = b)
        mark(s"q264.6.${b}b_appendTokens")
      }
      land(0L); land(1L)
      val packed = graft.streaming.StreamShardLayout
        .packLandedShards(spark, root, seqLen = 64L,
          sep = Some(eosId.toString))
      val path = s"$root0/capseq"
      Sampling.writeSequences(
        Sampling.packSequences(packed, groupCol = Some("shard")),
        path, groupCol = Some("shard"))
      mark("q264.7_pack_write_sequences")
      noop(Sampling.readSequences(spark, path)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest")))
      mark("q264.8_read_sequences_noop")
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
    }

    // ---------------- q270 step split ----------------
    if (which("q270")) (1 to 2).foreach { rep =>
      println(s"== q270 split (rep $rep)")
      val base = t("documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
      val root = s"$root0/sl_layout"
      val lake = s"$root0/sl_lake"
      last = System.nanoTime()
      graft.streaming.StreamShardLayout.initLayout(spark, root)
      mark("q270.0_initLayout")
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        mark(s"q270.${b}a_appendIncrement")
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
        mark(s"q270.${b}b_appendTokens")
      }
      land(0L)
      val open0 = graft.streaming.StreamShardLayout.readLayout(spark, root)
        .agg(max(col("shard").cast("long"))).collect().head.getLong(0)
      mark("q270.1_readLayout_max")
      graft.streaming.SequenceLake.appendSequences(
        Sampling.packSequences(graft.streaming.StreamShardLayout
          .packLandedShards(spark, root, seqLen = 512L),
          groupCol = Some("shard")),
        lake, 0L, groupCol = Some("shard"))
      mark("q270.2_pack0_appendSeqs")
      land(1L)
      graft.streaming.SequenceLake.appendSequences(
        Sampling.packSequences(graft.streaming.StreamShardLayout
          .packLandedShards(spark, root, seqLen = 512L,
            fromShard = open0),
          groupCol = Some("shard")),
        lake, 1L, groupCol = Some("shard"))
      mark("q270.3_pack1_appendSeqs")
      graft.streaming.SequenceLake.compactSequenceLake(spark, lake,
        groupCol = Some("shard"))
      mark("q270.4_compact")
      noop(graft.streaming.SequenceLake.readSequenceLake(spark, lake)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest")))
      mark("q270.5_read_noop")
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
    }

    // ---------------- q208 step split ----------------
    if (which("q208")) (1 to 2).foreach { rep =>
      println(s"== q208 split (rep $rep)")
      // fresh lake per rep: replayed curate batches otherwise collide
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$root0/ingest")).deleteRecursively()
      val docs = t("documents")
      val emb = t("embeddings")
      val lake = s"$root0/ingest"
      val joined = docs.join(emb.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      val bench = docs.where(col("doc_id") < 10)
      val hist = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 0)
      val inc = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 1)
      val p = graft.streaming.StreamLakeIngest.Params(
        minEstJaccard = 0.35, nlist = 8, nassign = 3)
      last = System.nanoTime()
      graft.streaming.StreamLakeIngest.initLake(hist, bench, "text",
        "doc_id", "embedding", lake, p)
      mark("q208.1_initLake")
      val admitted = Lineage.keep(
        graft.streaming.StreamLakeIngest.curateIncrement(inc, lake,
          s"$lake/admitted", "text", "doc_id", "embedding", 0L, p))
      noop(admitted)
      mark("q208.2_curateIncrement")
      val removed = inc.select(col("doc_id"))
        .join(admitted.select(col("doc_id")), Seq("doc_id"),
          "left_anti")
      val contam = Dedup.contaminatedDocs(inc, bench, "text", "doc_id",
        windowLen = 50).select(col("id").as("doc_id"))
      val oh = inc.select(col("doc_id"), md5(col("text")).as("__h"))
      val exEv = oh.join(hist.select(md5(col("text")).as("__h"))
        .distinct(), Seq("__h"), "left_semi").select("doc_id")
      val exWithin = oh.join(oh.groupBy("__h")
          .agg(min(col("doc_id")).as("__m")), Seq("__h"))
        .where(col("doc_id") =!= col("__m")).select("doc_id")
      val odd = (c: org.apache.spark.sql.Column) =>
        pmod(c, lit(2)) === 1
      val nd = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
        .where(col("a") >= 10 && col("b") >= 10 &&
          odd(col("a")) =!= odd(col("b")))
        .select(when(odd(col("a")), col("a")).otherwise(col("b"))
          .as("doc_id"))
      noop(nd)
      mark("q208.3_gate_ppjoin")
      val sem = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(col("a") >= 10 && col("b") >= 10 &&
          odd(col("a")) =!= odd(col("b")))
        .select(when(odd(col("a")), col("a")).otherwise(col("b"))
          .as("doc_id"))
      noop(sem)
      mark("q208.4_gate_cosine")
      val shouldRemove = contam.unionByName(exEv).unionByName(exWithin)
        .unionByName(nd).unionByName(sem).distinct()
      noop(graft.SparkEntry.recallGate(shouldRemove, removed,
        Seq("doc_id"), threshold = 0.8))
      mark("q208.5_recall_gate_full")
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
    }

    spark.stop()
  }
}
