package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Empirical scale probe: run the shuffle-heavy operator families at two
  * corpus sizes built by the SAME generator (ScaleGen replicas=1 vs =10)
  * and report wall-time + shuffle-write + spill ratios. A "scale-safe"
  * claim in SCALE.md predicts a ~linear (≤ replicas) time ratio; anything
  * clearly super-linear gets a named cause and a fix, not an argument.
  *
  * Both corpora are probed in ONE JVM (base first, scaled second) so JIT
  * and classloading warm-up cancel out of the ratio; each query runs
  * twice per corpus and the min is reported (same discipline as Bench).
  *
  * Usage: runMain graft.tools.ScaleProbe <baseDir> <scaledDir> [names...]
  * Output: one "SCALEPROBE <json>" line per query + a TOTAL line.
  */
object ScaleProbe {
  private class ShuffleListener extends SparkListener {
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
    val base = args.headOption.getOrElse("/tmp/sfx01")
    val scaled = args.lift(1).getOrElse("/tmp/sfx1")
    val names = if (args.length > 2) args.drop(2).toSeq else Seq(
      "q25_dedup_minhash", "q27_dedup_ngram", "q78_shared_substring",
      "q87_curation_v2", "q98_cc_star", "q99_jaccard_prefix",
      "q144_pagerank", "q152_span_dup", "q189_span_scrub",
      "q162_entity_clusters",
      "q183_zscore_chunked", "op_minhash", "op_crossdedup",
      "op_simhash", "op_ngram",
      "op_ppjoin", "op_ivf_neardup", "op_semdedup", "op_crosssemdedup",
      "op_streamsemdedup", "op_streamdecon")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      // partition count must scale with the data for the probe to
      // measure the OPERATOR, not spill at a fixed fan-out (the 100x
      // run spilled 30 GB at 32 partitions): let AQE size reducers
      // from a high initial count, exactly as a production cluster
      // would (coalesce is free; a too-low cap is unfixable)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)

    // direct-operator probes: the q178/q182 QUERIES wrap the operator in
    // a recall gate whose exact side is deliberately O(n²)-guarded, so
    // at probe scale the operator must be driven bare
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Dedup, Similarity}
    def docsOf(s: SparkSession, dir: String): DataFrame =
      graft.Tables.load(s, dir, "documents")
    // ENCODE-ONLY A/B family: the merge list is learned once per
    // (dir, size) and cached across the probe's two runs, so the
    // min-of-2 discipline isolates the ENCODE scan (run 2 pays zero
    // learning) — the per-row CPU claim the native expression makes
    lazy val encodeOnlyFamily
        : Map[String, (SparkSession, String) => DataFrame] = {
      val mergeCache = scala.collection.mutable.Map
        .empty[(String, Int), Seq[(String, String)]]
      def mergesFor(s: SparkSession, dir: String,
          n: Int): Seq[(String, String)] =
        mergeCache.getOrElseUpdate((dir, n), {
          val m = graft.operators.Tokenizer.bpeMergesBatched(
              docsOf(s, dir), "text", rounds = (n + 7) / 8, batch = 8)
            .orderBy("step").collect()
            .map(r => (r.getString(2), r.getString(3))).toSeq
          graft.operators.Dedup.releaseIntermediates()
          m.take(n)
        })
      def enc(n: Int, chained: Boolean)
          : (SparkSession, String) => DataFrame = (s, dir) => {
        val m = mergesFor(s, dir, n)
        if (chained) graft.operators.Tokenizer
          .bpeTokenCountsChained(docsOf(s, dir), "text", "doc_id", m)
        else graft.operators.Tokenizer
          .bpeTokenCounts(docsOf(s, dir), "text", "doc_id", m)
      }
      Map(
        "op_enc8_native" -> enc(8, chained = false),
        "op_enc8_chained" -> enc(8, chained = true),
        "op_enc64_native" -> enc(64, chained = false),
        "op_enc64_chained" -> enc(64, chained = true),
        "op_enc128_native" -> enc(128, chained = false),
        // real-vocabulary territory: 1024 merges (128 batched rounds,
        // plan depth held by the CutEvery lineage cuts) — the encode
        // must stay ~flat; the learning wall lands in run 1 only
        "op_enc1024_native" -> enc(1024, chained = false))
    }
    val opQueries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](
      // nlist is a function of corpus size (Similarity scaladoc: cells
      // of ~1k keep the per-cell join quadratic-free) — the probe must
      // scale it with the corpus exactly as a production job would,
      // not freeze the sf0.01 gate parameter. It must also budget for
      // nassign (each vector lands in nassign cells: membership is
      // nassign·n/nlist — the first 100x run sized nlist = n/1000,
      // got 4000-member cells, and spilled the disk on the pair
      // stream), and the quantizer sample must grow with nlist so the
      // codebook has data to separate.
      "op_ivf_neardup" -> ((s, dir) => {
        val emb = graft.Tables.load(s, dir, "embeddings")
        val nassign = 4
        val nlist = math.max(16, (nassign * emb.count() / 1000).toInt)
        Similarity.ivfNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3, nlist = nlist, nassign = nassign,
          sampleRows = math.max(4096, 8 * nlist))
      }),
      "op_semdedup" -> ((s, dir) => {
        val emb = graft.Tables.load(s, dir, "embeddings")
        val nassign = 3
        val nlist = math.max(8, (nassign * emb.count() / 1000).toInt)
        Similarity.semDedup(emb, "vec_id", "embedding",
          threshold = 0.4, nlist = nlist, nassign = nassign,
          keeperCap = 250, sampleRows = math.max(4096, 8 * nlist))
      }),
      "op_minhash" -> ((s, dir) =>
        Dedup.minhashLsh(docsOf(s, dir), "text", "doc_id", 3, 8, 2, 0.35)),
      // incremental semantic dedup: odd-id increment vs even-id lake
      "op_crosssemdedup" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val emb = graft.Tables.load(s, dir, "embeddings")
        val nassign = 3
        val nlist = math.max(8, (nassign * emb.count() / 1000).toInt)
        Similarity.semDedupCross(
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", threshold = 0.4, nlist = nlist,
          nassign = nassign, keeperCap = 250,
          sampleRows = math.max(4096, 8 * nlist))
      }),
      // incremental dedup: odd-id "increment" against the even-id "lake"
      "op_crossdedup" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val docs = docsOf(s, dir)
        Dedup.minhashLshCross(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "text", "doc_id", 3, 8, 2, 0.35)
      }),
      "op_simhash" -> ((s, dir) =>
        Dedup.simhashPairs(docsOf(s, dir), "text", "doc_id",
          shingleLen = 3, bands = 8, maxHamming = 10)),
      "op_ngram" -> ((s, dir) =>
        Dedup.ngramJaccardPairs(docsOf(s, dir), "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)),
      "op_ppjoin" -> ((s, dir) =>
        Dedup.ngramJaccardPairsPrefix(docsOf(s, dir), "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5)),
      // StreamDecon throughput: the stateless clean filter IS the
      // streaming plan (scaladoc'd batch == stream), so filtering the
      // whole corpus against a 100-doc bench set measures ingest-gate
      // docs/sec without a stream harness
      // streaming semantic gate throughput, via the batch twin (the
      // same keyed flatMapGroupsWithState plan): per-cell work is
      // |cell| * min(|cell|, cellCap) kernel comparisons, nlist scaled
      // with the corpus like the batch operators above
      "op_streamsemdedup" -> ((s, dir) => {
        val emb = graft.Tables.load(s, dir, "embeddings")
        val nassign = 2
        val nlist = math.max(8, (nassign * emb.count() / 1000).toInt)
        graft.streaming.StreamSemDedup.batch(emb, "vec_id", "embedding",
          threshold = 0.4, nlist = nlist, nassign = nassign,
          sampleRows = math.max(4096, 8 * nlist))
      }),
      "op_streamdecon" -> ((s, dir) => {
        val docs = docsOf(s, dir)
        val bench = docs.orderBy("doc_id").limit(100)
        graft.streaming.StreamDecon.batch(docs, bench, "text")
      }),
      // label propagation over the q144 graph (60M edges at 100×):
      // same BSP shape as pagerank — edges cached once, N-row label
      // state per round; predicted ~pagerank-shaped per round
      "op_lpa" -> ((s, dir) => {
        import org.apache.spark.sql.functions.col
        val li = graft.Tables.load(s, dir, "lineitem")
        graft.operators.Graph.labelPropagation(
          li.select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst")),
          "src", "dst", iters = 4)
      }),
      // deterministic shard layout: one range sort + the two-pass
      // running-sum scan — predicted sort-bound, zero spill
      "op_shard" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, size, split, trim}
        // cold per construction (no-op literal varies the plan so run 2
        // cannot reuse run 1's tracked sorted frame — op_selection note)
        val docs = docsOf(s, dir)
          .where(lit(System.nanoTime()) > 0L)
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long")
              .as("n_tokens"))
        graft.operators.Sampling.shardAssign(docs, "doc_id",
          "n_tokens", shardWeight = 5000L)
      }),
      // DSIR selection: two corpus scans (one bucket-model agg, one
      // broadcast-scored doc agg) — predicted ~linear, shuffle is the
      // 1024-bucket model + one partial-sum row per doc
      "op_dsir" -> ((s, dir) => {
        import org.apache.spark.sql.functions.col
        graft.operators.Curation.dsirSelect(docsOf(s, dir), "text",
          "doc_id", isTarget = col("lang") === "en",
          buckets = 1024, k = 100)
      }),
      // BPE learning: 8 driver-coordinated rounds over the WORD VOCAB
      // (not the corpus) — predicted sub-linear in corpus size once
      // the vocab saturates; the corpus cost is the one vocab agg
      "op_bpe" -> ((s, dir) =>
        graft.operators.Tokenizer.bpeMerges(docsOf(s, dir), "text",
          merges = 8)),
      // the q215 end-to-end selection pipeline (filter -> exact dedup
      // -> DSIR top-k -> BPE learn on selection -> budget admission) —
      // predicted ~op_dsir-shaped (its dominant stage) since every
      // post-selection stage runs on <= k rows
      "op_selection" -> ((s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val docs = docsOf(s, dir)
        // vary the plan per construction (semantically a no-op) so the
        // second run cannot reuse the first run's tracked persists —
        // this op must measure the COLD pipeline, not a cache read
        val filtered = docs.where(col("n_chars") >= 200 &&
          lit(System.nanoTime()) > 0L)
        val keepIds = Dedup.exact(filtered, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val survivors = filtered.join(keepIds, Seq("doc_id"), "left_semi")
        val sel = graft.operators.Curation.dsirSelect(survivors, "text",
          "doc_id", isTarget = col("lang") === "en",
          buckets = 1024, k = 200)
        val selDocs = graft.operators.Lineage.keep(
          survivors.join(sel.select("doc_id"), Seq("doc_id"),
            "left_semi"))
        val m = graft.operators.Tokenizer.bpeMerges(selDocs, "text",
            merges = 8).orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val counts = graft.operators.Tokenizer
          .bpeTokenCounts(selDocs, "text", "doc_id", m)
          .join(selDocs.select(col("doc_id"), col("source")),
            Seq("doc_id"))
        graft.streaming.StreamTokenBudget.batch(counts, budget = 800L)
      }),
      // BPE encode: learn on the corpus, then the zero-shuffle
      // map-only token-count pass — predicted linear, zero shuffle in
      // the encode stage
      "op_bpe_encode" -> ((s, dir) => {
        val docs = docsOf(s, dir)
        val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
            merges = 8).orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Tokenizer.bpeTokenCounts(docs, "text",
          "doc_id", m)
      }),
      // A/B twin of op_bpe_encode: the chained-regex encoder the
      // native expression replaced (identical learn stage, so the
      // delta IS the per-row encode cost)
      "op_bpe_encode_chained" -> ((s, dir) => {
        val docs = docsOf(s, dir)
        val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
            merges = 8).orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Tokenizer.bpeTokenCountsChained(docs, "text",
          "doc_id", m)
      }),
      // the lifted ceiling: 128 merges (16 batched rounds x 8
      // disjoint picks) + native encode — the rank-priority encoder's
      // cost is ~independent of merge count, so predicted ~=
      // op_bpe_encode despite 16x the merge list (the regex chain
      // cannot run here at all: 128 regex passes/word)
      "op_bpe_encode_128" -> ((s, dir) => {
        val docs = docsOf(s, dir)
        val m = graft.operators.Tokenizer.bpeMergesBatched(docs,
            "text", rounds = 16, batch = 8).orderBy("step").collect()
          .map(r => (r.getString(2), r.getString(3))).toSeq
        graft.operators.Tokenizer.bpeTokenCounts(docs, "text",
          "doc_id", m)
      })) ++ encodeOnlyFamily
    def query(name: String): (SparkSession, String) => DataFrame =
      opQueries.getOrElse(name, graft.SparkEntry.queries(name))

    // (minSec, shuffleBytes, spillBytes) over two runs at one corpus
    def measure(name: String, dir: String): (Double, Long, Long) = {
      def once(): (Double, Long, Long) = {
        val w0 = listener.written.get(); val s0 = listener.spilled.get()
        val t0 = System.nanoTime()
        query(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // the listener bus drains asynchronously — wait for quiescence
        var last = -1L
        var cur = listener.written.get() + listener.spilled.get()
        while (cur != last) { Thread.sleep(100); last = cur
          cur = listener.written.get() + listener.spilled.get() }
        (sec, listener.written.get() - w0, listener.spilled.get() - s0)
      }
      val runs = Seq(once(), once())
      graft.operators.Dedup.releaseIntermediates()
      graft.operators.Graph.releaseIntermediates()
      spark.catalog.clearCache()
      System.gc()
      // min TIME (warm steady state, Bench discipline) but FIRST-run
      // shuffle/spill: the warm run can reuse in-query persists (q87's
      // decontamination cache), which would under-report the true shuffle
      (runs.map(_._1).min, runs.head._2, runs.head._3)
    }

    val rows = names.map { n =>
      val (tb, wb, pb) = measure(n, base)
      val (ts, ws, ps) = measure(n, scaled)
      val line = f"""{"query":"$n","base_sec":$tb%.2f,"scaled_sec":$ts%.2f,""" +
        f""""ratio":${ts / tb}%.1f,"base_shuffle_mb":${wb / 1e6}%.1f,""" +
        f""""scaled_shuffle_mb":${ws / 1e6}%.1f,"base_spill_mb":${pb / 1e6}%.1f,""" +
        f""""scaled_spill_mb":${ps / 1e6}%.1f}"""
      println(s"SCALEPROBE $line")
      (n, tb, ts, wb, ws)
    }
    val tb = rows.map(_._2).sum; val ts = rows.map(_._3).sum
    println(f"""SCALEPROBE_TOTAL {"base_sec":$tb%.2f,"scaled_sec":$ts%.2f,"ratio":${ts / tb}%.1f}""")
    spark.stop()
  }
}
