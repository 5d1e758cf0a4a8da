package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{DetAgg, EnergyFrame, EnergySeries}
import graft.operators.{Analytics, AsofJoin, Dedup, Discretize, Lineage, Multimodal, RangeJoin, Sampling, Similarity, TextOps, WindowOps}
import graft.sources.ReportData
import graft.streaming.{StatefulSessions, StreamOps}
import graft.units.UnitRegistry

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the extended LLM-pipeline scope), each with equivalent
  * DuckDB oracle SQL in `oracleSql`.
  *
  * Cross-engine determinism rules used throughout (see DetAgg):
  *  - double aggregation goes through DECIMAL(30,6) (exact, associative);
  *  - per-row double arithmetic is written with the SAME association order
  *    on both sides;
  *  - timestamps are normalized to naive UTC wall time on output
  *    (Tables.ntzOut) to match DuckDB's zone-less timestamps;
  *  - every ranking has an explicit unique tie-break.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-JVM unique root for the q192/q193 lake artifacts. A fresh
    * temp dir (not a fixed /tmp path) so two concurrent runs against
    * the same data dir can never race overwrite-vs-read on shared
    * artifact files; within one JVM the writers use overwrite mode, so
    * repeated builder calls stay idempotent. NOTE: q192/q193/q196/
    * q198/q200–q208 are the SIDE-EFFECTING entries in `queries` —
    * constructing them runs the artifact-write jobs (that multi-job
    * shape IS the contract under test); plan-only consumers should
    * skip them (PlanShapeSpec does). The append steps are also
    * idempotent across repeated builder calls: the overwrite of job 1
    * clears the dir first, hash/signature append multiplicity never
    * changes the anti-join/distinct-pair results, and the keeper
    * rank-merge dedups on (cell, keeper) before ranking. */
  private lazy val LakeRoot =
    java.nio.file.Files.createTempDirectory("graft_lake_").toString

  /** The SIDE-EFFECTING queries (see the [[LakeRoot]] note): entries
    * whose construction runs artifact-WRITE jobs against the lake
    * roots. Bench runs these LAST — their hundreds-of-MB lake writes
    * evict the page cache and were measured cooling alphabetical
    * followers ~2.5x (q86–q90's floor exceedances all sat in q229's
    * wake), so keeping them out of the read-only queries' wake keeps
    * every other floor honest. */
  val sideEffecting: Set[String] = Set(
    "q192_lake_artifacts", "q193_semlake_artifacts", "q196_exact_lake",
    "q198_exact_lake_cycle", "q200_neardup_lake_cycle",
    "q201_semlake_cycle", "q202_calibrated_filter",
    "q203_neardup_lake_fused", "q204_semlake_fused",
    "q205_lake_seeded_gate", "q206_semlake_seeded_gate",
    "q207_incremental_pipeline", "q208_stream_lake_ingest",
    "q221_disposition_audit", "q228_selection_shard_write",
    "q229_stream_full_ingest", "q239_stream_shard_append",
    "q240_selection_shard_stream", "q244_stream_shard_manifest",
    "q249_bpe_model_roundtrip", "q250_trainer_pack_capstone",
    "q256_stream_pack_closed", "q257_bpe_artifact_ids",
    "q259_pack_landed", "q260_stream_pack_spans",
    "q261_sequences_artifact", "q262_curriculum_stream",
    "q264_stream_sequences_capstone", "q265_curriculum_pack",
    "q267_special_registry", "q268_padded_sequences",
    "q269_loader_consume", "q270_sequence_lake",
    "q271_bos_eos_pack", "q272_unk_encode", "q273_trainer_poll",
    "q274_pinned_consume", "q275_trainer_arc")

  private def out(df: DataFrame): DataFrame = Tables.ntzOut(df)

  /** Stage boundaries of the incremental-curation chain, shared by the
    * per-stage summary (q207) and the per-doc disposition audit
    * (q221). `contaminated`/`rem3`/`rem4` are the removal sets;
    * s1..s5 the survivors after each stage. */
  private case class IncStages(contaminated: DataFrame, s1: DataFrame,
      s2: DataFrame, rem3: DataFrame, s3: DataFrame, rem4: DataFrame,
      s4: DataFrame, s5: DataFrame)

  /** The q215 selection chain (length floor -> exact dedup -> DSIR
    * top-200 vs the English target -> BPE learned ON the selection ->
    * per-source token-budget admission), shared by the pipeline query
    * (q215) and the corpus-to-shards capstone (q225). Each stage is
    * the already-certified operator; the selection frame persists once
    * (kept) because three downstream stages read it. */
  private def selectionPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val filtered = docs.where(col("n_chars") >= 200)
    val keepIds = graft.operators.Dedup.exact(filtered, "text",
      "doc_id").select(col("keep_id").as("doc_id"))
    val survivors = filtered.join(keepIds, Seq("doc_id"), "left_semi")
    val sel = graft.operators.Curation.dsirSelect(survivors, "text",
      "doc_id", isTarget = col("lang") === "en",
      buckets = 1024, k = 200)
    val selDocs = Lineage.keep(
      survivors.join(sel.select("doc_id"), Seq("doc_id"), "left_semi"))
    val m = graft.operators.Tokenizer.bpeMerges(selDocs, "text",
        merges = 8).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val counts = graft.operators.Tokenizer
      .bpeTokenCounts(selDocs, "text", "doc_id", m)
      .join(selDocs.select(col("doc_id"), col("source")), Seq("doc_id"))
    graft.streaming.StreamTokenBudget.batch(counts, budget = 500L)
  }

  /** The NON-ASCII corpus for the unicode-tokenizer queries
    * (q236/q237): the documents text with its vowels translated to
    * accented forms (per-code-point `translate`, identical in Spark
    * and DuckDB, so the derivation is engine-exact) UNION literal
    * CJK / Cyrillic / mixed-case / digit rows. Every alphabetic word
    * is thus OUTSIDE the ascii `[a-z]+` class — under the ascii
    * tokenizer this whole corpus would bypass the vocabulary as OOV
    * passthrough; the unicode mode is what makes it encodable. */
  private def uniCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"),
      translate(col("text"), "aeiou", "àéïöü").as("text"), col("lang"))
    val extra = Seq(
      (1000000L, "数据 模型 数据 训练 数据 模型 训练 数据", "zh"),
      (1000001L, "данные поток данные система данные поток", "ru"),
      (1000002L, "Übung Straße Übung größe 123 Übung 123", "de"),
      (1000003L, "Ⅻ x² Ⅻ x² 数据 данные mixé-mot", "xx"))
      .toDF("doc_id", "text", "lang")
    base.unionByName(extra)
  }

  /** The PUNCTUATION-HEAVY corpus for the byte-fallback tokenizer
    * queries (q242/q243): the documents text with two vowels
    * translated to ASCII punctuation (per-code-point `translate`,
    * identical in Spark and DuckDB) UNION literal rows covering every
    * UTF-8 width out of class — apostrophes/hyphens/decimals (1-byte),
    * `«»` (2-byte), the en dash (3-byte), emoji (4-byte) — plus
    * in-class CJK/Cyrillic neighbors. Under the unicode tokenizer the
    * punctuated words would all bypass the vocabulary as single OOV
    * tokens; byte fallback is what makes them encodable. */
  private[graft] def punctCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"),
      translate(col("text"), "eo", "'.").as("text"), col("lang"))
    val extra = Seq(
      (2000000L, "don't don't co-op co-op 3.14 3.14 don't co-op",
        "punct"),
      (2000001L, "https://ex.com/a?b=1 https://ex.com/a?b=1 " +
        "http://x.y http://x.y e-mail e-mail", "url"),
      (2000002L, "«mot» «mot» a–b a–b 😀😀 " +
        "😀😀 naïve naïve", "mixed"),
      (2000003L, "数据,模型 数据,模型 x=1;y=2 x=1;y=2 " +
        "тест-кейс тест-кейс", "cjkmix"))
      .toDF("doc_id", "text", "lang")
    base.unionByName(extra)
  }

  /** The q207 chain: decon -> exact-vs-lake -> near-dup cross ->
    * semantic cross -> quality filters (history outranks increment,
    * earlier id wins). SIDE-EFFECTING: writes the hash-lake artifact
    * under `LakeRoot` + `lakeSuffix`. */
  private def incPipelineStages(s: SparkSession, dir: String,
      lakeSuffix: String): IncStages = {
    val cut = graft.operators.Lineage.cut _
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val lake =
      s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}$lakeSuffix"
    val bench = docs.where(col("doc_id") < 10)
    val hist = docs.where(col("doc_id") >= 10 &&
      pmod(col("doc_id"), lit(2)) === 0)
    val inc = docs.where(col("doc_id") >= 10 &&
      pmod(col("doc_id"), lit(2)) === 1)
    Dedup.writeContentHashes(hist, "text", s"$lake/hashes")
    // contaminated/rem3/rem4 are LAZY TRACKED PERSISTS (round 20,
    // guide §1.2/§5): the stage cuts below compute them anyway (s1's
    // anti-join, s3/s4's removal joins), populating the cache en
    // route at zero extra jobs — and q221's disposition union, which
    // CONSUMES all three at sink time, reads the cache instead of
    // re-running the decon probe, the PPJoin, and the cosine cross
    // (the r19 plan audit: q221 was re-scanning all three chains).
    val contaminated = Lineage.keep(Dedup.contaminatedDocs(inc, bench,
      "text", "doc_id", windowLen = 50).select(col("id").as("doc_id")))
    val s1 = cut(inc.join(contaminated, Seq("doc_id"), "left_anti"))
    val s2 = cut(Dedup.exactCrossFromArtifacts(s1,
      s.read.parquet(s"$lake/hashes"), "text", "doc_id"))
    // exact near-dup cross over the increment ∪ history pool: pool
    // parity IS membership (odds = s2 survivors, evens = history),
    // so one PPJoin classifies every pair
    val pool = s2.select(col("doc_id"), col("text"))
      .unionByName(hist.select(col("doc_id"), col("text")))
    val pairs = Dedup.ngramJaccardPairsPrefix(pool, "text", "doc_id",
      shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
    val rem3 = Lineage.keep(pairs.select(
      when(pmod(col("a"), lit(2)) === 1 &&
          pmod(col("b"), lit(2)) === 0, col("a"))
        .when(pmod(col("b"), lit(2)) === 1, col("b"))
        .as("doc_id"))
      .where(col("doc_id").isNotNull).distinct())
    val s3 = cut(s2.join(rem3, Seq("doc_id"), "left_anti"))
    // exact semantic cross: cosine pairs over the full embedding
    // table, membership resolved by joins (bench and already-removed
    // docs must not trigger removals)
    val cp = Similarity.cosineNearDupPairs(emb, "vec_id",
      "embedding", threshold = 0.4)
    val s3a = s3.select(col("doc_id").as("a"), lit(1).as("__a3"))
    val s3b = s3.select(col("doc_id").as("b"), lit(1).as("__b3"))
    val ha = hist.select(col("doc_id").as("a"), lit(1).as("__ah"))
    val hb = hist.select(col("doc_id").as("b"), lit(1).as("__bh"))
    val rem4 = Lineage.keep(cp.join(s3a, Seq("a"), "left")
      .join(s3b, Seq("b"), "left")
      .join(ha, Seq("a"), "left").join(hb, Seq("b"), "left")
      .select(
        when(col("__b3") === 1 &&
            (col("__ah") === 1 || col("__a3") === 1), col("b"))
          .when(col("__a3") === 1 && col("__bh") === 1, col("a"))
          .as("doc_id"))
      .where(col("doc_id").isNotNull).distinct())
    val s4 = cut(s3.join(rem4, Seq("doc_id"), "left_anti"))
    val s5 = cut(s4
      .withColumn("__r", TextOps.repetitionScores(col("text")))
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .where(col("quality") >= 0.5 &&
        col("__r.top_bigram_frac") <= 0.2 &&
        TextOps.langId(col("text")) === "en")
      .drop("__r", "quality"))
    IncStages(contaminated, s1, s2, rem3, s3, rem4, s4, s5)
  }

  /** Per-stage wall seconds of the q194 mega-pipeline's last runs
    * (min-merged across runs within the JVM) — populated by the q194
    * builder's timed stage boundaries, read by Bench into
    * BENCH_DETAIL.json's "stages" object so per-stage drift is
    * adjudicable without re-probing. */
  val megaStageTimes: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty

  /** Shortest round-trip double literal for oracle SQL. */
  private def d17(x: Double): String = x.toString

  private val dSum = DetAgg.sqlSum _
  private val dAvg = DetAgg.sqlAvg _

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** RE2-compatible patterns shared by q92 and its oracle (Java regex
    * accepts the same subset — keep it that way). */
  private val ProfilePatterns = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "digits" -> "[0-9]+",
    "kw_value" -> "\\bvalue\\b",
    "kw_table" -> "\\btable\\b")

  /** Recall gate for approximate operators (hash-seeded, hence not
    * directly SQL-checkable): the fraction of EXACT-result keys the
    * approximate operator recovers, emitted as one deterministic row the
    * DuckDB oracle reproduces — `n_exact` is SQL-computable from the
    * exact definition, and `recall_ok` is 1 iff recall >= threshold
    * (seeded operators + DetAgg make the recall a constant of the
    * dataset, so the gate is stable run-to-run). */
  private[graft] def recallGate(exact: DataFrame, approx: DataFrame,
      keys: Seq[String], threshold: Double): DataFrame = {
    val hits = approx.select(keys.map(col): _*).distinct()
      .withColumn("__hit", lit(1))
    exact.select(keys.map(col): _*)
      .join(hits, keys, "left")
      .agg(count(lit(1)).as("n_exact"),
        (coalesce(sum(col("__hit")), lit(0)).cast("double") / count(lit(1))
          >= lit(threshold)).cast("long").as("recall_ok"))
  }

  private def eventsSeries(s: SparkSession, dir: String): EnergySeries =
    EnergySeries(t(s, dir, "events").select(col("event_id"), col("value")),
      Seq("event_id"), "value", Some(UnitRegistry.parse("degC")))

  private def eventsTsSeries(s: SparkSession, dir: String): EnergySeries =
    EnergySeries(t(s, dir, "events").select(col("ts"), col("event_type"),
      col("value")), Seq("ts"), "value")

  /** Hourly (click, view) mean-value pivot — the reduced two-column
    * matrix q133/q134 correlate (same cell formula as q100). */
  private def hourlyXY(s: SparkSession, dir: String): DataFrame = {
    def cell(typ: String, as: String) =
      (sum(when(col("event_type") === typ, col("value")).cast(DetAgg.Dec))
        .cast("double") /
        count(when(col("event_type") === typ, col("value")))).as(as)
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("ts"))
      .agg(cell("click", "x"), cell("view", "y"))
  }

  // ======================================================== flagship entry

  /** Flagship on sf0.001: ReportData-style ingest of the events stream →
    * tumbling-hour load profile per event_type. */
  def entry(spark: SparkSession): DataFrame =
    out(StreamOps.tumblingAgg(t(spark, "/root/testdata/sf0.001", "events")))

  // ============================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S3: from_reportdata (series variant)
    "q01_reportdata_series" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tidy = ev.select(
        month(col("ts")).as("Month"), dayofmonth(col("ts")).as("Day"),
        hour(col("ts")).as("Hour"), minute(col("ts")).as("Minute"),
        lit(60).as("Interval"), col("value").cast(DetAgg.Dec).as("Value"),
        lit("J").as("Units"), col("event_type").as("Name"))
      val series = ReportData.toSeries(tidy, baseYear = 2024,
        units = Some("J"))
      out(series.df.select(col("ts"),
        col("Value").cast("double").as("value")))
    }),
    // ---- S5: from_reportdata (frame variant, wide pivot per KeyValue)
    "q02_reportdata_frame" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tidy = ev.select(
        floor(unix_timestamp(col("ts")) / 60).as("TimeIndex"),
        month(col("ts")).as("Month"), dayofmonth(col("ts")).as("Day"),
        hour(col("ts")).as("Hour"), minute(col("ts")).as("Minute"),
        lit(1).as("Interval"), col("value").as("Value"),
        lit("J").as("Units"), col("event_type").as("KeyValue"))
      out(ReportData.toFrame(tidy, baseYear = 2024, units = Some("J"),
        keyValues = EventTypes).df)
    }),
    // ---- S2: with_timeindex (generated fixed-step index)
    "q03_with_timeindex" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      out(EnergySeries.withTimeIndex(s,
        ev.select(col("event_id").as("id"), col("value")), "value",
        baseYear = 2018, stepSeconds = 3600).df)
    }),
    // ---- P3: to_units (affine degC → K)
    "q04_to_units" -> ((s, dir) =>
      eventsSeries(s, dir).toUnits("K").df),
    // ---- P5: to_ip (SI→IP table lookup, W → Btu/h)
    "q05_to_ip" -> ((s, dir) =>
      eventsSeries(s, dir).copy(units = Some(UnitRegistry.parse("W"))).toIp.df),
    // ---- P6: source_side conditional split
    "q06_source_side" -> ((s, dir) =>
      eventsSeries(s, dir).sourceSide(Some(3.0), Some(4.0)).df),
    // ---- P8/A7: normalize (global min-max scale)
    "q07_normalize" -> ((s, dir) =>
      eventsSeries(s, dir).normalize().df),
    // ---- P8 extension: z-score standardization
    "q85_standardize" -> ((s, dir) =>
      eventsSeries(s, dir).standardize().df),
    // ---- decontamination: training docs sharing an exact 50-char
    // window with the (broadcast) benchmark set
    "q86_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminatedDocs(docs.where(col("doc_id") >= 10),
        docs.where(col("doc_id") < 10), "text", "doc_id", windowLen = 50)
    }),
    // ---- A6/O1/O2: load-duration curve (distributed sort + rank)
    "q08_ldc" -> ((s, dir) =>
      eventsSeries(s, dir).ldc.df),
    // ---- P7: ldc_source
    "q09_ldc_source" -> ((s, dir) =>
      eventsSeries(s, dir).ldcSource(4.0, 4.0).df),
    // ---- A5: monthly resample (calendar-month mean)
    "q10_monthly" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      out(EnergySeries(li.select(col("l_shipdate").as("ts"),
        col("l_quantity").as("value")), Seq("ts"), "value").monthly.df)
    }),
    // ---- A5 generalized: tumbling-window resample
    "q11_resample" -> ((s, dir) =>
      out(eventsTsSeries(s, dir).resample("6 hours").df)),
    // ---- A2: p_max per group
    "q12_pmax" -> ((s, dir) =>
      eventsTsSeries(s, dir).pMaxBy("event_type")),
    // ---- A3: capacity factor per group
    "q13_capacity_factor" -> ((s, dir) =>
      eventsTsSeries(s, dir).capacityFactorBy("event_type")),
    // ---- A4: time_at_min (idxmin) per group
    "q14_time_at_min" -> ((s, dir) =>
      out(eventsTsSeries(s, dir).timeAtMinBy("event_type"))),
    // ---- J2: index-alignment arithmetic (full-outer join on index)
    "q15_align_arith" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def minuteSeries(typ: String) = EnergySeries(
        ev.where(col("event_type") === typ)
          .groupBy(date_trunc("minute", col("ts")).as("ts"))
          .agg(DetAgg.detSum(col("value")).as("value")), Seq("ts"), "value")
      out((minuteSeries("click") + minuteSeries("view")).df)
    }),
    // ---- W1/V1: day × hour period matrix (heatmap data layer)
    "q16_day_hour_matrix" -> ((s, dir) =>
      eventsTsSeries(s, dir).toDayHourMatrix),
    // ---- M1: discretize (typical-period mean profile, k=1)
    "q17_discretize_mean" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = EnergySeries(
        ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
          .agg(DetAgg.detAvg(col("value")).as("value")), Seq("ts"), "value")
      out(Discretize.discretize(hourly, noTypicalPeriods = 1,
        periodLength = 24).df)
    }),
    // ---- M1: discretize via seeded k-means (k=4). The clustering is not
    // SQL-expressible, but the mean representation is sum-preserving for
    // ANY assignment (each (cluster, slot) group mean × its count sums to
    // the group's total), so the oracle checks the row count + that exact
    // invariant.
    "q18_discretize_kmeans" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = EnergySeries(
        ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
          .agg(DetAgg.detAvg(col("value")).as("value")), Seq("ts"), "value")
      val disc = Discretize.discretize(hourly, noTypicalPeriods = 4,
        periodLength = 24)
      val p = disc.df.agg(DetAgg.detSum(col("value")).as("__ps"),
        count(lit(1)).as("n_rows"))
      val o = hourly.df.agg(DetAgg.detSum(col("value")).as("__os"))
      p.crossJoin(o).select(col("n_rows"),
        (abs(col("__ps") - col("__os")) <= lit(0.01))
          .cast("long").as("sums_match"))
    }),
    // ---- M1 (frame): joint discretize over a 2-column frame (k=1)
    "q48_discretize_frame" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def cell(typ: String) = {
        val c = when(col("event_type") === typ, col("value"))
        (DetAgg.detSum(c) / count(c)).as(typ)
      }
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
        .agg(cell("click"), cell("view"))
      val frame = EnergyFrame(hourly, Seq("ts"))
      out(Discretize.discretizeFrame(frame, noTypicalPeriods = 1,
        periodLength = 24).df)
    }),
    // ---- inherited relational surface: groupBy-agg (TPC-H Q1 shape)
    "q19_groupby_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        DetAgg.detSum(col("l_quantity")).as("sum_qty"),
        DetAgg.detSum(col("l_extendedprice")).as("sum_base_price"),
        DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        (DetAgg.detSum(col("l_quantity")) / count(col("l_quantity")))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
    }),
    // ---- inherited relational surface: multi-way broadcast join
    "q20_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    }),
    // ---- O3: top-k with deterministic tie-break
    "q21_topk_customers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_custkey"))
        .agg(DetAgg.detSum(col("o_totalprice")).as("total_spend"))
        .orderBy(col("total_spend").desc, col("o_custkey").asc)
        .limit(10)
    }),
    // ---- O4: set ops (EXCEPT)
    "q22_setops_except" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.where(col("event_type") === "click").select(col("user_id")).distinct()
        .except(ev.where(col("event_type") === "purchase")
          .select(col("user_id")).distinct())
    }),
    // ---- semi-structured: JSON prop extraction + aggregation
    "q23_json_props" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long"))
          .as("k_sum"))
    }),
    // ---- dedup: exact (content-hash groupBy)
    "q24_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),
    // ---- dedup: MinHash + LSH banding, gated on recall against the
    // exact n-gram Jaccard pairs (xxhash64 has no DuckDB twin, so the
    // oracle checks the recall invariant instead)
    "q25_dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      recallGate(
        Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000),
        Dedup.minhashLsh(docs, "text", "doc_id",
          shingleLen = 3, bands = 8, rowsPerBand = 2, minEstJaccard = 0.35),
        Seq("a", "b"), threshold = 0.8)
    }),
    // ---- dedup: STREAMING MinHash-LSH near-dup gate (StreamNearDup),
    // run through its batch twin (same typed pipeline + keyed gate in
    // batch mode) and recall-gated like q25 — the ingest-time analog
    "q187_stream_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      recallGate(
        Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000),
        graft.streaming.StreamNearDup.batch(docs, "text", "doc_id",
          shingleLen = 3, bands = 8, rowsPerBand = 2,
          minEstJaccard = 0.35),
        Seq("a", "b"), threshold = 0.8)
    }),
    // ---- dedup: STREAMING SEMANTIC gate (StreamSemDedup), the q178
    // analog at the ingest edge — touched-doc recall vs the exact
    // cosine ground truth, through the batch twin of the keyed gate
    "q188_stream_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4)
      val exactDocs = exact.select(col("a").as("vec"))
        .union(exact.select(col("b").as("vec"))).distinct()
      val sd = graft.streaming.StreamSemDedup.batch(emb, "vec_id",
        "embedding", threshold = 0.4, nlist = 8, nassign = 3)
      val touched = sd.select(col("vec_id").as("vec"))
        .union(sd.select(col("keeper").as("vec"))).distinct()
      recallGate(exactDocs, touched, Seq("vec"),
        threshold = 0.8) // measured 0.96 sf0.01, 0.92 sf0.1
    }),
    // ---- dedup: CROSS-corpus (incremental) MinHash-LSH — a "new"
    // increment (odd doc ids) deduped against the "lake" (even ids),
    // recall-gated on the exact cross-side near-dup pairs
    "q190_cross_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exactCross = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
        .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      recallGate(
        exactCross,
        Dedup.minhashLshCross(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "text", "doc_id", shingleLen = 3, bands = 8, rowsPerBand = 2,
          minEstJaccard = 0.35),
        Seq("a", "b"), threshold = 0.8)
    }),
    // ---- dedup: SimHash blocking + Hamming, gated on recall against the
    // exact high-similarity (j >= 0.8) pairs
    "q26_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      recallGate(
        Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.8, docFreqCap = 1000),
        // 8x8-bit bands: the Hamming-LSH guarantee covers distance <= 7
        // outright and the blockCap skew guard keeps the narrower bands
        // linear at corpus scale (Dedup.simhashPairs scaladoc)
        Dedup.simhashPairs(docs, "text", "doc_id",
          shingleLen = 3, bands = 8, maxHamming = 10),
        Seq("a", "b"), threshold = 0.8) // measured 0.96 sf0.01, 0.988 sf0.1
    }),
    // ---- dedup: exact n-gram Jaccard pairs (inverted-index join; the
    // df <= 1000 skew cap is active and mirrored in the oracle)
    "q27_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)),
    // ---- dedup: embedding-cosine near-duplicate pairs
    "q28_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4)),
    // ---- similarity: exact brute-force cosine top-k
    "q29_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 10), "vec_id",
        "embedding", k = 5)
    }),
    // ---- similarity: LSH-bucketed approximate top-k, gated on recall
    // against the exact brute-force top-k (single-table LSH trades
    // recall for the bucket-pruned scan; the gate pins the floor)
    "q30_sim_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      recallGate(
        Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 5),
        Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 5,
          numPlanes = 4, numTables = 8, dim = 64, multiProbe = true),
        Seq("query_id", "neighbor_id"), threshold = 0.8) // measured 1.00
    }),
    // ---- dedup: LSH-bucketed embedding near-dup (scale path), gated on
    // recall against the exact all-pairs variant
    "q51_embed_neardup_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      recallGate(
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3),
        Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3, numPlanes = 4, numTables = 8, multiProbe = true),
        Seq("a", "b"), threshold = 0.8) // measured 0.997 at sf0.01
    }),
    // ---- dedup: cell-blocked (IVF) embedding near-dup — the
    // WEAK-threshold scale path (hyperplane LSH cannot separate at
    // cos≈0.3: measured slower-than-exact or half the recall at 10x,
    // SCALE.md round 7; cluster co-membership is the signal that works
    // there). Same recall gate as q51 against the same exact twin.
    "q182_ivf_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      recallGate(
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3),
        Similarity.ivfNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.3, nlist = 16, nassign = 4),
        Seq("a", "b"), threshold = 0.8) // measured 0.96 sf0.01, 0.93 sf0.1
    }),
    // ---- similarity: IVF coarse-quantized top-k, gated on recall
    // against the exact brute-force top-k
    "q33_sim_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      recallGate(
        Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 5),
        Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5,
          nlist = 16, nprobe = 8, nassign = 2),
        Seq("query_id", "neighbor_id"), threshold = 0.8) // measured 0.96
    }),
    // ---- text: quality scoring + token counting
    "q31_text_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
        TextOps.wordCount(col("text")).cast("long").as("n_words"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),
    // ---- text: language identification heuristic
    "q32_langid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"))
    }),
    // ---- text: canonical fingerprint dedup key
    "q34_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
    }),
    // ---- multimodal: binary payload + typed metadata
    "q35_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        "text", "text/plain")
      media.select(col("doc_id"),
        col("media_meta.media_type").as("media_type"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.sha256").as("sha256"))
    }),
    // ---- multimodal: REAL per-partition BMP decode — payloads are
    // genuine 24bpp BMPs built from the document bytes; the decoder
    // parses header/stride/row-order and integer-sums pixel luma, and
    // the oracle replicates the math from the text arithmetically
    "q36_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.asBmpMedia(t(s, dir, "documents"), "doc_id",
        "text")
      Multimodal.extractFeatures(media, "doc_id").toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("mean_luma"))
    }),
    // ---- streaming semantics (batch-checkable): tumbling window
    "q37_stream_tumbling" -> ((s, dir) =>
      out(StreamOps.tumblingAgg(t(s, dir, "events")))),
    // ---- streaming semantics: per-user session windows
    "q38_stream_session" -> ((s, dir) =>
      out(StreamOps.sessionAgg(t(s, dir, "events"), gap = "5 minutes"))),
    // ---- streaming semantics: sliding window
    "q39_stream_sliding" -> ((s, dir) =>
      out(StreamOps.slidingAgg(t(s, dir, "events"), "1 hour", "15 minutes"))),
    // ---- S4/A8: frame row-wise aggregate
    "q40_frame_row_sum" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_tax"),
        col("l_discount"))
      EnergyFrame(li, Seq("l_orderkey", "l_linenumber"))
        .rowSum("row_total").df
    }),
    // ---- P8 (frame): per-column min-max normalize
    "q41_frame_normalize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_tax"),
        col("l_discount"))
      EnergyFrame(li, Seq("l_orderkey", "l_linenumber")).normalize().df
    }),
    // ---- P4 (frame): per-column unit conversion
    "q42_frame_to_units" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_tax"))
      val degC = UnitRegistry.parse("degC")
      EnergyFrame(li, Seq("l_orderkey", "l_linenumber"),
        Map("l_quantity" -> degC, "l_tax" -> degC)).toUnits("K").df
    }),
    // ---- as-of join (backward, inclusive): latest prior signup per user
    "q43_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"))
      out(AsofJoin.backward(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        signups, "user_id", "ts", Seq("ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_ts").as("last_signup_ts")))
    }),
    // ---- window functions: trailing rolling mean per event_type
    "q44_rolling_mean" -> ((s, dir) =>
      WindowOps.rollingMean(t(s, dir, "events"), "value", n = 4,
        partitionCols = Seq("event_type"),
        orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("rolling_mean"))),
    // ---- window functions: running total per user
    "q45_running_total" -> ((s, dir) =>
      WindowOps.runningTotal(t(s, dir, "events"), "value",
        partitionCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("running_total"))),
    // ---- A1 (agg_func dict): multi-aggregate ReportData ingest
    "q50_multi_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tidy = ev.select(
        month(col("ts")).as("Month"), dayofmonth(col("ts")).as("Day"),
        hour(col("ts")).as("Hour"), lit(0).as("Minute"),
        lit(0).as("Interval"), col("value").as("Value"),
        lit("J").as("Units"))
      out(ReportData.toAggFrame(tidy,
        Map("sum_value" -> "sum", "mean_value" -> "avg",
          "max_value" -> "max", "n" -> "count"),
        baseYear = 2024, units = Some("J")).df)
    }),
    // ---- relational: Q5-shaped selective multi-join (pushdown showcase)
    "q49_filtered_multijoin" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val cu = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
    }),
    // ---- range join: overlapping cross-user session intervals
    "q46_range_overlap" -> ((s, dir) => {
      val sess = StreamOps.sessionAgg(t(s, dir, "events"), gap = "5 minutes")
        .select(col("user_id"), col("session_start"), col("session_end"))
      RangeJoin.overlapJoin(sess, sess, Seq("user_id"),
          "session_start", "session_end", bucketSec = 3600L)
        .where(col("a_user_id") < col("b_user_id"))
        .groupBy(col("a_user_id"), col("b_user_id"))
        .agg(count(lit(1)).as("n_overlaps"))
    }),
    // ---- window functions: forward-fill of gapped readings (pandas
    // ffill analog; nulls synthesized deterministically on event_id)
    "q88_forward_fill" -> ((s, dir) => {
      val gapped = t(s, dir, "events").withColumn("v",
        when(pmod(col("event_id"), lit(7)) === 0, lit(null))
          .otherwise(col("value")))
      WindowOps.forwardFill(gapped, "v",
        partitionCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("filled"))
    }),
    // ---- equal-width histogram per group (profiling staple): 10 bins
    // over the global [min, max]
    "q89_histogram" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val r = ev.agg(min(col("value")), max(col("value"))).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val width = (hi - lo) / 10.0
      ev.groupBy(col("event_type"),
          least(floor((col("value") - lit(lo)) / lit(width)), lit(9L))
            .cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
    }),
    // ---- window functions: consecutive delta (lag)
    "q52_lag_delta" -> ((s, dir) =>
      WindowOps.delta(t(s, dir, "events"), "value",
        partitionCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("delta"))),
    // ---- distinct aggregation
    "q53_count_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),
    // ---- grouping sets: rollup with deterministic sums
    "q54_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(DetAgg.detSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))),
    // ---- set ops: INTERSECT
    "q56_setops_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.where(col("event_type") === "click").select(col("user_id")).distinct()
        .intersect(ev.where(col("event_type") === "purchase")
          .select(col("user_id")).distinct())
    }),
    // ---- V3 data layer: per-group day × hour matrices
    "q57_day_hour_by_type" -> ((s, dir) =>
      eventsTsSeries(s, dir).toDayHourMatrixBy("event_type")),
    // ---- star-schema rollup touching region → nation → supplier
    "q64_region_rollup" -> ((s, dir) => {
      val reg = t(s, dir, "region")
      val nat = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          DetAgg.detSum(col("s_acctbal")).as("total_acctbal"),
          (DetAgg.detSum(col("s_acctbal")) / count(col("s_acctbal")))
            .as("avg_acctbal"))
    }),
    // ---- part-dimension join: revenue by brand
    "q65_brand_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          DetAgg.detSum(col("l_quantity")).as("total_qty"))
    }),
    // ---- reshape: wide → long melt (inverse of the ingest pivot)
    "q63_melt" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_tax"),
        col("l_discount"))
      EnergyFrame(li, Seq("l_orderkey", "l_linenumber")).melt()
    }),
    // ---- custom typed Aggregator: quantity-weighted mean price
    "q62_weighted_mean" -> ((s, dir) => {
      val wm = udaf(graft.functions.WeightedMean)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(wm(col("l_extendedprice"), col("l_quantity"))
          .as("qty_weighted_price"))
    }),
    // ---- quantiles (exact interpolated percentiles)
    "q55_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.5)").as("price_p50"))),
    // ---- deterministic hash-priority sampling (reproducible pipelines)
    "q58_sample_per_source" -> ((s, dir) =>
      Sampling.samplePerGroup(t(s, dir, "documents"), "source", "doc_id",
        k = 3).select(col("source"), col("doc_id"))),
    // ---- sketches: HLL approximate distinct, gated against the exact
    // distinct count (HLL is deterministic for a given input; the oracle
    // checks the exact counts + the error-bound invariant)
    "q59_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id"), 0.02).as("__approx"))
        .select(col("event_type"), col("n_users"),
          (abs(col("__approx") - col("n_users")).cast("double")
            / col("n_users") <= lit(0.1)).cast("long").as("within_tol"))),
    // ---- relational surface: LEFT SEMI (EXISTS) join
    "q81_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    // ---- relational surface: LEFT ANTI (NOT EXISTS) join
    "q82_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    // ---- relational surface: LEFT OUTER join with aggregated right side
    "q83_left_join" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("__n"),
          DetAgg.detSum(col("o_totalprice")).as("total_spend"))
      t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("__n"), lit(0L)).as("n_orders"),
          col("total_spend"))
    }),
    // ---- relational surface: ranking window functions with explicit
    // tie-breaks (rank / dense_rank / ntile within nation)
    "q84_rank_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      t(s, dir, "supplier").select(col("s_nationkey"), col("s_suppkey"),
        col("s_acctbal"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),
    // ---- data-quality column profile: one aggregate pass computing
    // per-column null/distinct/range stats (the pipeline-observability
    // staple — runs as a single map-side-combinable aggregate)
    "q79_column_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // base stats in ONE pass; each distinct count as its OWN two-stage
      // partial-distinct aggregate (a single multi-distinct aggregate
      // would Expand every input row once per distinct column — a
      // 5× row blowup through the shuffle)
      val baseAggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}_n"),
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        DetAgg.detAvg(col(c)).as(s"${c}_mean")))
      cols.foldLeft(li.agg(baseAggs.head, baseAggs.tail: _*)) { (acc, c) =>
        acc.crossJoin(broadcast(
          li.agg(count_distinct(col(c)).as(s"${c}_distinct"))))
      }
    }),
    // ---- sketches: approximate percentile gated against the exact one
    // (same oracle pattern as q59: the t-digest is deterministic for a
    // given input; the gate pins the error bound)
    "q80_approx_quantile" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("__ap"))
        .select(col("l_returnflag"), round(col("exact_p50"), 6).as("exact_p50"),
          (abs(col("__ap") - col("exact_p50")) / col("exact_p50") <= lit(0.05))
            .cast("long").as("within_tol"))),
    // ---- dedup: exact shared-substring pairs (char-window inverted
    // index — the copied-passage signal token Jaccard dilutes away)
    "q78_shared_substring" -> ((s, dir) =>
      Dedup.sharedSubstringPairs(t(s, dir, "documents"), "text", "doc_id",
        windowLen = 50, minShared = 1, docFreqCap = 1000)),
    // ---- salted skew join through the gate: identical result set to
    // the plain equi-join (the salt fans hot keys across reducers)
    "q76_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      graft.operators.SkewJoin.saltedEquiJoin(li, o, "l_orderkey",
          saltFactor = 8)
        .groupBy(col("o_custkey"))
        .agg(DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
    }),
    // ---- multimodal: resize geometry over REAL decoded dimensions
    "q77_multimodal_resize" -> ((s, dir) => {
      val media = Multimodal.asBmpMedia(t(s, dir, "documents"), "doc_id",
        "text")
      Multimodal.resizePlan(Multimodal.extractFeatures(media, "doc_id"),
          maxDim = 256)
        .select(col("doc_id"), col("width"), col("height"), col("scale"),
          col("out_width"), col("out_height"))
    }),
    // ---- A5 (frame): tumbling-window resample over every value column
    "q74_frame_resample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def cell(typ: String) = {
        val c = when(col("event_type") === typ, col("value"))
        (DetAgg.detSum(c) / count(c)).as(typ)
      }
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
        .agg(cell("click"), cell("view"))
      out(EnergyFrame(hourly, Seq("ts")).resample("1 day").df)
    }),
    // ---- A5 (frame): calendar-month mean per column, month-end labels
    "q75_frame_monthly" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      out(EnergyFrame(li.select(col("l_shipdate").as("ts"),
        col("l_quantity"), col("l_extendedprice")), Seq("ts")).monthly.df)
    }),
    // ---- training-data source mixing: deterministic weighted sample
    // (60/30/... mixture proportions via hash-priority per source)
    "q73_weighted_mix" -> ((s, dir) =>
      Sampling.weightedMix(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        total = 40).select(col("source"), col("doc_id"))),
    // ---- text: fixed-window chunking with overlap
    "q60_chunking" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          explode(TextOps.chunkWords(col("text"), chunkSize = 64,
            overlap = 16)).as("c"))
        .select(col("doc_id"),
          col("c.start_word").cast("long").as("start_word"),
          col("c.chunk_text").as("chunk_text"))
    }),
    // ---- end-to-end corpus curation: dedup → quality → language → chunk
    "q61_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val deduped = docs.withColumn("fp", TextOps.fingerprint(col("text")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")
            .orderBy(col("doc_id").asc)))
        .where(col("rk") === 1).drop("rk", "fp")
      val scored = deduped
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("pred_lang", TextOps.langId(col("text")))
        .where(col("quality") >= 0.5 && col("pred_lang") === "en")
      scored.select(col("doc_id"), col("quality"),
          explode(TextOps.chunkWords(col("text"), 64, 16)).as("c"))
        .select(col("doc_id"), col("quality"),
          col("c.start_word").cast("long").as("start_word"),
          col("c.chunk_text").as("chunk_text"))
    }),
    // ---- dedup groups: connected components over the exact near-dup
    // pairs (hash-min label propagation; one shuffle per round, rounds =
    // graph diameter) — every document labeled with its group's minimum
    // doc_id, singletons with their own id. Oracle = recursive CTE
    // transitive closure over the same pairs.
    "q67_dedup_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponents(pairs, "a", "b")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // ---- bucketed storage layout: write both join sides bucketed by the
    // join key, then join AND aggregate on that key with ZERO Exchange in
    // the physical plan (asserted — the plan guard fails the query if a
    // shuffle sneaks in). This is the pay-the-shuffle-once-at-write-time
    // layout SCALE.md §storage prescribes for repeatedly-joined fact
    // tables; the oracle checks the join result itself.
    "q66_bucketed_join" -> ((s, dir) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_layout " +
        "LOCATION '/tmp/graft_layout_db'")
      // a fresh session's in-memory catalog does not know tables a prior
      // session wrote; drop AND clear the managed locations or the write
      // fails with LOCATION_ALREADY_EXISTS
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rmrf)
        f.delete(); ()
      }
      Seq("lineitem_b", "orders_b").foreach { n =>
        s.sql(s"DROP TABLE IF EXISTS graft_layout.$n")
        rmrf(new java.io.File(s"/tmp/graft_layout_db/$n"))
      }
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      graft.sources.Layout.writeBucketed(li,
        "graft_layout.lineitem_b", "l_orderkey", 8)
      graft.sources.Layout.writeBucketed(o,
        "graft_layout.orders_b", "o_orderkey", 8)
      val j = s.table("graft_layout.lineitem_b").hint("merge")
        .join(s.table("graft_layout.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(min(col("o_custkey")).as("o_custkey"),
          DetAgg.detSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join+agg must be shuffle-free, got:\n$plan")
      j
    }),
    // ---- M1 (hierarchical): Ward-linkage discretize through the same
    // sum-preservation gate as q18 (the assignment itself is pinned by
    // OperatorsSpec's exact-reconstruction test)
    "q71_discretize_hier" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = EnergySeries(
        ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
          .agg(DetAgg.detAvg(col("value")).as("value")), Seq("ts"), "value")
      val disc = Discretize.discretize(hourly, noTypicalPeriods = 3,
        periodLength = 24,
        method = graft.operators.ClusterMethod.Hierarchical)
      val p = disc.df.agg(DetAgg.detSum(col("value")).as("__ps"),
        count(lit(1)).as("n_rows"))
      val o = hourly.df.agg(DetAgg.detSum(col("value")).as("__os"))
      p.crossJoin(o).select(col("n_rows"),
        (abs(col("__ps") - col("__os")) <= lit(0.01))
          .cast("long").as("sums_match"))
    }),
    // ---- stream-stream interval join (attribution shape): purchases
    // matched to same-user clicks within a 10-minute lookback; batch
    // twin of the watermarked streaming join (StreamingSpec)
    "q72_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      out(StreamOps.intervalJoin(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") === "click"),
        "user_id", lookback = "10 minutes"))
    }),
    // ---- text: Gopher-style repetition filters (dup-word fraction,
    // top-bigram fraction) — per-row array expressions, shuffle-free
    "q68_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.repetitionScores(col("text")).as("__r"))
        .select(col("doc_id"), col("__r.dup_word_frac").as("dup_word_frac"),
          col("__r.top_bigram_frac").as("top_bigram_frac"))),
    // ---- corpus vocabulary: top terms by occurrence with doc frequency
    "q69_vocab" -> ((s, dir) => {
      val words = t(s, dir, "documents").select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      words.groupBy("word")
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("word").asc).limit(100)
    }),
    // ---- TF-IDF: each document's top-scoring term (tf × ln(N/df))
    "q70_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      val tf = w.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfq = w.groupBy("word").agg(count_distinct(col("doc_id")).as("dfc"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfq, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tf") * log(col("n").cast("double") / col("dfc")), 6)
            .as("score"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("word").asc)
      scored.withColumn("rn", row_number().over(win)).where(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_term"), col("score"))
    }),
    // ---- end-to-end curation v2: decontaminate against the benchmark
    // set -> transitive dedup groups (keep the group representative) ->
    // quality + repetition + language filter -> chunk. Every stage is an
    // individually-oracled operator; this composes them the way a real
    // training-data pipeline runs them.
    "q87_curation_v2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") < 10)
      val train = docs.where(col("doc_id") >= 10)
      val contaminated = Dedup.contaminatedDocs(train, bench, "text",
        "doc_id", windowLen = 50).select(col("id").as("doc_id"))
      // cached: the decontamination scan (window explode + semi-join) is
      // read by the pair build, the representative join, and the filter
      // chain — recomputing it per consumer tripled the query
      val clean = Lineage.keep(
        train.join(contaminated, Seq("doc_id"), "left_anti"))
      val pairs = Dedup.ngramJaccardPairsPrefix(clean, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponents(pairs, "a", "b")
        .withColumnRenamed("id", "doc_id")
      val reps = clean.join(comp, Seq("doc_id"), "left")
        .where(col("component").isNull || col("component") === col("doc_id"))
        .drop("component")
      val scored = reps
        .withColumn("__r", TextOps.repetitionScores(col("text")))
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .where(col("quality") >= 0.5 &&
          col("__r.top_bigram_frac") <= 0.2 &&
          TextOps.langId(col("text")) === "en")
      scored.select(col("doc_id"),
          explode(TextOps.chunkWords(col("text"), 64, 16)).as("c"))
        .select(col("doc_id"),
          col("c.start_word").cast("long").as("start_word"),
          col("c.chunk_text").as("chunk_text"))
    }),
    // ---- embedding centroids per label (dimension-wise mean, long form)
    "q90_embed_centroid" -> ((s, dir) =>
      Similarity.groupCentroids(t(s, dir, "embeddings"), "label",
        "embedding")),
    // ---- L2 normalization invariants: first normalized component + the
    // post-normalization norm (≡ 1 up to rounding) per vector
    "q91_l2_normalize" -> ((s, dir) => {
      val nv = Similarity.l2Normalize(col("embedding"))
      t(s, dir, "embeddings").select(col("vec_id"),
        round(element_at(nv, 1), 6).as("c1"),
        round(Similarity.l2Norm(nv), 6).as("unit_norm"))
    }),
    // ---- equal-frequency (decile) binning over a distributed rank
    "q95_eqfreq_bins" -> ((s, dir) =>
      WindowOps.equalFrequencyBins(t(s, dir, "lineitem"), "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), k = 10)),
    // ---- regex occurrence profile (PII/keyword scan; RE2-safe patterns)
    "q92_pattern_profile" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id") +: TextOps.patternProfile(col("text"), ProfilePatterns): _*)),
    // ---- deterministic stratified train/val/test split (hash bands)
    "q93_stratified_split" -> ((s, dir) =>
      Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq(("train", 80), ("val", 90), ("test", 100)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),
    // ---- rolling z-score anomaly detection (trailing-window baseline)
    "q94_anomaly_zscore" -> ((s, dir) =>
      WindowOps.anomalyZScore(t(s, dir, "events"), "value",
          Seq("event_type"), Seq("ts", "event_id"),
          n = 48, minPeriods = 12, z = 3.0)
        .select(col("event_id"), col("value"), col("zscore"),
          col("is_anomaly"))),
    // ---- chunk-parallel twin of q94: same trailing z-score, built for
    // low-cardinality keys where a keyed window serializes (5 event
    // types = 5 single-threaded sorts at any cluster size). Global
    // per-key ordinals via range partitions + (pid, key) row_number +
    // driver prefix-sum offsets; buckets replicate their last n rows
    // into the next bucket so every frame is complete. Bit-identical to
    // the single-window plan — shares q94's oracle SQL verbatim.
    // bucketRows=4096 forces ~15 buckets per key at sf0.01, so the
    // chunked path (not a degenerate single bucket) is what the oracle
    // certifies.
    "q183_zscore_chunked" -> ((s, dir) =>
      WindowOps.anomalyZScoreChunked(t(s, dir, "events"), "value",
          Seq("event_type"), Seq("ts", "event_id"),
          n = 48, minPeriods = 12, z = 3.0, bucketRows = 4096)
        .select(col("event_id"), col("value"), col("zscore"),
          col("is_anomaly"))),
    // ---- pandas ewm analog: truncated exponentially-weighted mean
    "q96_ewm" -> ((s, dir) =>
      WindowOps.ewmMean(t(s, dir, "events"), "value", Seq("event_type"),
          Seq("ts", "event_id"), alpha = 0.35, window = 16)
        .select(col("event_id"), col("value"), col("ewm"))),
    // ---- token-budget sequence packing into training batches
    "q97_pack_budget" -> ((s, dir) =>
      Sampling.packByBudget(t(s, dir, "documents"), "source", "doc_id",
          "n_chars", budget = 16000L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_tokens"))),
    // ---- connected components via alternating large-star/small-star
    // contraction (log²-round convergence on ANY graph shape) — same
    // result set as q67's hash-min propagation, same recursive-CTE oracle
    "q98_cc_star" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponentsStar(pairs, "a", "b")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // ---- exact Jaccard pairs via PPJoin prefix filtering: the full
    // true-Jaccard pair set (no df-cap exclusion), skew-safe because only
    // each doc's rarest shingles are indexed
    "q99_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "text",
        "doc_id", shingleLen = 3, minJaccard = 0.5)),
    // ---- pandas df.corr() analog: pairwise-complete Pearson matrix
    "q100_frame_corr" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def cell(typ: String) =
        (sum(when(col("event_type") === typ, col("value")).cast(DetAgg.Dec))
          .cast("double") /
          count(when(col("event_type") === typ, col("value")))).as(typ)
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
        .agg(cell("click"), cell("view"), cell("purchase"))
      EnergyFrame(hourly, Seq("ts")).corrMatrix()
    }),
    // ---- group-wise OLS fit: value vs hour-of-day per event type
    "q101_group_regression" -> ((s, dir) =>
      Analytics.groupLinearRegression(t(s, dir, "events"),
        Seq("event_type"), hour(col("ts")).cast("double"), col("value"))),
    // ---- winnowing fingerprints: the SIGMOD'03 scale path for
    // substring dedup (min-hash-per-window keeps ~2/(w+1) of the index)
    "q102_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowedFingerprintPairs(t(s, dir, "documents"), "text",
        "doc_id", k = 16, w = 8, minShared = 1, docFreqCap = 1000)),
    // ---- custom state: running z-score anomaly stream (batch mode —
    // the expanding-window twin of q94, same fold as the streaming path)
    "q103_stream_anomaly" -> ((s, dir) =>
      graft.streaming.StreamAnomaly.batch(t(s, dir, "events")).toDF()),
    // ---- unigram LM quality score (CCNet-style): mean log-probability
    // of each document's words under the corpus unigram distribution
    "q104_lm_score" -> ((s, dir) => {
      val words = t(s, dir, "documents").select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      val freq = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt"))).head().getLong(0)
      words.join(freq, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(DetAgg.detAvg(
            log(col("cnt").cast("double") / lit(total.toDouble))), 6)
            .as("logprob"))
    }),
    // ---- corpus drift: per-source KL divergence of the word
    // distribution vs the global one
    "q105_source_kl" -> ((s, dir) => {
      val words = t(s, dir, "documents").select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      val sw = words.groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
      val perSource = sw.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
      val perWord = sw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
      val n = perSource.agg(sum(col("n_s"))).head().getLong(0)
      val p = col("c_sw").cast("double") / col("n_s").cast("double")
      val q = col("c_w").cast("double") / lit(n.toDouble)
      sw.join(broadcast(perSource), "source").join(perWord, "word")
        .groupBy("source")
        .agg(round(DetAgg.detSum(p * log(p / q)), 6).as("kl_divergence"))
    }),
    // ---- pandas interpolate() analog over a masked value column
    "q106_interpolate" -> ((s, dir) => {
      val masked = t(s, dir, "events").withColumn("v",
        when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("double"))
          .otherwise(col("value")))
      WindowOps.interpolateLinear(masked, "v", Seq("event_type"),
          Seq("ts", "event_id"))
        .select(col("event_id"),
          (pmod(col("event_id"), lit(7)) === 0).cast("long").as("was_masked"),
          col("interp"))
    }),
    // ---- per-group ACF at lags 1..3 (seasonality / burstiness signal)
    "q107_autocorr" -> ((s, dir) =>
      Analytics.autocorrelation(t(s, dir, "events"), "value",
        Seq("event_type"), Seq("ts", "event_id"), Seq(1, 2, 3))),
    // ---- per-doc word-distribution Shannon entropy (quality signal)
    "q108_entropy" -> ((s, dir) =>
      Analytics.docEntropy(t(s, dir, "documents"), "doc_id", "text")),
    // ---- corpus Zipf fit: ln(freq) ~ ln(rank) OLS over the vocabulary
    "q109_zipf" -> ((s, dir) =>
      Analytics.zipfSlope(t(s, dir, "documents"), "text")),
    // ---- per-group quantile normalization (mid-rank uniformization)
    "q110_quantile_norm" -> ((s, dir) =>
      Analytics.quantileNormalize(t(s, dir, "lineitem"), "l_extendedprice",
          Seq("l_returnflag"), Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("quantile"))),
    // ---- missing-interval detection: gaps > 2x the group's mean spacing
    "q111_gap_detect" -> ((s, dir) =>
      out(Analytics.gapDetect(t(s, dir, "events"), "ts", Seq("event_type"),
        Seq("event_id"), factor = 2.0))),
    // ---- robust outliers: median absolute deviation report per group
    "q112_mad_outlier" -> ((s, dir) =>
      Analytics.madOutliers(t(s, dir, "events"), "value",
        Seq("event_type"), cutoff = 3.0)),
    // ---- edit-distance near-dup pairs (blocked levenshtein kernel)
    "q113_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "text", "doc_id",
        maxDist = 20, prefixLen = 64, bandWidth = 8, anchorLen = 8)),
    // ---- OLAP cube: all grouping-set rollups in one pass
    "q114_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(DetAgg.detSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          (grouping(col("l_returnflag")) * 2 +
            grouping(col("l_linestatus"))).cast("long").as("gid"))),
    // ---- join-key skew report: the pre-flight diagnostic for a 100 TB
    // join (hottest-key share + Gini of the key-frequency distribution)
    "q115_skew_report" -> ((s, dir) =>
      Analytics.keySkewReport(t(s, dir, "events"), "user_id")),
    // ---- sentence-level boilerplate share (cross-doc verbatim sentences)
    "q116_sentence_dedup" -> ((s, dir) =>
      Dedup.duplicateSentenceStats(t(s, dir, "documents"), "text",
        "doc_id")),
    // ---- robust scaling: (x - median) / IQR per group
    "q117_robust_scale" -> ((s, dir) => {
      val st = t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("__med"),
          round(expr("percentile(value, 0.75) - percentile(value, 0.25)"),
            6).as("__iqr"))
      t(s, dir, "events").join(broadcast(st), "event_type")
        .select(col("event_id"), col("event_type"),
          when(col("__iqr") =!= 0.0,
            round((col("value") - col("__med")) / col("__iqr"), 6))
            .as("scaled"))
    }),
    // ---- sorted-neighborhood candidate pairs (rank-window blocking)
    "q118_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), "text",
        "doc_id", window = 10, keyLen = 30, prefixLen = 64, maxDist = 20)),
    // ---- word co-occurrence PMI (collocation mining)
    "q119_pmi" -> ((s, dir) =>
      Analytics.pmiPairs(t(s, dir, "documents"), "text", "doc_id",
        minCount = 3, maxWordsPerDoc = 100)),
    // ---- CDC-style compaction: latest record per key
    "q120_latest_by_key" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      out(t(s, dir, "events")
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))
    }),
    // ---- PII redaction: scrub emails + long digit runs, count hits
    "q121_redact" -> ((s, dir) => {
      val emailRe = ProfilePatterns.find(_._1 == "email").get._2
      val numRe = "[0-9]{6,}"
      t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(numRe), lit(0)))
          .cast("long").as("n_longnums"),
        md5(regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          numRe, "<NUM>")).as("redacted_md5"))
    }),
    // ---- deterministic global corpus shuffle (training order): hash
    // order via distributedRank — scale-safe, seed-reproducible
    "q122_corpus_shuffle" -> ((s, dir) => {
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit("shuf42")))
          .as("hk"))
      Analytics.distributedRank(keyed,
          Seq(col("hk").asc, col("doc_id").asc), rankCol = "position")
        .select(col("position"), col("doc_id"))
    }),
    // ---- perplexity-style quality cut: keep docs at or above their
    // source's median unigram-LM score (the q104 signal as a filter)
    "q123_lm_filter" -> ((s, dir) => {
      val words = t(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      val freq = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt"))).head().getLong(0)
      val lp = words.join(freq, "word")
        .groupBy("doc_id", "source")
        .agg(round(DetAgg.detAvg(
          log(col("cnt").cast("double") / lit(total.toDouble))), 6)
          .as("logprob"))
      val med = lp.groupBy("source")
        .agg(round(expr("percentile(logprob, 0.5)"), 6).as("__med"))
      lp.join(broadcast(med), "source")
        .where(col("logprob") >= col("__med"))
        .select(col("doc_id"), col("source"), col("logprob"))
    }),
    // ---- two-level re-aggregation (the materialized-view pattern):
    // daily partials roll up to monthly EXACTLY — DetAgg's decimal sums
    // are associative, so the oracle is the DIRECT monthly aggregate
    "q124_partial_reagg" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(DetAgg.detSum(col("value")).as("day_sum"),
          count(col("value")).as("day_n"))
      daily.groupBy(col("event_type"),
          trunc(col("day"), "month").as("month"))
        .agg(round(DetAgg.detSum(col("day_sum")), 6).as("sum_value"),
          sum(col("day_n")).as("n"))
    }),
    // ---- ordered conversion funnel (view -> click -> purchase, each
    // stage strictly after the previous and within a 3-day deadline;
    // exact integer-µs compares)
    "q125_funnel" -> ((s, dir) => {
      val lim = 259200000000L // 3 days in µs
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val s1 = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("us"))).as("t1"))
      val s2 = ev.join(s1, "user_id").groupBy(col("user_id"), col("t1"))
        .agg(min(when(col("event_type") === "click" &&
          col("us") > col("t1") && col("us") <= col("t1") + lim,
          col("us"))).as("t2"))
      val s3 = ev.join(s2, "user_id").groupBy(col("user_id"), col("t1"),
          col("t2"))
        .agg(min(when(col("event_type") === "purchase" &&
          col("us") > col("t2") && col("us") <= col("t2") + lim,
          col("us"))).as("t3"))
      s3.agg(count(col("t1")).as("n_viewed"),
        count(col("t2")).as("n_clicked"),
        count(col("t3")).as("n_purchased"))
    }),
    // ---- SCD/CDC upsert merge (the MERGE INTO shape): one full-outer
    // key join + column coalesce; updates win, inserts pass through
    "q126_upsert_merge" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val updates = base.where(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * lit(1.1), 6).as("o_totalprice"),
          lit("R").as("o_orderstatus"))
        .unionByName(base.where(pmod(col("o_orderkey"), lit(17)) === 0)
          .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus")))
      val u = updates.columns.foldLeft(updates) { (d, c) =>
        d.withColumnRenamed(c, s"u_$c")
      }
      base.join(u, col("o_orderkey") === col("u_o_orderkey"),
          "full_outer")
        .select(
          coalesce(col("u_o_orderkey"), col("o_orderkey")).as("o_orderkey"),
          coalesce(col("u_o_custkey"), col("o_custkey")).as("o_custkey"),
          coalesce(col("u_o_totalprice"), col("o_totalprice"))
            .as("o_totalprice"),
          coalesce(col("u_o_orderstatus"), col("o_orderstatus"))
            .as("o_orderstatus"),
          col("u_o_orderkey").isNotNull.cast("long").as("was_upserted"))
    }),
    // ---- graph analytics: triangle count over the shared-substring
    // dedup graph (x<y<z ordering counts each triangle exactly once;
    // two edge-keyed equi-joins, no cartesian — the edge-iterator shape)
    "q127_triangles" -> ((s, dir) => {
      // the edge set feeds FOUR plan branches (e1/e2/e3 + the edge
      // count); without the persist each branch re-runs the whole
      // inverted-index pair build (measured 4.6 s vs 2.4 s at sf0.1).
      // Bench/Verify release it between queries.
      val e = Lineage.keep(Dedup.sharedSubstringPairs(
        t(s, dir, "documents"), "text", "doc_id", windowLen = 50,
        minShared = 1, docFreqCap = 1000).select(col("a"), col("b")))
      val e1 = e.select(col("a").as("x"), col("b").as("y"))
      val e2 = e.select(col("a").as("y"), col("b").as("z"))
      val e3 = e.select(col("a").as("x"), col("b").as("z"))
      val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
        .agg(count(lit(1)).as("n_triangles"))
      e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
    }),
    // ---- per-dimension embedding quantiles (drift / collapse check)
    "q128_dim_quantiles" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy((col("i") + 1).cast("long").as("dim"))
        .agg(round(expr("percentile(CAST(v AS DOUBLE), 0.5)"), 6).as("p50"),
          round(min(col("v")).cast("double"), 6).as("vmin"),
          round(max(col("v")).cast("double"), 6).as("vmax"),
          round(DetAgg.detAvg(col("v").cast("double")), 6).as("vmean"))),
    // ---- custom state: streaming upsert view, batch mode (the stateful
    // twin of q120 — one O(1) record of state per key)
    "q129_stream_latest" -> ((s, dir) =>
      graft.streaming.StreamLatest.batch(t(s, dir, "events")).toDF()),
    // ---- embedding class-separation report: mean distance of each
    // vector to its label centroid (collapse / mislabel diagnostic)
    "q130_label_separation" -> ((s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "v0")))
        .withColumn("v", col("v0").cast("double"))
      val cent = dims.groupBy(col("label"), col("i"))
        .agg(DetAgg.detAvg(col("v")).as("c"))
      val d2 = dims.join(cent, Seq("label", "i"))
        .groupBy(col("vec_id"), col("label"))
        .agg(DetAgg.detSum((col("v") - col("c")) * (col("v") - col("c")))
          .as("d2"))
      d2.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(DetAgg.detAvg(sqrt(col("d2"))), 6).as("mean_dist"))
    }),
    // ---- per-day approximate distinct users, error-gated (the q59
    // sketch under a time window — the dashboard cardinality shape)
    "q131_window_distinct" -> ((s, dir) =>
      out(t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id"), 0.02).as("__approx"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_users"),
          (abs(col("__approx") - col("n_users")).cast("double")
            / col("n_users") <= lit(0.1)).cast("long").as("within_tol")))),
    // ---- the reference's own workflow end-to-end: time series →
    // daily resample → min-max normalize (S1→A5→P8 composed)
    "q132_energy_pipeline" -> ((s, dir) =>
      out(eventsTsSeries(s, dir).resample("1 day").normalize().df)),
    // ---- pandas rolling(n).corr() analog: trailing-24h correlation of
    // the click and view hourly profiles
    "q133_rolling_corr" -> ((s, dir) =>
      out(WindowOps.rollingCorrelation(hourlyXY(s, dir), "x", "y",
          n = 24, partitionCols = Seq(), orderCols = Seq("ts"))
        .select(col("ts"), col("roll_corr")))),
    // ---- cross-correlation at leads 0..3: does click activity LEAD
    // view activity? (the lagged-driver diagnostic; ACF's two-series twin)
    "q134_xcorr" -> ((s, dir) =>
      Analytics.crossCorrelation(hourlyXY(s, dir), "x", "y",
        partitionCols = Seq(), orderCols = Seq("ts"),
        leads = Seq(0, 1, 2, 3))),
    // ---- pandas rolling(n).quantile(0.5) analog: trailing-24 median
    // per event type (robust smoothing band)
    "q135_rolling_median" -> ((s, dir) =>
      WindowOps.rollingQuantile(t(s, dir, "events"), "value", q = 0.5,
          n = 24, Seq("event_type"), Seq("ts", "event_id"),
          as = "roll_median")
        .select(col("event_id"), col("event_type"), col("roll_median"))),
    // ---- dedup-group size histogram (how big are the duplicate
    // clusters? — the dedup-health dashboard number)
    "q136_component_sizes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponents(pairs, "a", "b")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(coalesce(col("component"), col("doc_id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_components"))
    }),
    // ---- representative selection: keep the HIGHEST-QUALITY doc of
    // each duplicate group (not min-id) — the curation-grade dedup keep
    "q137_best_rep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponents(pairs, "a", "b")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("component"), col("doc_id"), col("quality"))
    }),
    // ---- approximate query processing: deterministic 10% hash sample
    // estimates the mean; estimator and truth in one pass, reproducible
    // on any engine (the md5 band IS the sample definition)
    "q138_aqp_sample" -> ((s, dir) => {
      val band = conv(substring(md5(concat(col("event_id").cast("string"),
        lit("aqp"))), 1, 8), 16, 10).cast("long") % 100
      val in = band < 10
      t(s, dir, "events").agg(
        count(when(in, lit(1))).as("n_sample"),
        round(DetAgg.detSum(when(in, col("value")))
          / count(when(in, col("value"))), 6).as("est_mean"),
        round(DetAgg.detAvg(col("value")), 6).as("exact_mean"))
    }),
    // ---- user-journey serialization: each user's time-ordered event
    // sequence as one text row (behavioral-LM training shape). The
    // struct array sorts by (us, event_id) — total order, so the
    // serialized string is partition-independent.
    "q139_journey" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(array_join(transform(array_sort(collect_list(
            struct(col("us"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), " ").as("journey"),
          count(lit(1)).as("n_events"))),
    // ---- engagement retention: DAU / trailing-7-day WAU (stickiness).
    // The day spine is tiny at any scale -> broadcast to the day-range
    // join; per-(day, user) distinct happens BEFORE the fan-out.
    "q140_retention" -> ((s, dir) => {
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = du.select(col("day")).distinct()
      val wau = broadcast(days)
        .join(du.withColumnRenamed("day", "d2"),
          col("d2").between(date_sub(col("day"), 6), col("day")))
        .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
    }),
    // ---- PQ + ADC + exact re-rank ANN (Jégou TPAMI'11): the memory-
    // side companion to IVF routing, recall-gated vs the exact top-k
    // (cosine is scale-invariant, so the L2-normalized PQ ranking and
    // the raw-vector exact ranking target the same neighbor set)
    "q141_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val nemb = emb.select(col("vec_id"),
        Similarity.l2Normalize(col("embedding")).as("embedding"))
      val nq = nemb.where(col("vec_id") < 10)
      recallGate(
        Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 5),
        Similarity.pqTopK(nemb, nq, "vec_id", "embedding", k = 5,
          m = 16, nbits = 4, shortlist = 50),
        Seq("query_id", "neighbor_id"), threshold = 0.6) // measured 0.90
    }),
    // ---- custom state: streaming funnel, batch mode (the stateful
    // stream twin of q125 — same staged-min semantics, O(1)/key state)
    "q142_stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamFunnel
        .batch(t(s, dir, "events"), deadlineUs = 259200000000L).toDF()
        .agg(count(col("t1")).as("n_viewed"),
          count(col("t2")).as("n_clicked"),
          count(col("t3")).as("n_purchased"))),
    // ---- BM25 ranked retrieval (Okapi, +1-idf): top-10 docs for a
    // fixed probe query — the targeted-curation / contamination-audit
    // search primitive
    "q143_bm25" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), "text",
        "doc_id", Seq("spark", "hash", "merge"), k = 10)),
    // ---- PageRank mass by power iteration on the undirected
    // supplier–part co-occurrence graph (BSP rounds: one edge join +
    // one hash agg each; quantized fixed-point keeps the gate exact)
    "q144_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Graph.pageRankMass(
        li.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")),
        "src", "dst", iters = 10)
    }),
    // ---- community detection: deterministic synchronous label
    // propagation over the supplier–part co-purchase graph (the q144
    // graph) — 4 fixed rounds, smallest-label ties, unrollable oracle
    "q222_label_propagation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Graph.labelPropagation(
        li.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")),
        "src", "dst", iters = 4)
    }),
    // ---- near-dup communities: LPA over the exact PPJoin pair graph
    // -> label histogram (q136's CC sizes, finer-grained: LPA splits
    // weakly-bridged chains CC merges)
    "q223_neardup_communities" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"),
        "text", "doc_id", shingleLen = 3, minJaccard = 0.5,
        docFreqCap = 1000)
      graft.operators.Graph.labelPropagation(
          pairs.select(col("a"), col("b")), "a", "b", iters = 4)
        .groupBy("label").agg(count(lit(1)).as("n_members"))
    }),
    // ---- deterministic training-shard layout: reproducible
    // pseudo-random global order (md5 of the id), a new shard every
    // 5000 tokens of running weight — the output-layout step between
    // selection and the trainer's data loader
    "q224_shard_assign" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      Sampling.shardAssign(docs, "doc_id", "n_tokens",
        shardWeight = 5000L)
    }),
    // ---- CURRICULUM shard layout: documents stream into shards in
    // (n_chars, id) order — shortest-first, the classic
    // easy-to-hard schedule — so a trainer consuming shards in order
    // gets the curriculum for free. Same greedy crossing rule and
    // running-sum machinery as q224's hash layout.
    "q258_curriculum_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"),
        col("n_chars"))
      Sampling.shardAssignOrdered(docs, "doc_id", "n_tokens",
        orderCol = "n_chars", shardWeight = 5000L)
    }),
    // ---- weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES) — hash-derived uniforms, so the draw is reproducible AND
    // oracle-checkable; chars-weighted 5 docs per source
    "q145_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSamplePerGroup(t(s, dir, "documents"), "source",
        "doc_id", "n_chars", k = 5)
        .select(col("source"), col("doc_id"))),
    // ---- count-min sketch heavy-hitter audit: the mergeable-sketch
    // aggregate (fixed d×w state at any cardinality) point-checked
    // against the exact top-10 under the CMS bounds
    "q146_cms_heavy" -> ((s, dir) =>
      graft.operators.Sketches.cmsHeavyHitterGate(t(s, dir, "events"),
        "user_id", topK = 10)),
    // ---- bloom-filter decontamination (broadcast-membership scale path
    // of q86): zero-false-negative gate vs the exact window join
    "q147_bloom_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") >= 10)
      val bench = docs.where(col("doc_id") < 10)
      val exact = Dedup.contaminatedDocs(train, bench, "text", "doc_id")
      val flagged = graft.operators.Sketches.bloomContaminatedDocs(
        train, bench, "text", "doc_id")
      exact.join(flagged.select(col("id"), lit(1).as("__f")),
          Seq("id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (count(lit(1)) - coalesce(sum(col("__f")), lit(0)))
            .cast("long").as("n_missed"))
    }),
    // ---- CUSUM change detection over the hourly series per event type
    // (non-linear recurrence -> per-group bounded fold, recursive-CTE
    // oracle replays the identical quantized steps)
    "q148_cusum" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(DetAgg.detAvg(col("value")), 6).as("v"))
      Analytics.cusumReport(hourly, "v", Seq("event_type"), "hr",
        target = 60.0, threshold = 200.0)
    }),
    // ---- tokenizer-sizing curve: top-50 vocabulary with cumulative
    // corpus coverage (one vocab shuffle + TakeOrdered; the window runs
    // over 50 rows, never the corpus)
    "q149_vocab" -> ((s, dir) =>
      graft.operators.Curation.vocabCoverage(t(s, dir, "documents"),
        "text", topK = 50)),
    // ---- OLAP rollup with grouping flags: per-(flag, status) quantity
    // totals plus both subtotal levels in ONE pass (Spark expands the
    // grouping sets map-side; no per-level rescan)
    "q150_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(DetAgg.detSum(col("l_quantity")), 6).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("sum_qty"), col("n"))),
    // ---- blocklist scrubbing: token-exact masking + per-doc hit
    // counts, pure per-row lambda expressions (zero shuffle)
    "q151_blocklist" -> ((s, dir) =>
      graft.operators.Curation.blocklistScrub(t(s, dir, "documents"),
        "text", "doc_id", Seq("customer", "key", "value"))),
    // ---- cross-document span duplication: fraction of each doc's
    // distinct 5-grams shared with >=2 docs (exact-substring-dedup
    // signal; counters on the gram key, no pair blowup)
    "q152_span_dup" -> ((s, dir) =>
      graft.operators.Curation.spanDuplication(t(s, dir, "documents"),
        "text", "doc_id", n = 5, minDf = 2)),
    // ---- duplicated-span REMOVAL (Lee et al. '22 remove-the-span
    // dedup): tokens covered by any cross-doc duplicated 5-gram are
    // excised, the rest re-joined in order
    "q189_span_scrub" -> ((s, dir) =>
      graft.operators.Curation.spanScrub(t(s, dir, "documents"),
        "text", "doc_id", n = 5, minDf = 2)),
    // ---- resample-to-hourly-grid with time-weighted linear
    // interpolation (pandas .resample("h").interpolate("time") analog)
    "q153_resample_interp" -> ((s, dir) =>
      out(WindowOps.resampleInterpolate(t(s, dir, "events"), "ts",
        "value", Seq("event_type"), freq = "hour"))),
    // ---- blocked fuzzy matching (record linkage): part names sharing
    // their noun block within Levenshtein distance 3
    "q154_fuzzy_match" -> ((s, dir) =>
      graft.operators.Curation.fuzzyNamePairs(t(s, dir, "part"),
        "p_name", maxDist = 3)),
    // ---- first-seen dedup, batch twin of StreamDedup.streaming (the
    // replay-safe ingest gate; one keyed window, state O(1)/key)
    "q155_first_seen" -> ((s, dir) =>
      out(graft.streaming.StreamDedup.batch(t(s, dir, "events")))),
    // ---- streaming ingest-time decontamination, batch mode (the
    // stateless-filter twin of q86's batch scrub: same window sets via
    // the rolling-hash scan, bench side collected once and closed over
    // — the plan runs identically over readStream input, spec-asserted)
    "q184_stream_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.streaming.StreamDecon.batch(
          docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
          "text")
        .select(col("doc_id"))
    }),
    // ---- mergeable-quantile-sketch gate: approx_percentile (the fixed
    // -state sketch that replaces the exact sort at 100 TB) checked
    // against the exact interpolated median per event type
    "q156_quantile_gate" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("median"),
          approx_percentile(col("value"), lit(0.5), lit(10000))
            .as("__apx"))
        .select(col("event_type"), col("median"),
          (abs(col("__apx") - col("median")) <= lit(1.0)).cast("long")
            .as("sketch_ok"))),
    // ---- CDC snapshot diff: added/removed/changed keys between two
    // snapshot views, one co-partitioned full-outer join
    "q157_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.where(col("o_orderkey") % 97 =!= 0)
      val newSnap = orders.where(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Analytics.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_totalprice"))
    }),
    // ---- data-mixing budget: per source keep the longest docs until
    // half the source's char mass is spent (one keyed window pass)
    "q158_domain_budget" -> ((s, dir) =>
      graft.operators.Curation.budgetedSelect(t(s, dir, "documents"),
        "source", "doc_id", rankCol = "n_chars", weightCol = "n_chars",
        share = 0.5)),
    // ---- contrastive hard-negative mining: top-5 most-similar
    // DIFFERENT-label neighbors per query vector
    "q159_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5)
    }),
    // ---- one-pass column profiler (n / nulls / exact distinct /
    // min / max per column, unpivoted)
    "q160_profile" -> ((s, dir) =>
      Analytics.profileColumns(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),
    // ---- classical seasonal decomposition of the hourly series:
    // centered-MA trend, zero-mean daily seasonal, residual
    "q161_decompose" -> ((s, dir) => {
      // floor-quantized mean (not round()) — the whole decomposition is
      // closed under IEEE doubles, see classicalDecompose
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg((floor(DetAgg.detAvg(col("value")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("v"))
      out(Analytics.classicalDecompose(hourly, "hr", "v",
        Seq("event_type"), period = 24))
    }),
    // ---- entity resolution end-to-end: blocked fuzzy pairs ->
    // connected components (star contraction handles name CHAINS,
    // where plain hash-min would need diameter rounds) -> cluster id
    // per distinct name, singletons self-labelled
    "q162_entity_clusters" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val pairs = graft.operators.Curation.fuzzyNamePairs(part, "p_name",
        maxDist = 3)
      val comp = Dedup.duplicateComponentsStar(pairs, "name_a", "name_b")
      part.select(col("p_name").as("name")).distinct()
        .join(comp.withColumnRenamed("id", "name"), Seq("name"), "left")
        .select(col("name"),
          coalesce(col("component"), col("name")).as("cluster"))
    }),
    // ---- star-schema revenue rollup: lineitem⋈orders co-partitioned
    // shuffle joins, nation broadcast, one hash agg (the 100 TB join
    // plan: big-big on the key, small dims broadcast)
    "q163_star_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(round(DetAgg.detSum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 6).as("revenue"),
          count(lit(1)).as("n_items"))),
    // ---- outlier-robust clipping at the group's [p5, p95] band
    "q164_winsorize" -> ((s, dir) =>
      Analytics.winsorize(t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")),
        "value", Seq("event_type"), lo = 0.05, hi = 0.95)),
    // ---- first-order Markov transitions: what users do next, with
    // row-normalized probabilities (one lag window + one hash agg)
    "q165_transitions" -> ((s, dir) =>
      Analytics.transitionMatrix(t(s, dir, "events"), "event_type",
        Seq("user_id"), Seq("ts", "event_id"))),
    // ---- binary-segmentation changepoint: the split maximizing the
    // mean gap per event type, from running sums (no per-split rescan)
    "q166_changepoint" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg((floor(DetAgg.detAvg(col("value")) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("v"))
      Analytics.changepointTop(hourly, "v", Seq("event_type"), Seq("hr"))
    }),
    // ---- quantity-weighted price median per return flag (lower
    // weighted median -- the discrete, engine-exact rule)
    "q167_weighted_median" -> ((s, dir) =>
      Analytics.weightedMedian(t(s, dir, "lineitem"), "l_extendedprice",
        "l_quantity", Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber"))),
    // ---- PCA eigen-spectrum of the embedding corpus: one distributed
    // Gram pass + driver eigSym on the d×d covariance (spark.ml's own
    // shape), emitted as the invariant gate (trace preservation +
    // monotone non-negative spectrum) since cross-partition double
    // reduction is not bit-stable
    "q168_pca_gate" -> ((s, dir) =>
      Similarity.pcaGate(t(s, dir, "embeddings"), "embedding")),
    // ---- last-touch attribution: each purchase credits the user's
    // most recent click within a 7-day lookback (as-of join + window
    // guard); clicks pre-deduped per (user, ts) so ties are unique
    "q169_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      out(AsofJoin.backward(purchases, clicks, "user_id", "ts",
          Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("r_ts") >= col("ts") - expr("interval 7 days"),
            col("r_click_id")).as("attributed_click")))
    }),
    // ---- weekly cohort retention matrix: users bucketed by first-seen
    // ISO week, distinct-user counts per (cohort, week offset)
    "q170_cohorts" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id")
        .agg(min(col("wk")).as("cohort_wk"))
      uw.join(cohort, "user_id")
        .withColumn("wk_offset",
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("long"))
        .groupBy("cohort_wk", "wk_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),
    // ---- Jaro-Winkler fuzzy scoring via the native codegen'd
    // expression (Spark ships only levenshtein): blocked name pairs
    // scored and thresholded, exact DuckDB-variant parity
    "q171_jaro_winkler" -> ((s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name"))
        .distinct()
        .withColumn("__blk", element_at(split(col("name"), " "), -1))
      val a = names.select(col("__blk"), col("name").as("name_a"))
      val b = names.select(col("__blk"), col("name").as("name_b"))
      a.join(b, "__blk").where(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          round(graft.functions.JaroWinklerAlgo.jaroWinkler(
            col("name_a"), col("name_b")), 6).as("jw"))
        .where(col("jw") >= 0.8)
    }),
    // ---- native bounded-heap top-k aggregate (TypedImperativeAggregate
    // under ObjectHashAggregate): only k rows per (task, group) cross
    // the shuffle — the scale form of the row_number window idiom
    "q172_native_topk" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(graft.functions.TopKAgg.topK(col("value"), col("event_id"),
          10).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("i", "r")))
        .select(col("event_type"), (col("i") + 1).cast("long").as("rank"),
          col("r.id").as("event_id"), col("r.score").as("value"))),
    // ---- explicit GROUPING SETS (neither rollup nor cube): the two
    // one-dimension marginals plus the grand total in one pass
    "q173_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("__li_gs")
      s.sql(s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  round(${dSum("l_quantity")}, 6) AS sum_qty,
        |  count(1) AS n
        |FROM __li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin)
    }),
    // ---- pandas rank(pct=True) analog: percent_rank + cume_dist per
    // event type over the value (unique tie-break via event_id)
    "q174_pct_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, dir, "events").select(col("event_id"), col("event_type"),
        (floor(percent_rank().over(w) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("pct_rank"),
        (floor(cume_dist().over(w) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("cume"))
    }),
    // ---- gaps-and-islands: longest consecutive-active-day streak per
    // user (the rn-difference trick — one keyed window, no self-join)
    "q175_longest_streak" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("__grp", datediff(col("day"), lit("1970-01-01")) -
          row_number().over(w))
        .groupBy(col("user_id"), col("__grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"))
    }),
    // ---- deterministic per-group mode: most frequent event_type per
    // user, ties to the lexicographically smallest (DuckDB's mode()
    // leaves ties unspecified — both sides use the explicit form)
    "q176_mode" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"),
          col("n"))
    }),
    // ---- S3/A1 agg_func CALLABLE form: an arbitrary user Aggregator
    // (here: per-hour value spread) injected through from_reportdata —
    // the reference accepts any callable as agg_func; the typed
    // Aggregator runs partial/final like a builtin
    "q177_agg_callable" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tidy = ev.select(
        month(col("ts")).as("Month"), dayofmonth(col("ts")).as("Day"),
        hour(col("ts")).as("Hour"), lit(0).as("Minute"),
        lit(0).as("Interval"), col("value").as("Value"),
        lit("J").as("Units"))
      out(ReportData.toSeriesWith(tidy, graft.functions.SpreadAgg,
          baseYear = 2024, units = Some("J")).df
        .select(col("ts"), col("Value").as("value_spread")))
    }),
    // ---- SemDeDup: semantic (embedding-cluster-bucketed) dedup.
    // Recall gate: fraction of docs that HAVE an exact >=0.4 cosine
    // neighbor (SQL ground truth) that semDedup touches (removes or
    // uses as the recorded keeper) — misses are exactly the near-dup
    // pairs split across clusters; precision is 1 by construction
    // (every removal carries its exact within-cluster cosine).
    "q178_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4)
      val exactDocs = exact.select(col("a").as("vec"))
        .union(exact.select(col("b").as("vec"))).distinct()
      val sd = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.4, nlist = 8, nassign = 3)
      val touched = sd.select(col("id").as("vec"))
        .union(sd.select(col("keeper").as("vec"))).distinct()
      recallGate(exactDocs, touched, Seq("vec"),
        threshold = 0.8) // measured 0.97 sf0.01, 0.91 sf0.1
    }),
    // ---- CROSS-corpus SemDeDup (incremental semantic dedup): odd-id
    // increment against the even-id lake; recall = fraction of new
    // docs with an exact >=0.4 cross-side neighbor that get removed
    "q191_cross_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exactCross = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      val shouldRemove = exactCross.select(
        when(pmod(col("a"), lit(2)) === 1, col("a")).otherwise(col("b"))
          .as("vec")).distinct()
      val removed = Similarity.semDedupCross(
        emb.where(pmod(col("vec_id"), lit(2)) === 1),
        emb.where(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", threshold = 0.4, nlist = 8, nassign = 3)
      recallGate(shouldRemove, removed.select(col("id").as("vec")),
        Seq("vec"), threshold = 0.8) // measured 1.00 sf0.01, 0.97 sf0.1
    }),
    // ---- incremental-dedup LAKE CONTRACT, lexical: job 1 writes the
    // reference side's banded bucket-capped signatures to a parquet
    // artifact; job 2 dedups the increment against the ARTIFACT — the
    // lake is never re-shingled (plan-guarded in OperatorsSpec). Same
    // split, parameters, and recall gate as q190, so the artifact path
    // is certified to reproduce the in-job operator exactly.
    "q192_lake_artifacts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Dedup.writeBandedSignatures(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id",
        s"$lake/minhash_sigs")
      val cross = Dedup.minhashLshCrossFromArtifacts(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s.read.parquet(s"$lake/minhash_sigs"), "text", "doc_id",
        shingleLen = 3, bands = 8, rowsPerBand = 2, minEstJaccard = 0.35)
      val exactCross = Dedup.ngramJaccardPairsPrefix(docs, "text",
          "doc_id", shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
        .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      recallGate(exactCross, cross, Seq("a", "b"), threshold = 0.8)
    }),
    // ---- incremental-dedup LAKE CONTRACT, semantic: job 1 writes the
    // fitted codebook + cap-ranked keeper table; job 2 assigns ONLY the
    // increment and joins the keeper artifact. Same split/parameters/
    // gate as q191 - artifact path == in-job operator, certified.
    "q193_semlake_artifacts" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeSemDedupArtifacts(
        emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", s"$lake/semdedup", nlist = 8, nassign = 3)
      val removed = Similarity.semDedupCrossFromArtifacts(
        emb.where(pmod(col("vec_id"), lit(2)) === 1),
        s.read.parquet(s"$lake/semdedup/keepers"),
        Similarity.readSemCodebook(s, s"$lake/semdedup"),
        "vec_id", "embedding", threshold = 0.4, nassign = 3)
      val exactCross = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      val shouldRemove = exactCross.select(
        when(pmod(col("a"), lit(2)) === 1, col("a")).otherwise(col("b"))
          .as("vec")).distinct()
      recallGate(shouldRemove, removed.select(col("id").as("vec")),
        Seq("vec"), threshold = 0.8)
    }),
    // ---- END-TO-END CURATION MEGA-PIPELINE: the full training-data
    // assembly matrix as ONE composed plan — decontaminate → exact
    // dedup → near-dup CC dedup → semantic dedup → quality/langid
    // filters → duplicated-span scrub → temperature mix → budget
    // packing — with a per-stage (n_docs, metric) summary the DuckDB
    // oracle reproduces stage by stage. The dedup stages use the EXACT
    // operators (PPJoin jaccard + CC, brute-force cosine) so every
    // stage is SQL-expressible; the production twin with the sketch
    // operators (minhashLsh, semDedup) in those slots is measured at
    // 100x as op_megapipeline (SCALE.md round 11). Stage boundaries
    // persist: every stage's survivors feed both the next stage and
    // the summary, so each stage evaluates exactly once.
    "q194_megapipeline" -> ((s, dir) => {
      // stage boundaries use Lineage.cut, not bare persist: stage k's
      // logical plan nests every upstream stage's plan, and by stage 6+
      // even persist-time bookkeeping (CachedRDDBuilder renders the
      // plan STRING for its name) walks an effectively exponential
      // tree — the same pathology the CC loop hit. Cutting keeps every
      // stage's plan O(1) and materializes each stage exactly once.
      // Each cut is EAGER, so the wall segment between consecutive
      // stage boundaries is exactly that stage's compute — including
      // eagerly-constructed operator internals (the CC loop, driver
      // k-means fits) that a timer around the cut alone would miss.
      // Recorded into megaStageTimes (min across runs) so Bench can
      // report per-stage rows beside the query total (BENCH_DETAIL
      // "stages": q194 is ~9% of the in-run total and a single-number
      // drift would otherwise be un-attributable). Stage 8 (pack +
      // summary) evaluates at sink time outside the builder — its
      // share is the query total minus the recorded stages.
      var lastMark = System.nanoTime()
      def cut(stage: String)(df: DataFrame): DataFrame = {
        val out = graft.operators.Lineage.cut(df)
        val now = System.nanoTime()
        val sec = (now - lastMark) / 1e9
        lastMark = now
        megaStageTimes(stage) = math.min(sec,
          megaStageTimes.getOrElse(stage, Double.MaxValue))
        out
      }
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val bench = docs.where(col("doc_id") < 10)
      val train = docs.where(col("doc_id") >= 10)
      val contaminated = Dedup.contaminatedDocs(train, bench, "text",
        "doc_id", windowLen = 50).select(col("id").as("doc_id"))
      val s1 = cut("1_decon")(train.join(contaminated, Seq("doc_id"),
        "left_anti"))
      val keep2 = Dedup.exact(s1, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val s2 = cut("2_exact")(s1.join(keep2, Seq("doc_id"), "left_semi"))
      val pairs = Dedup.ngramJaccardPairsPrefix(s2, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      val comp = Dedup.duplicateComponents(pairs, "a", "b")
        .withColumnRenamed("id", "doc_id")
      val s3 = cut("3_neardup")(s2.join(comp, Seq("doc_id"), "left")
        .where(col("component").isNull || col("component") === col("doc_id"))
        .drop("component"))
      val embS = emb.join(s3.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      // keep-earliest semantic dedup: drop the LATER side of every
      // >=0.4-cosine pair among stage-3 survivors (one-step greedy by
      // id — deterministic and SQL-expressible, unlike k-means cells)
      val removed4 = Similarity.cosineNearDupPairs(embS, "vec_id",
          "embedding", threshold = 0.4)
        .select(col("b").as("doc_id")).distinct()
      val s4 = cut("4_semdedup")(s3.join(removed4, Seq("doc_id"),
        "left_anti"))
      val s5 = cut("5_filters")(s4
        .withColumn("__r", TextOps.repetitionScores(col("text")))
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .where(col("quality") >= 0.5 &&
          col("__r.top_bigram_frac") <= 0.2 &&
          TextOps.langId(col("text")) === "en")
        .drop("__r", "quality"))
      val scrub = graft.operators.Curation.spanScrub(s5, "text", "doc_id",
        n = 5, minDf = 2)
      val kept6 = cut("6_scrub")(scrub.select(col("doc_id"),
        (col("n_tokens") - col("n_removed")).as("kt")))
      val mix = Sampling.temperatureMix(s5.select(col("doc_id"),
        col("source")), "source", "doc_id", tau = 0.5, total = 200)
      val sel = cut("7_mix")(mix.join(kept6, Seq("doc_id")))
      val packed = Sampling.packByBudget(sel, "source", "doc_id", "kt",
        budget = 4000L)
      def st(name: String, df: DataFrame, metric: Column): DataFrame =
        df.agg(coalesce(sum(metric), lit(0L)).cast("long").as("metric"),
            count(lit(1)).as("n_docs"))
          .select(lit(name).as("stage"), col("n_docs"), col("metric"))
      st("1_decon", s1, col("n_chars"))
        .unionAll(st("2_exact", s2, col("n_chars")))
        .unionAll(st("3_neardup", s3, col("n_chars")))
        .unionAll(st("4_semdedup", s4, col("n_chars")))
        .unionAll(st("5_filters", s5, col("n_chars")))
        .unionAll(st("6_scrub", kept6, col("kt")))
        .unionAll(st("7_mix", sel, col("kt")))
        .unionAll(packed.groupBy(col("source"), col("bin"))
          .agg(sum(col("kt")).as("__t"))
          .agg(coalesce(sum(col("__t")), lit(0L)).cast("long").as("metric"),
            count(lit(1)).as("n_docs"))
          .select(lit("8_pack").as("stage"), col("n_docs"), col("metric")))
    }),
    // ---- corpus-wide SEGMENT-level exact dedup (the CCNet paragraph
    // -dedup discipline at fixed 10-word blocks): every repeated
    // segment keeps exactly ONE occurrence corpus-wide (first by
    // (doc_id, position)); complements q189's remove-ALL-occurrences
    // spanScrub
    "q195_segment_dedup" -> ((s, dir) =>
      graft.operators.Curation.segmentDedup(t(s, dir, "documents"),
        "text", "doc_id", segWords = 10)),
    // ---- incremental EXACT dedup against a content-hash lake: job 1
    // writes the evens' distinct md5 hashes as the lake artifact;
    // job 2 dedups the odds against it (first-seen by id within the
    // increment, anti-joined against the lake). The exact column of
    // the incremental-dedup matrix (q190 minhash / q191 semantic).
    // SIDE-EFFECTING like q192/q193 (the two-job shape IS the
    // contract under test).
    "q196_exact_lake" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ex"
      Dedup.writeContentHashes(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text",
        s"$lake/hashes")
      Dedup.exactCrossFromArtifacts(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s.read.parquet(s"$lake/hashes"), "text", "doc_id")
        .select(col("doc_id"))
    }),
    // ---- quality-filter threshold sweep: the docs/tokens retention
    // curve that calibrates a filter before a full-corpus run, over
    // the q31 quality score (rounded to 6 first so the threshold
    // compares are bit-safe cross-engine), token-count weighted
    "q197_filter_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Curation.filterSweep(
        docs.select(col("doc_id"),
          round(TextOps.qualityScore(col("text")), 6).as("quality"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "quality", "n_tokens",
        thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8))
    }),
    // ---- full exact-lake LIFECYCLE: build the lake from third 0,
    // dedup third 1 against it and fold the survivors' hashes back in
    // (blind append — multiplicity never changes an anti-join), then
    // dedup third 2 against the merged lake. The steady-state
    // increment cycle; globally equivalent to first-occurrence by
    // (third, id), which is exactly what the oracle replays.
    // SIDE-EFFECTING.
    "q198_exact_lake_cycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_cyc"
      val third = pmod(col("doc_id"), lit(3))
      Dedup.writeContentHashes(docs.where(third === 0), "text",
        s"$lake/hashes")
      // materialize stage-1 survivors BEFORE the append: their plan
      // reads $lake/hashes (the anti-join side) and the append writes
      // into that same directory — Spark only guards overwrite-into-
      // read, not append-into-read, so without the eager cut the cycle
      // would ride on file-listing-snapshot timing instead of an
      // explicit read-then-write ordering
      val s1 = graft.operators.Lineage.cut(
        Dedup.exactCrossFromArtifacts(docs.where(third === 1),
          s.read.parquet(s"$lake/hashes"), "text", "doc_id"))
      Dedup.appendContentHashes(s1, "text", s"$lake/hashes")
      graft.operators.Lineage.free(s1) // consumed by the append only
      Dedup.exactCrossFromArtifacts(docs.where(third === 2),
        s.read.parquet(s"$lake/hashes"), "text", "doc_id")
        .select(col("doc_id"))
    }),
    // ---- full NEAR-DUP lake LIFECYCLE — q198's sibling on the
    // minhash column: build the banded-signature lake from third 0,
    // dedup third 1 against it, fold the survivors' signatures back in
    // (count-aware bucketCap append, Dedup.appendBandedSignatures),
    // then dedup third 2 against the merged lake. Recall-gated on the
    // exact should-detect set: third-2 docs' >=0.5-jaccard pairs into
    // third 0 OR into the third-1 docs an EXACT cross-dedup would have
    // admitted (the SQL-expressible twin of the sketch cycle's
    // survivor set). SIDE-EFFECTING like q198.
    "q200_neardup_lake_cycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ndcyc"
      val third = pmod(col("doc_id"), lit(3))
      Dedup.writeBandedSignatures(docs.where(third === 0), "text",
        "doc_id", s"$lake/sigs")
      val pairs1 = Dedup.minhashLshCrossFromArtifacts(
        docs.where(third === 1), s.read.parquet(s"$lake/sigs"),
        "text", "doc_id", shingleLen = 3, bands = 8, rowsPerBand = 2,
        minEstJaccard = 0.35)
      val removed1 = pairs1.select(
        when(pmod(col("a"), lit(3)) === 1, col("a")).otherwise(col("b"))
          .as("doc_id")).distinct()
      // materialize BEFORE the append (q198 ordering discipline: this
      // plan reads $lake/sigs, the append writes into it); consumed by
      // the append only, so freed right after
      val surv1 = graft.operators.Lineage.cut(
        docs.where(third === 1).join(removed1, Seq("doc_id"),
          "left_anti"))
      Dedup.appendBandedSignatures(surv1, "text", "doc_id",
        s"$lake/sigs")
      graft.operators.Lineage.free(surv1)
      val pairs2 = Dedup.minhashLshCrossFromArtifacts(
        docs.where(third === 2), s.read.parquet(s"$lake/sigs"),
        "text", "doc_id", shingleLen = 3, bands = 8, rowsPerBand = 2,
        minEstJaccard = 0.35)
      // exact should-detect set; the PPJoin side feeds the plan twice
      // (admitted-survivor derivation + the gate's pair filter), so
      // it is kept to evaluate once
      val exact = Lineage.keep(Dedup.ngramJaccardPairsPrefix(docs,
        "text", "doc_id", shingleLen = 3, minJaccard = 0.5,
        docFreqCap = 1000))
      val ta = pmod(col("a"), lit(3))
      val tb = pmod(col("b"), lit(3))
      val exRemoved1 = exact
        .where((ta === 1 && tb === 0) || (ta === 0 && tb === 1))
        .select(when(ta === 1, col("a")).otherwise(col("b"))
          .as("doc_id")).distinct()
      val admitted = docs.where(third === 0).select(col("doc_id"))
        .unionByName(docs.where(third === 1).select(col("doc_id"))
          .join(exRemoved1, Seq("doc_id"), "left_anti"))
        .withColumnRenamed("doc_id", "adm")
      val gateSet = exact.where(ta === 2 || tb === 2)
        .join(admitted,
          when(ta === 2, col("b")).otherwise(col("a")) === col("adm"),
          "left_semi")
      recallGate(gateSet, pairs2, Seq("a", "b"), threshold = 0.8)
    }),
    // ---- full SEMANTIC lake LIFECYCLE — q198's sibling on the
    // embedding column: fit codebook + cap-ranked keepers from
    // third 0, dedup third 1 against the keeper artifact, rank-merge
    // the survivors into the keeper table (keeperCap-respecting
    // rewrite, Similarity.appendSemKeepers), then dedup third 2
    // against the merged keepers. Recall-gated on the exact
    // should-remove set (third-2 docs with a >=0.4-cosine pair into
    // third 0 or the exactly-admitted third-1 docs). SIDE-EFFECTING.
    "q201_semlake_cycle" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_semcyc"
      val third = pmod(col("vec_id"), lit(3))
      Similarity.writeSemDedupArtifacts(emb.where(third === 0),
        "vec_id", "embedding", lake, nlist = 8, nassign = 3)
      val cb = Similarity.readSemCodebook(s, lake)
      val removed1 = Similarity.semDedupCrossFromArtifacts(
        emb.where(third === 1), s.read.parquet(s"$lake/keepers"), cb,
        "vec_id", "embedding", threshold = 0.4, nassign = 3)
      val surv1 = graft.operators.Lineage.cut(
        emb.where(third === 1).join(
          removed1.select(col("id").as("vec_id")), Seq("vec_id"),
          "left_anti"))
      Similarity.appendSemKeepers(surv1, "vec_id", "embedding", lake,
        nassign = 3)
      graft.operators.Lineage.free(surv1)
      val removed2 = Similarity.semDedupCrossFromArtifacts(
        emb.where(third === 2), s.read.parquet(s"$lake/keepers"), cb,
        "vec_id", "embedding", threshold = 0.4, nassign = 3)
      // exact cosine pairs feed the plan twice — persist once
      val exact = Lineage.keep(Similarity.cosineNearDupPairs(emb,
        "vec_id", "embedding", threshold = 0.4))
      val ta = pmod(col("a"), lit(3))
      val tb = pmod(col("b"), lit(3))
      val exRemoved1 = exact
        .where((ta === 1 && tb === 0) || (ta === 0 && tb === 1))
        .select(when(ta === 1, col("a")).otherwise(col("b"))
          .as("vec_id")).distinct()
      val admitted = emb.where(third === 0).select(col("vec_id"))
        .unionByName(emb.where(third === 1).select(col("vec_id"))
          .join(exRemoved1, Seq("vec_id"), "left_anti"))
        .withColumnRenamed("vec_id", "adm")
      val shouldRemove = exact.where(ta === 2 || tb === 2)
        .join(admitted,
          when(ta === 2, col("b")).otherwise(col("a")) === col("adm"),
          "left_semi")
        .select(when(ta === 2, col("a")).otherwise(col("b")).as("vec"))
        .distinct()
      recallGate(shouldRemove, removed2.select(col("id").as("vec")),
        Seq("vec"), threshold = 0.8)
    }),
    // ---- NEAR-DUP lake lifecycle through the FUSED step
    // (Dedup.minhashLshLakeStep: jobs 2+3 in one pass — each increment
    // is signed ONCE for both the probe and the fold-in; the two-job
    // q200 signs twice, ~40% of its append per SCALE.md round 13).
    // Certified doc-level: the cycle's removed third-2 docs cover the
    // exact should-remove set (q200's gate set projected to its
    // third-2 doc). SIDE-EFFECTING.
    "q203_neardup_lake_fused" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ndf"
      val third = pmod(col("doc_id"), lit(3))
      Dedup.writeBandedSignatures(docs.where(third === 0), "text",
        "doc_id", s"$lake/sigs")
      val surv1 = Dedup.minhashLshLakeStep(docs.where(third === 1),
        "text", "doc_id", s"$lake/sigs", shingleLen = 3, bands = 8,
        rowsPerBand = 2, minEstJaccard = 0.35)
      // the step folded surv1 in already; nothing else reads it
      graft.operators.Lineage.free(surv1)
      val surv2 = Dedup.minhashLshLakeStep(docs.where(third === 2),
        "text", "doc_id", s"$lake/sigs", shingleLen = 3, bands = 8,
        rowsPerBand = 2, minEstJaccard = 0.35)
      val removed2 = docs.where(third === 2).select(col("doc_id"))
        .join(surv2.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val exact = Lineage.keep(Dedup.ngramJaccardPairsPrefix(docs,
        "text", "doc_id", shingleLen = 3, minJaccard = 0.5,
        docFreqCap = 1000))
      val ta = pmod(col("a"), lit(3))
      val tb = pmod(col("b"), lit(3))
      val exRemoved1 = exact
        .where((ta === 1 && tb === 0) || (ta === 0 && tb === 1))
        .select(when(ta === 1, col("a")).otherwise(col("b"))
          .as("doc_id")).distinct()
      val admitted = docs.where(third === 0).select(col("doc_id"))
        .unionByName(docs.where(third === 1).select(col("doc_id"))
          .join(exRemoved1, Seq("doc_id"), "left_anti"))
        .withColumnRenamed("doc_id", "adm")
      val shouldRemove = exact.where(ta === 2 || tb === 2)
        .join(admitted,
          when(ta === 2, col("b")).otherwise(col("a")) === col("adm"),
          "left_semi")
        .select(when(ta === 2, col("a")).otherwise(col("b"))
          .as("doc_id")).distinct()
      recallGate(shouldRemove, removed2, Seq("doc_id"), threshold = 0.8)
    }),
    // ---- SEMANTIC lake lifecycle through the FUSED step
    // (Similarity.semDedupLakeStep: one assignment pass per increment
    // instead of probe-assign + append-assign). Same gate as q201.
    // SIDE-EFFECTING.
    "q204_semlake_fused" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_semf"
      val third = pmod(col("vec_id"), lit(3))
      Similarity.writeSemDedupArtifacts(emb.where(third === 0),
        "vec_id", "embedding", lake, nlist = 8, nassign = 3)
      val surv1 = Similarity.semDedupLakeStep(emb.where(third === 1),
        "vec_id", "embedding", lake, threshold = 0.4, nassign = 3)
      graft.operators.Lineage.free(surv1)
      val surv2 = Similarity.semDedupLakeStep(emb.where(third === 2),
        "vec_id", "embedding", lake, threshold = 0.4, nassign = 3)
      val removed2 = emb.where(third === 2).select(col("vec_id"))
        .join(surv2.select(col("vec_id")), Seq("vec_id"), "left_anti")
      val exact = Lineage.keep(Similarity.cosineNearDupPairs(emb,
        "vec_id", "embedding", threshold = 0.4))
      val ta = pmod(col("a"), lit(3))
      val tb = pmod(col("b"), lit(3))
      val exRemoved1 = exact
        .where((ta === 1 && tb === 0) || (ta === 0 && tb === 1))
        .select(when(ta === 1, col("a")).otherwise(col("b"))
          .as("vec_id")).distinct()
      val admitted = emb.where(third === 0).select(col("vec_id"))
        .unionByName(emb.where(third === 1).select(col("vec_id"))
          .join(exRemoved1, Seq("vec_id"), "left_anti"))
        .withColumnRenamed("vec_id", "adm")
      val shouldRemove = exact.where(ta === 2 || tb === 2)
        .join(admitted,
          when(ta === 2, col("b")).otherwise(col("a")) === col("adm"),
          "left_semi")
        .select(when(ta === 2, col("a")).otherwise(col("b")).as("vec"))
        .distinct()
      recallGate(shouldRemove,
        removed2.select(col("vec_id").as("vec")), Seq("vec"),
        threshold = 0.8)
    }),
    // ---- LAKE-SEEDED streaming ingest gate: the StreamNearDup keyed
    // state PRE-SEEDED from the banded-signature artifact
    // (flatMapGroupsWithState initialState) — micro-batch one dedups
    // against the whole admitted corpus without replaying history
    // through the stream. Run through the batch twin (same typed
    // pipeline + initial state in batch mode), recall-gated on every
    // exact pair touching the streamed (odd) side. SIDE-EFFECTING.
    "q205_lake_seeded_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_seed"
      Dedup.writeBandedSignatures(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text",
        "doc_id", s"$lake/sigs")
      val detected = graft.streaming.StreamNearDup.batchFromLake(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s.read.parquet(s"$lake/sigs"), "text", "doc_id",
        shingleLen = 3, bands = 8, rowsPerBand = 2,
        minEstJaccard = 0.35)
      val exact = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
          shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
        .where(pmod(col("a"), lit(2)) === 1 ||
          pmod(col("b"), lit(2)) === 1)
      recallGate(exact, detected, Seq("a", "b"), threshold = 0.8)
    }),
    // ---- SEMANTIC lake-seeded ingest gate — the q205 twin in
    // embedding space: StreamSemDedup's keyed state pre-seeded from
    // the keeper artifact (priority-ordered, the same cap-ranked core
    // semDedupCross probes), codebook from the same lake. Gated like
    // q193: removed odd docs cover the exact cross should-remove set.
    // SIDE-EFFECTING.
    "q206_semlake_seeded_gate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_semseed"
      Similarity.writeSemDedupArtifacts(
        emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", lake, nlist = 8, nassign = 3)
      val removed = graft.streaming.StreamSemDedup.batchFromLake(
        emb.where(pmod(col("vec_id"), lit(2)) === 1),
        Similarity.readSemCodebook(s, lake).map(_.toArray).toArray,
        s.read.parquet(s"$lake/keepers"), "vec_id", "embedding",
        threshold = 0.4, nassign = 3)
      val exactCross = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      val shouldRemove = exactCross.select(
        when(pmod(col("a"), lit(2)) === 1, col("a")).otherwise(col("b"))
          .as("vec")).distinct()
      recallGate(shouldRemove, removed.select(col("vec_id").as("vec")),
        Seq("vec"), threshold = 0.8)
    }),
    // ---- INCREMENTAL curation pipeline — q194's daily-increment
    // sibling: the odd half of the corpus is a new increment processed
    // AGAINST the even half as admitted history, through decon → exact
    // dedup vs the content-hash lake artifact → exact near-dup cross
    // (PPJoin, the oracle-able twin of minhashLshLakeStep) → exact
    // semantic cross → quality/langid filters, with the q194-style
    // per-stage (n_docs, n_chars) summary the oracle replays stage by
    // stage. Removal discipline matches the streaming gates: a doc is
    // removed if it near-dups ANY earlier-admitted doc (history always
    // outranks the increment; within the increment, lower id wins,
    // and removed docs still remove their later dups — chains, the
    // documented store-even-if-removed rule). SIDE-EFFECTING (the
    // hash-lake artifact write is job 1 of the real contract).
    "q207_incremental_pipeline" -> ((s, dir) => {
      val p = incPipelineStages(s, dir, "_incpipe")
      def st(name: String, df: DataFrame): DataFrame =
        df.agg(
            coalesce(sum(col("n_chars")), lit(0L)).cast("long")
              .as("metric"),
            count(lit(1)).as("n_docs"))
          .select(lit(name).as("stage"), col("n_docs"), col("metric"))
      st("1_decon", p.s1)
        .unionAll(st("2_exact_lake", p.s2))
        .unionAll(st("3_neardup_cross", p.s3))
        .unionAll(st("4_sem_cross", p.s4))
        .unionAll(st("5_filters", p.s5))
    }),
    // ---- per-document DISPOSITION audit over the same chain: every
    // increment document reports the stage that removed it (or
    // 'admitted') — the "why was my document dropped" operational
    // query a curation platform must answer. Stages are disjoint by
    // construction (first removal wins), so this is a pure union of
    // the stage boundaries the summary already materializes.
    "q221_disposition_audit" -> ((s, dir) => {
      val p = incPipelineStages(s, dir, "_disp")
      def tag(df: DataFrame, stage: String): DataFrame =
        df.select(col("doc_id"), lit(stage).as("stage"))
      tag(p.contaminated, "1_decontaminated")
        .unionByName(tag(p.s1.join(p.s2.select(col("doc_id")),
          Seq("doc_id"), "left_anti"), "2_exact_dup"))
        .unionByName(tag(p.rem3, "3_near_dup"))
        .unionByName(tag(p.rem4, "4_semantic_dup"))
        .unionByName(tag(p.s4.join(p.s5.select(col("doc_id")),
          Seq("doc_id"), "left_anti"), "5_quality"))
        .unionByName(tag(p.s5, "6_admitted"))
    }),
    // ---- STREAMING LAKE-INGEST contract on real data — the
    // foreachBatch deployment shape of the q207 chain (state in the
    // lake artifacts, not a state store; see StreamLakeIngest): init
    // the lake from the even half, run the odd half through one
    // curateIncrement micro-batch, and gate the removals against the
    // exact should-remove set — decon windows and content hashes are
    // exact operators (full coverage), near-dup/semantic use the
    // cross-parity exact pairs (the lake side is always enrolled, so
    // only LSH/IVF recall is at stake — the q205/q206 gates).
    // Micro-batch mechanics (multi-batch, replay, snapshot pruning)
    // are spec-certified on controlled data (LakeIngestSpec).
    // SIDE-EFFECTING.
    "q208_stream_lake_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ingest"
      val joined = docs.join(emb.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      val bench = docs.where(col("doc_id") < 10)
      val hist = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 0)
      val inc = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 1)
      val p = graft.streaming.StreamLakeIngest.Params(
        minEstJaccard = 0.35, nlist = 8, nassign = 3)
      graft.streaming.StreamLakeIngest.initLake(hist, bench, "text",
        "doc_id", "embedding", lake, p)
      val admitted = Lineage.keep(
        graft.streaming.StreamLakeIngest.curateIncrement(inc, lake,
          s"$lake/admitted", "text", "doc_id", "embedding", 0L, p))
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
      val sem = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(col("a") >= 10 && col("b") >= 10 &&
          odd(col("a")) =!= odd(col("b")))
        .select(when(odd(col("a")), col("a")).otherwise(col("b"))
          .as("doc_id"))
      val shouldRemove = contam.unionByName(exEv).unionByName(exWithin)
        .unionByName(nd).unionByName(sem).distinct()
      recallGate(shouldRemove, removed, Seq("doc_id"), threshold = 0.8)
    }),
    // ---- SEVEN-stage streaming ingest: the q208 curation loop
    // composed with the SELECTION stages — frozen-model DSIR admission
    // (6) and per-source token-budget admission (7), both with
    // lake-only versioned state (model_b<k> snapshots, used_b<k>
    // ledgers). The gate's exact side gains the DSIR-rejected set
    // (exactly SQL-replicable: the q216 arithmetic with the model fit
    // on the history half); budget rejections are engine-verified in
    // LakeIngestSpec (they depend on which docs the approximate dedup
    // stages admit, so no standalone SQL twin exists) and can only ADD
    // to the removed side here. SIDE-EFFECTING.
    "q229_stream_full_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_fullingest"
      val joined = docs.join(emb.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      val bench = docs.where(col("doc_id") < 10)
      val hist = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 0)
      val inc = joined.where(col("doc_id") >= 10 &&
        pmod(col("doc_id"), lit(2)) === 1)
      val p = graft.streaming.StreamLakeIngest.Params(
        minEstJaccard = 0.35, nlist = 8, nassign = 3)
      val sp = graft.streaming.StreamLakeIngest.SelectParams(
        minMicro = 1L, tokenBudget = 50000L)
      graft.streaming.StreamLakeIngest.initLakeFull(hist, bench,
        "text", "doc_id", "embedding", col("lang") === "en", lake, p,
        sp)
      val admitted = Lineage.keep(
        graft.streaming.StreamLakeIngest.curateIncrementFull(inc, lake,
          s"$lake/admitted", "text", "doc_id", "embedding", "source",
          0L, p, sp))
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
      val sem = Similarity.cosineNearDupPairs(emb, "vec_id",
          "embedding", threshold = 0.4)
        .where(col("a") >= 10 && col("b") >= 10 &&
          odd(col("a")) =!= odd(col("b")))
        .select(when(odd(col("a")), col("a")).otherwise(col("b"))
          .as("doc_id"))
      val model = s.read.parquet(s"$lake/dsir/model_init")
        .select(col("b"), col("lr_micro")).orderBy("b").collect()
      val lr = model.map(_.getLong(1))
      val dsirRej = inc.select(col("doc_id"),
          graft.operators.Curation.dsirScoreMicro(col("text"), lr)
            .as("__iw"))
        .where(col("__iw") < sp.minMicro).select("doc_id")
      val shouldRemove = contam.unionByName(exEv).unionByName(exWithin)
        .unionByName(nd).unionByName(sem).unionByName(dsirRej)
        .distinct()
      recallGate(shouldRemove, removed, Seq("doc_id"), threshold = 0.8)
    }),
    // ---- LPA convergence report: per-round changed-label counts over
    // the q222 graph — the evidence for choosing `iters` (churn at the
    // last round means more rounds; an early 0 means stop sooner).
    // One N-row join + count per round on the already-cut states.
    "q231_lpa_convergence" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Graph.labelPropagationConvergence(
        li.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")),
        "src", "dst", iters = 4)
    }),
    // ---- MULTI-QUERY BM25: three probes ranked in ONE corpus scan —
    // the word stream prunes map-side against the broadcast probe
    // vocabulary, each query's scores land via a broadcast join of the
    // (query_id, term) table, per-query DetAgg-summed totals rank
    // under one query-keyed window. The thousand-probe audit shape;
    // rrfFuse(queryCols = Seq("query_id")) composes it per query.
    "q230_bm25_multiquery" -> ((s, dir) => {
      import s.implicits._
      val probes = Seq((0L, "spark"), (0L, "hash"), (1L, "merge"),
        (1L, "sort"), (1L, "data"), (2L, "spark"), (2L, "merge"))
        .toDF("query_id", "term")
      graft.operators.Retrieval.bm25TopKQueries(t(s, dir, "documents"),
        "text", "doc_id", probes, k = 10)
    }),
    // ---- MULTI-QUERY HYBRID retrieval capstone: three probes, each
    // with BM25 terms AND an embedding — per-query lexical top-20
    // (one corpus scan for all probes) fused with per-query cosine
    // top-20 via rrfFuse(queryCols) into one per-probe ranking. The
    // thousand-probe audit composed end to end: every stage is
    // one-scan-many-probes.
    "q233_multiquery_hybrid" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val probes = Seq((5L, "spark"), (5L, "hash"), (7L, "merge"),
        (7L, "data"), (9L, "spark"), (9L, "merge"))
        .toDF("query_id", "term")
      val lex = graft.operators.Retrieval.bm25TopKQueries(docs, "text",
          "doc_id", probes, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val sem = Similarity.cosineTopK(emb,
          emb.where(col("vec_id").isin(5L, 7L, 9L)), "vec_id",
          "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id",
        k = 10, queryCols = Seq("query_id"))
    }),
    // ---- PER-QUERY MMR over the q233 hybrid: each probe's fused
    // top-10 diversified independently (greedy λ·rel − (1−λ)·maxSim,
    // rel = rrf_score), k=5 — DISTRIBUTED per query key (one shuffle,
    // one bounded greedy per group), the shape a thousand-probe audit
    // needs where the single-query driver fold would serialize.
    "q238_mmr_perquery" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val probes = Seq((5L, "spark"), (5L, "hash"), (7L, "merge"),
        (7L, "data"), (9L, "spark"), (9L, "merge"))
        .toDF("query_id", "term")
      val lex = graft.operators.Retrieval.bm25TopKQueries(docs, "text",
          "doc_id", probes, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val sem = Similarity.cosineTopK(emb,
          emb.where(col("vec_id").isin(5L, 7L, 9L)), "vec_id",
          "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
        "doc_id", k = 10, queryCols = Seq("query_id"))
      val cand = fused.select(col("query_id"), col("doc_id"),
          col("rrf_score"))
        .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      Similarity.mmrRerankPerQuery(cand, Seq("query_id"), "doc_id",
        "embedding", "rrf_score", k = 5, lambda = 0.7)
    }),
    // ---- HYBRID retrieval: reciprocal-rank fusion of the BM25
    // lexical top-20 (probe terms) and the embedding cosine top-20
    // (probe vector doc 5) into one ranking — rank-only fusion, so the
    // two scorers' incomparable scales never need calibration. The
    // corpus scans live in the two upstream rankers; the fusion itself
    // joins two 20-row lists.
    "q209_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.operators.Retrieval.bm25TopK(docs, "text",
          "doc_id", Seq("spark", "hash", "merge"), k = 20)
        .select(col("doc_id"), col("rank"))
      val sem = Similarity.cosineTopK(emb,
          emb.where(col("vec_id") === 5), "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", k = 10)
    }),
    // ---- retrieval eval: recall@10 and nDCG@10 of the lexical BM25
    // ranking against the semantic cosine top-k as gold — the
    // retriever-audit metric row (both lists SQL-exact, so the oracle
    // hashes the metrics themselves)
    "q218_ranking_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.operators.Retrieval.bm25TopK(docs, "text",
          "doc_id", Seq("spark", "hash", "merge"), k = 20)
        .select(col("doc_id"), col("rank"))
      val gold = Similarity.cosineTopK(emb,
          emb.where(col("vec_id") === 5), "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rankingMetrics(lex, gold, "doc_id",
        k = 10)
    }),
    // ---- ingest text cleanup: NFC canonical form (native codegen'd
    // expression — Spark has no builtin), control/format chars to
    // spaces, whitespace collapsed. Shuffle-free map pass; every step
    // has an exact DuckDB twin.
    "q220_normalize_text" -> ((s, dir) => {
      val clean = TextOps.normalizeText(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        clean.as("clean_text"), (col("text") =!= clean).as("changed"))
    }),
    // ---- per-query retrieval eval: how well does 8-of-64-dim
    // truncated retrieval approximate the full-dimension gold, per
    // query — the dimension-budget audit (recall@10 / nDCG@10 rows
    // per query, hitless queries still report 0.0)
    "q219_perquery_metrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val emb8 = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 8).as("embedding"))
      val gold = Similarity.cosineTopK(emb,
          emb.where(col("vec_id") < 3), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val ranked = Similarity.cosineTopK(emb8,
          emb8.where(col("vec_id") < 3), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.operators.Retrieval.rankingMetrics(ranked, gold, "doc_id",
        k = 10, queryCols = Seq("query_id"))
    }),
    // ---- MMR diversified re-rank of the probe query's cosine top-20:
    // greedy λ·rel − (1−λ)·maxSim cut, k=5. The corpus scan is the
    // upstream retriever; the greedy fold runs on the driver over the
    // bounded 20-row list (the adjudicated codebook-collect pattern).
    "q210_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cand = Similarity.cosineTopK(emb,
          emb.where(col("vec_id") === 5), "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("vec_id"), col("cos_sim"))
        .join(emb, Seq("vec_id"))
      Similarity.mmrRerank(cand, "vec_id", "embedding", "cos_sim",
        k = 5, lambda = 0.7)
    }),
    // ---- DSIR data selection (Xie et al., NeurIPS 2023): hashed
    // bag-of-ngrams importance resampling against the English subset
    // as the target distribution — top-100 docs by log importance
    // ratio. Two scans of the feature stream (one bucket-model agg,
    // one broadcast-scored doc agg), top-k never sorts the corpus.
    "q211_dsir_select" -> ((s, dir) =>
      graft.operators.Curation.dsirSelect(t(s, dir, "documents"),
        "text", "doc_id", isTarget = col("lang") === "en",
        buckets = 1024, k = 100)),
    // ---- BPE tokenizer induction (Sennrich et al., ACL 2016): the
    // first 8 merge operations learned over the corpus word vocabulary
    // — one vocab-bounded pair-count aggregate + bounded argmax pick +
    // projection-local merge application per round.
    "q212_bpe_merges" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMerges(t(s, dir, "documents"),
        "text", merges = 8)),
    // ---- BATCHED BPE merge learning (the merge-ceiling lift): per
    // round ONE pair-count aggregate learns the top-4 mutually
    // symbol-disjoint pairs (greedy in count order — disjoint merges
    // commute, so one projection pass applies them all). 2 rounds x 4
    // picks here = 8 merges for a quarter of the driver round-trips;
    // at a 32k-merge production vocabulary this batching is what
    // makes learning affordable (DEVIATIONS.md records the
    // counts-not-refreshed-within-a-round approximation).
    "q226_bpe_batched" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMergesBatched(t(s, dir, "documents"),
        "text", rounds = 2, batch = 4)),
    // ---- batched learn -> NATIVE encode: the batched tokenizer's
    // merge rows collect to the driver and every document encodes
    // under the native one-pass bpe_token_count expression (rank-
    // priority, cost independent of merge-list length) — the
    // learn→encode contract at the lifted ceiling
    "q227_bpe_batched_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMergesBatched(docs, "text",
          rounds = 2, batch = 4).orderBy("step").collect()
        .map(r => (r.getString(2), r.getString(3))).toSeq
      graft.operators.Tokenizer.bpeTokenCounts(docs, "text", "doc_id", m)
    }),
    // ---- BPE learn→encode two-job contract: job 1 learns the merge
    // list (bounded, <=64 rows -> literals), job 2 is a ZERO-shuffle
    // map-only token-count pass over the corpus under that tokenizer
    "q213_bpe_token_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
          merges = 8).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer.bpeTokenCounts(docs, "text", "doc_id", m)
    }),
    // ---- BPE tokenization to PIECES: the token sequence itself,
    // (doc_id, pos, token) — what a packer or vocabulary audit
    // consumes; one native bpe_tokenize expression + posexplode,
    // zero shuffle (size(bpe_tokenize) == bpe_token_count spec'd)
    "q232_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
          merges = 8).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer.bpeTokenize(docs, "text", "doc_id", m)
    }),
    // ---- tokenizer FERTILITY audit: per-source tokens-per-word under
    // the learned tokenizer — the standard per-domain tokenizer-quality
    // report (a domain whose fertility runs hot is under-served by the
    // merge list and will eat budget). Exact integer sums + one
    // rounded ratio; the corpus pass is the zero-shuffle native encode.
    "q234_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
          merges = 8).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer.bpeTokenCounts(docs, "text", "doc_id", m)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6).as("fertility"))
    }),
    // ---- UNICODE-mode BPE learning: the word class lifted from
    // lowercase-ASCII [a-z]+ to full-Unicode letters+numbers
    // ([\p{L}\p{N}]+, identical in Java and RE2; symbols are CODE
    // POINTS), so accented/Cyrillic/CJK/digit words enter the learned
    // vocabulary instead of bypassing it as single OOV tokens. Corpus:
    // the documents text vowel-translated to accented forms + literal
    // CJK/Cyrillic/mixed rows (uniCorpus) — all of it invisible to the
    // ascii tokenizer, all of it encodable here.
    "q236_bpe_unicode_merges" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMerges(uniCorpus(s, dir), "text",
        merges = 8, unicode = true)),
    // ---- unicode learn -> NATIVE unicode encode -> per-lang
    // FERTILITY on the non-ASCII corpus: fertility > 1 for every lang
    // is the proof the text actually encodes under the learned
    // vocabulary (ascii-mode OOV passthrough would pin it at 1.0).
    "q237_bpe_unicode_fertility" -> ((s, dir) => {
      val uc = uniCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(uc, "text",
          merges = 8, unicode = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer
        .bpeTokenCounts(uc, "text", "doc_id", m, unicode = true)
        .join(uc.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6).as("fertility"))
    }),
    // ---- unicode x BATCHED learning (the remaining cell of the
    // mode x learner matrix): 2 rounds x top-4 symbol-disjoint picks
    // over the non-ASCII corpus, unicode word class
    "q241_bpe_unicode_batched" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMergesBatched(uniCorpus(s, dir),
        "text", rounds = 2, batch = 4, unicode = true)),
    // ---- BYTE-FALLBACK BPE learning (the OOV endpoint): EVERY
    // whitespace token enters the vocabulary — in-class code points
    // as themselves, out-of-class code points as their UTF-8 bytes'
    // placeholder symbols (U+2500+b, the GPT-2 bytes-to-unicode
    // discipline adapted to the mixed word/byte alphabet) — so
    // `don't` / `co-op` / `3.14` / URLs / emoji stop bypassing the
    // tokenizer. Corpus: documents with vowels translated to ASCII
    // punctuation + literal rows covering all four UTF-8 widths.
    "q242_bpe_bytefallback_merges" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMerges(punctCorpus(s, dir), "text",
        merges = 8, byteFallback = true)),
    // ---- byte-fallback x BATCHED learning (the matrix's last cell,
    // after ascii/unicode x sequential/batched): 2 rounds x top-4
    // symbol-disjoint picks over the punctuated corpus, every round
    // applied as ONE BpeSeqApply projection
    "q245_bpe_bytefallback_batched" -> ((s, dir) =>
      graft.operators.Tokenizer.bpeMergesBatched(punctCorpus(s, dir),
        "text", rounds = 2, batch = 4, byteFallback = true)),
    // ---- fixed-length SEQUENCE packing (concat-and-split): the
    // trainer-facing step after tokenize — every whitespace token of
    // every document laid out in doc-id order, a sequence cut every
    // 256 tokens, documents straddling boundaries (every sequence but
    // the last is exactly full: zero padding waste). Reported as a
    // per-sequence summary with an ORDER-SENSITIVE digest (md5 of the
    // tokens in seq_off order) — two packings agree iff every
    // sequence holds the same tokens in the same order.
    "q246_pack_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      Sampling.packTokens(toks, seqLen = 256L)
        .groupBy(col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- per-sequence DOCUMENT SPANS: for every packed sequence,
    // where each document's tokens sit (start offset + length) — the
    // boundary metadata an attention-masking trainer consumes to
    // reset attention at document boundaries inside a packed
    // sequence (spans are contiguous by construction: a document's
    // tokens are consecutive in the stream). ONE aggregate over the
    // packed rows; with the digests of q246 this completes the
    // sequence-level provenance pair (content + structure).
    "q252_pack_spans" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      Sampling.packTokens(toks, seqLen = 256L)
        .groupBy(col("seq"), col("doc_id"))
        .agg(min(col("seq_off")).as("start_off"),
          count(lit(1)).as("n_tokens"))
    }),
    // ---- packing with DOCUMENT SEPARATORS: one `<eos>` boundary
    // token appended per document before the concat-and-split — the
    // discipline that stops an autoregressive model from reading doc
    // B's first token as doc A's continuation. Same summary/digest
    // contract as q246; the separator shifts every downstream offset,
    // so the digests certify the injection exactly.
    "q251_pack_eos" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      val withSep = Sampling.appendDocSeparator(toks, "<eos>")
      Sampling.packTokens(withSep, seqLen = 256L)
        .groupBy(col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- GROUPED packing over a shard layout (the full trainer
    // arc: shardAssign -> per-shard concat-and-split in (offset,
    // doc) order). The per-group form's doc-summary running sum is
    // one window with shard-BOUNDED partitions — fully parallel, no
    // global barrier at any corpus size.
    "q247_pack_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long")
          .as("n_tokens"))
      val asg = Sampling.shardAssign(counts, "doc_id", "n_tokens",
        shardWeight = 5000L)
      val toks = docs.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
        .join(asg.select(col("doc_id"), col("shard"), col("offset")),
          Seq("doc_id"))
      Sampling.packTokens(toks, seqLen = 512L,
          groupCol = Some("shard"), orderCol = Some("offset"))
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- DETOKENIZE round trip (the tokenizer's INVERSE): learn 8
    // byte-fallback merges, tokenize with word markers, decode back
    // through bpe_detok. The oracle is simply the canonicalized
    // corpus text — the engine must land on it EXACTLY through the
    // full learn -> mark -> encode -> byte-invert -> rejoin cycle
    // (every UTF-8 width crosses the placeholder alphabet and
    // returns: apostrophes 1-byte, «» 2-byte, the en dash 3-byte,
    // emoji 4-byte).
    "q248_bpe_detok" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val toks = graft.operators.Tokenizer.bpeTokenize(pc, "text",
        "doc_id", m, byteFallback = true, wordMarker = true)
      graft.operators.Tokenizer.bpeDetokenize(toks)
    }),
    // ---- byte-fallback learn -> NATIVE fallback encode -> per-lang
    // FERTILITY on the punctuated corpus: fertility > 1 for the
    // punct/url/mixed/cjkmix groups is the proof the punctuated
    // tokens actually decompose and encode under the learned
    // vocabulary (unicode-mode OOV passthrough would pin them at
    // exactly one token per word).
    "q243_bpe_bytefallback_fertility" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer
        .bpeTokenCounts(pc, "text", "doc_id", m, byteFallback = true)
        .join(pc.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6).as("fertility"))
    }),
    // ---- tokenizer VOCABULARY with integer ids (what a trainer
    // embeds): base symbols first in UTF-8 byte order, then merged
    // symbols in learning order. Byte-fallback mode closes the
    // vocabulary over the byte alphabet + the corpus's in-class code
    // points (out-of-class characters of ANY text resolve; a NEW
    // in-class letter is absent exactly as in any corpus-trained BPE
    // vocabulary, surfaced as a null id by the encode's left join).
    "q253_bpe_vocab" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer.bpeVocabulary(pc, "text", m,
        byteFallback = true)
    }),
    // ---- encode to token IDS: the piece stream joined to the
    // vocabulary (one broadcast join — the vocabulary is
    // alphabet-bounded), reported as per-doc id-sequence digests.
    // The digests certify the COMPLETE trainer-side encode: merges,
    // piece order, and the id assignment all have to agree.
    "q254_bpe_encode_ids" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", m, vocab,
          byteFallback = true)
        .where(col("token_id").isNotNull)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"),
              col("token_id").cast("string").as("__i")))),
            x => x.getField("__i")), ",")).as("ids_digest"))
    }),
    // ---- ID-SEQUENCE packing: the literal training batch content —
    // the token-ID stream packed into fixed-length sequences (ids
    // from the closed byte-fallback vocabulary, 64-token contexts),
    // reported as per-sequence id digests. Composes q254's encode
    // with q246's packer; the digests certify both plus the order.
    "q255_pack_ids" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      val ids = graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", m, vocab,
          byteFallback = true)
        .where(col("token_id").isNotNull)
        .select(col("doc_id"), col("pos"),
          col("token_id").cast("string").as("token"))
      Sampling.packTokens(ids, seqLen = 64L)
        .groupBy(col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("ids_digest"))
    }),
    // ---- FULL tokenizer artifact round trip: model (merges+flags)
    // AND vocabulary (ids) persisted to one artifact directory, read
    // back digest-verified, then id-encode under the READ-BACK
    // everything. Output and oracle are exactly q254's digests —
    // equality holds only if both halves of the trainer contract
    // survived persistence bit for bit. SIDE-EFFECTING (artifact
    // writes under the lake root).
    "q257_bpe_artifact_ids" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_bpefull"
      graft.operators.Tokenizer.writeBpeModel(s, path, m,
        byteFallback = true)
      graft.operators.Tokenizer.writeBpeVocab(s, path,
        graft.operators.Tokenizer.bpeVocabulary(pc, "text", m,
          byteFallback = true))
      val model = graft.operators.Tokenizer.readBpeModel(s, path)
      val vocab = graft.operators.Tokenizer.readBpeVocab(s, path)
      graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", model.merges, vocab,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .where(col("token_id").isNotNull)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"),
              col("token_id").cast("string").as("__i")))),
            x => x.getField("__i")), ",")).as("ids_digest"))
    }),
    // ---- tokenizer MODEL artifact round trip: learn -> persist
    // (merges + flags + digest) -> read back (digest re-verified) ->
    // native encode under the READ-BACK list and ITS stored flags.
    // Output and oracle are exactly q243's fertility — equality
    // holds only if persistence preserved the list bit for bit and
    // the mode flags traveled with the artifact.
    "q249_bpe_model_roundtrip" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_bpemodel"
      graft.operators.Tokenizer.writeBpeModel(s, path, m,
        byteFallback = true)
      val model = graft.operators.Tokenizer.readBpeModel(s, path)
      graft.operators.Tokenizer
        .bpeTokenCounts(pc, "text", "doc_id", model.merges,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .join(pc.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6).as("fertility"))
    }),
    // ---- TRAINER-INPUT capstone: the complete corpus-to-batches
    // arc this round closed — learn the tokenizer, PERSIST it as the
    // digest-verified model artifact, read it back, shard the corpus
    // by its OWN token counts under that model, stream the BPE
    // pieces, and pack fixed-length training sequences per shard.
    // One oracle certifies the whole composition: shard assignment,
    // piece order, straddling, and the order-sensitive digests.
    "q250_trainer_pack_capstone" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
          merges = 8).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_bpecap"
      graft.operators.Tokenizer.writeBpeModel(s, path, m)
      val model = graft.operators.Tokenizer.readBpeModel(s, path)
      val counts = graft.operators.Tokenizer
        .bpeTokenCounts(docs, "text", "doc_id", model.merges,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .select(col("doc_id"), col("n_tokens"))
      val asg = Sampling.shardAssign(counts, "doc_id", "n_tokens",
        shardWeight = 5000L)
      val toks = graft.operators.Tokenizer
        .bpeTokenize(docs, "text", "doc_id", model.merges,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .join(asg.select(col("doc_id"), col("shard"), col("offset")),
          Seq("doc_id"))
      Sampling.packTokens(toks, seqLen = 512L,
          groupCol = Some("shard"), orderCol = Some("offset"))
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- DSIR score-gate contract: job 1 writes the dense
    // fixed-point bucket model as a lake artifact; the gate collects
    // it once (bounded: `buckets` longs, the codebook pattern) and
    // admits target-leaning docs with a ZERO-shuffle stateless filter
    // — the streaming twin is the identical plan (StreamDsirGate).
    "q216_dsir_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_dsirmodel"
      graft.operators.Curation.writeDsirModel(docs, "text",
        isTarget = col("lang") === "en", buckets = 1024,
        salt = "graft", lake)
      val model = s.read.parquet(lake).select(col("b"), col("lr_micro"))
        .orderBy("b").collect()
      require(model.length == 1024 && model.head.getLong(0) == 0L,
        "dsir model artifact must be dense over [0, buckets)")
      val lr = model.map(_.getLong(1))
      graft.streaming.StreamDsirGate.batch(docs, "text", "doc_id", lr)
    }),
    // ---- DSIR model FOLD-IN (the artifact-append sibling of the
    // hash/sig/keeper lakes, but EXACT: bucket counts are additive
    // integers, so append-then-gate is bit-identical to rebuild —
    // the oracle is q216's full-corpus replica, unchanged): build the
    // model on even docs, fold in the odd docs, gate the corpus.
    "q217_dsir_model_fold" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_dsirfold"
      graft.operators.Curation.writeDsirModel(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text",
        isTarget = col("lang") === "en", buckets = 1024,
        salt = "graft", lake)
      graft.operators.Curation.appendDsirModel(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), "text",
        isTarget = col("lang") === "en", salt = "graft", lake)
      val model = s.read.parquet(lake).select(col("b"), col("lr_micro"))
        .orderBy("b").collect()
      require(model.length == 1024 && model.head.getLong(0) == 0L,
        "dsir model artifact must be dense over [0, buckets)")
      val lr = model.map(_.getLong(1))
      graft.streaming.StreamDsirGate.batch(docs, "text", "doc_id", lr)
    }),
    // ---- END-TO-END SELECTION PIPELINE: the corpus-to-training-set
    // chain the new stages exist for — length floor -> exact dedup ->
    // DSIR selection (top-200 vs the English target) -> BPE learned ON
    // THE SELECTION -> per-source token-budget admission. Each stage
    // is the already-certified operator; the selection frame persists
    // once (kept) because three downstream stages read it.
    "q215_selection_pipeline" -> ((s, dir) =>
      selectionPipeline(s, dir)),
    // ---- CAPSTONE corpus-to-shards: the q215 chain's admitted set
    // laid out as deterministic training shards (q224's layout step)
    // — the full platform arc, curation to the trainer's loader
    "q225_selection_shards" -> ((s, dir) =>
      Sampling.shardAssign(
        selectionPipeline(s, dir).select(col("doc_id"),
          col("n_tokens")),
        "doc_id", "n_tokens", shardWeight = 800L)),
    // ---- shard provenance MANIFEST: per-shard doc count, token sum,
    // and order-sensitive content digest (md5 of doc ids in offset
    // order) over the q225 assignment — the reproducibility
    // attestation recorded beside a landed training set; two layouts
    // agree iff the digests do
    "q235_shard_manifest" -> ((s, dir) =>
      Sampling.shardManifest(Sampling.shardAssign(
        selectionPipeline(s, dir).select(col("doc_id"),
          col("n_tokens")),
        "doc_id", "n_tokens", shardWeight = 800L))),
    // ---- PHYSICAL shard layout: the q225 assignment LANDED as a
    // shard=N/-partitioned parquet table (no second sort, no shuffle
    // — the assignment's range order streams task-locally into the
    // directories) and READ BACK — the oracle certifies the on-disk
    // layout round-trips to exactly the q225 assignment, per-shard
    // doc sets and offsets included. SIDE-EFFECTING like the lakes.
    "q228_selection_shard_write" -> ((s, dir) => {
      val assigned = Sampling.shardAssign(
        selectionPipeline(s, dir).select(col("doc_id"),
          col("n_tokens")),
        "doc_id", "n_tokens", shardWeight = 800L)
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_shards"
      Sampling.writeShards(assigned, path)
      // partition-column type inference reads shard=N dirs as ints
      s.read.parquet(path).select(col("doc_id"), col("n_tokens"),
        col("shard").cast("long").as("shard"), col("offset"))
    }),
    // ---- STREAMING SHARD APPEND: the landing half of the streamed
    // corpus→trainer arc — two micro-batches append to the shard
    // layout through the versioned running-weight cursor (new shards
    // only; closed shards' files are never rewritten), and the
    // cumulative READ-BACK must round-trip to the (batch, md5, id)-
    // ordered global assignment the oracle replays in SQL.
    // SIDE-EFFECTING like the lakes.
    "q239_stream_shard_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_shardstream"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), root,
        "doc_id", "n_tokens", shardWeight = 5000L, batchId = 0L)
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), root,
        "doc_id", "n_tokens", shardWeight = 5000L, batchId = 1L)
      graft.streaming.StreamShardLayout.readLayout(s, root)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("offset"))
    }),
    // ---- STREAMED pack of CLOSED shards: the live trainer's
    // consumption step over the q239 streamed layout — shards below
    // the layout's maximum are immutable, so they pack exactly once,
    // independently, while ingest would keep landing newer ones; the
    // open (max) shard is excluded. Per-(shard, seq) digests certify
    // the closed-only filter, the (offset, doc) order, and the
    // straddling. SIDE-EFFECTING like q239 (same layout root).
    "q256_stream_pack_closed" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_packstream"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), root,
        "doc_id", "n_tokens", shardWeight = 5000L, batchId = 0L)
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), root,
        "doc_id", "n_tokens", shardWeight = 5000L, batchId = 1L)
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      graft.streaming.StreamShardLayout
        .packClosedShards(s, root, toks, seqLen = 512L)
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- LANDED-TOKEN incremental pack — the O(new shards)-on-BOTH-
    // sides steady-state path: each batch lands its token stream
    // BESIDE its layout increment (appendTokens: tokens ride
    // `tokens/inc_b<k>/shard=N/` with the doc's (shard, offset)), and
    // packLandedShards reads both sides out of shard-pruned
    // partitions with NO corpus-stream join at all — the round-16
    // residue (packClosedShards re-scanning the full token stream per
    // poll) eliminated. Digests must equal q256's exactly: same
    // layout, same pack, different (incremental) physical path.
    // SIDE-EFFECTING like the lakes.
    "q259_pack_landed" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_landtok"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L); land(1L)
      graft.streaming.StreamShardLayout
        .packLandedShards(s, root, seqLen = 512L)
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- STREAMED pack with SEPARATORS + SPANS: the q256 arc
    // emitting the full trainer metadata the batch arc (q251/q252)
    // certifies — one `<eos>` boundary token per document injected
    // inside the landed pack (riding the layout's (shard, offset)
    // keys), and per-(shard, seq, doc) spans over the eos-shifted
    // offsets. A document's span INCLUDES its eos row (the boundary
    // belongs to the doc that ends). SIDE-EFFECTING like the lakes.
    "q260_stream_pack_spans" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_spanstream"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L); land(1L)
      Sampling.sequenceSpans(
        graft.streaming.StreamShardLayout.packLandedShards(s, root,
          seqLen = 512L, sep = Some("<eos>")),
        docIdCol = "doc_id", groupCol = Some("shard"))
    }),
    // ---- PHYSICAL trainer-batch artifact: the q255 id stream + the
    // q251 eos separators + the q252 spans composed into ONE landed
    // `sequences/` table — fixed-length array<bigint> token-id rows
    // with per-document span structs and per-row order-sensitive
    // digests, meta-attested (count + sum-folded digest re-verified
    // on read, the writeBpeModel discipline). This is the file a
    // loader mmaps; the q-entry reads the ARTIFACT back and reports
    // the per-sequence digests, so the oracle certifies the landing,
    // not just the plan. SIDE-EFFECTING (artifact writes).
    "q261_sequences_artifact" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      // the eos id comes from the PERSISTED special-token registry
      // (round 18): land the vocab artifact WITH its registry, read
      // the registry back digest-verified, and validate it against
      // the vocab in hand — never re-derive max(token_id) + 1 at the
      // call site (a stale derivation silently collides with real
      // vocabulary ids)
      val vpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_seqvocab"
      graft.operators.Tokenizer.writeBpeVocab(s, vpath, vocab,
        specials = Seq("eos"))
      val eosId = graft.operators.Tokenizer.readBpeSpecials(s, vpath)
        .validateAgainst(vocab).eos
      val ids = graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", m, vocab,
          byteFallback = true)
        .where(col("token_id").isNotNull)
        .select(col("doc_id"), col("pos"),
          col("token_id").cast("string").as("token"))
      val withSep = Sampling.appendDocSeparator(ids, eosId.toString,
        keys = Seq("doc_id"))
      val packed = Sampling.packTokens(withSep, seqLen = 64L)
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_seqart"
      Sampling.writeSequences(Sampling.packSequences(packed), path)
      Sampling.readSequences(s, path)
        .select(col("seq"), col("n_ids").as("n_tokens"),
          col("ids_digest"))
    }),
    // ---- STREAMED CURRICULUM layout: two micro-batches append in
    // explicit (n_chars, id) order through the same versioned weight
    // cursor as q239 — the honest streamed-curriculum contract: each
    // increment is curriculum-ordered WITHIN itself, the global order
    // is (batch, n_chars, id) (an increment cannot know scores that
    // haven't arrived). SIDE-EFFECTING like the lakes.
    "q262_curriculum_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"),
        col("n_chars"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_currstream"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      graft.streaming.StreamShardLayout.appendIncrementOrdered(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), root,
        "doc_id", "n_tokens", orderCol = "n_chars",
        shardWeight = 5000L, batchId = 0L)
      graft.streaming.StreamShardLayout.appendIncrementOrdered(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), root,
        "doc_id", "n_tokens", orderCol = "n_chars",
        shardWeight = 5000L, batchId = 1L)
      graft.streaming.StreamShardLayout.readLayout(s, root)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("offset"))
    }),
    // ---- STREAMED TRAINER-LOOP CAPSTONE: the complete round-16/17
    // arc in one oracle — learn + persist the byte-fallback model AND
    // vocabulary, stream the corpus in two micro-batches whose
    // foreachBatch lands layout increments (weights = the model's own
    // token counts) AND the id-encoded piece streams beside them
    // (appendTokens), pack the closed shards from the LANDED ids with
    // `<eos>` (= max vocab id + 1) injected, collapse to one row per
    // sequence, LAND the per-shard `sequences/` artifact, and read it
    // back digest-attested. The oracle replays every stage: learn
    // CTEs → id vocab → piece counts → (batch, md5, id) shard window
    // → closed filter → eos-shifted per-shard pack → per-(shard, seq)
    // id digests. SIDE-EFFECTING (model + layout + artifact writes).
    "q264_stream_sequences_capstone" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val mpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_capmodel"
      graft.operators.Tokenizer.writeBpeModel(s, mpath,
        graft.operators.Tokenizer.bpeMerges(pc, "text", merges = 8,
          byteFallback = true).orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq,
        byteFallback = true)
      val model = graft.operators.Tokenizer.readBpeModel(s, mpath)
      graft.operators.Tokenizer.writeBpeVocab(s, mpath,
        graft.operators.Tokenizer.bpeVocabulary(pc, "text",
          model.merges, unicode = model.unicode,
          byteFallback = model.byteFallback),
        specials = Seq("eos"))
      val vocab = graft.operators.Tokenizer.readBpeVocab(s, mpath)
      // eos from the persisted REGISTRY (round 18), validated against
      // the read-back vocab — the trainer contract, not a re-derived
      // max(token_id) + 1 convention
      val eosId = graft.operators.Tokenizer.readBpeSpecials(s, mpath)
        .validateAgainst(vocab).eos
      val counts = graft.operators.Tokenizer
        .bpeTokenCounts(pc, "text", "doc_id", model.merges,
          unicode = model.unicode, byteFallback = model.byteFallback)
        .select(col("doc_id"), col("n_tokens"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_capstream"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = counts.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        val ids = graft.operators.Tokenizer
          .bpeEncodeIds(pc.where(pmod(col("doc_id"), lit(2)) === b),
            "text", "doc_id", model.merges, vocab,
            unicode = model.unicode, byteFallback = model.byteFallback)
          .where(col("token_id").isNotNull)
          .select(col("doc_id"), col("pos"),
            col("token_id").cast("string").as("token"))
        graft.streaming.StreamShardLayout.appendTokens(ids, a, root,
          batchId = b)
      }
      land(0L); land(1L)
      val packed = graft.streaming.StreamShardLayout
        .packLandedShards(s, root, seqLen = 64L,
          sep = Some(eosId.toString))
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_capseq"
      Sampling.writeSequences(
        Sampling.packSequences(packed, groupCol = Some("shard")),
        path, groupCol = Some("shard"))
      Sampling.readSequences(s, path)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest"))
    }),
    // ---- deterministic EPOCH SCHEDULE: the reproducible per-epoch
    // shuffle over packed sequences — shards visited in
    // md5(shard, epoch) order, sequences within a shard in
    // md5(shard, seq, epoch) order (the two-level shuffle real
    // loaders use: epochs decorrelate, shard boundaries never split,
    // and the whole schedule is a pure function of
    // (shard, seq, epoch, salt) — a training run's data order is
    // auditable after the fact). Over the q247 shard pack.
    "q266_epoch_schedule" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long")
          .as("n_tokens"))
      val asg = Sampling.shardAssign(counts, "doc_id", "n_tokens",
        shardWeight = 5000L)
      val toks = docs.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
        .join(asg.select(col("doc_id"), col("shard"), col("offset")),
          Seq("doc_id"))
      val packed = Sampling.packTokens(toks, seqLen = 512L,
          groupCol = Some("shard"), orderCol = Some("offset"))
        .select(col("shard"), col("seq")).distinct()
      Sampling.epochSchedule(packed, epoch = 1L)
        .select(col("shard"), col("seq"), col("shard_rank"),
          col("seq_rank"))
    }),
    // ---- SPECIAL-TOKEN REGISTRY (round 18): the vocabulary artifact
    // carries NAMED reserved ids directly above the vocabulary plus
    // the embedding size — the trainer contract that retires the
    // re-derived max(token_id)+1 eos convention (two independent
    // derivations against different vocabs silently collide a
    // boundary token with a real id; the registry makes it an
    // attested artifact field). The q-entry lands the artifact WITH
    // its registry and reads it back digest- and
    // consistency-verified; the oracle re-derives the reserved block
    // from the vocab CTEs alone. SIDE-EFFECTING (artifact writes).
    "q267_special_registry" -> ((s, dir) => {
      import s.implicits._
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      val vpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_registry"
      graft.operators.Tokenizer.writeBpeVocab(s, vpath, vocab,
        specials = Seq("eos", "pad"))
      val reg = graft.operators.Tokenizer.readBpeSpecials(s, vpath)
        .validateAgainst(vocab)
      reg.ids.toSeq.sortBy(_._2)
        .map { case (n, id) => (n, id, reg.embeddingSize) }
        .toDF("name", "token_id", "embedding_size")
    }),
    // ---- LOADER-FINAL padded sequences (round 18): the q261
    // artifact with the tail sequence right-padded to seqLen using
    // the REGISTERED pad id (the special-token registry, q267) — so
    // every row's ids array is the fixed length a trainer mmaps with
    // no loader-side branch; n_ids still records the real length and
    // the digest attests the ids AS LANDED (pad included).
    // SIDE-EFFECTING (artifact writes).
    "q268_padded_sequences" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      val vpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_padvocab"
      graft.operators.Tokenizer.writeBpeVocab(s, vpath, vocab,
        specials = Seq("eos", "pad"))
      val reg = graft.operators.Tokenizer.readBpeSpecials(s, vpath)
        .validateAgainst(vocab)
      val ids = graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", m, vocab,
          byteFallback = true)
        .where(col("token_id").isNotNull)
        .select(col("doc_id"), col("pos"),
          col("token_id").cast("string").as("token"))
      val withSep = Sampling.appendDocSeparator(ids, reg.eos.toString,
        keys = Seq("doc_id"))
      val packed = Sampling.packTokens(withSep, seqLen = 64L)
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_padseq"
      Sampling.writeSequences(Sampling.packSequences(packed,
        padTo = Some((64L, reg.pad.get))), path)
      Sampling.readSequences(s, path)
        .select(col("seq"), col("n_ids").as("n_tokens"),
          size(col("ids")).cast("long").as("n_landed"),
          col("ids_digest"))
    }),
    // ---- LOADER CONSUMPTION with a RESUMABLE CURSOR (round 18): the
    // consumed stream a trainer's loader actually walks — the q266
    // epoch schedule composed over a LANDED sequences artifact
    // (attested read-back), resumed strictly after a persisted
    // (epoch, shard_rank, seq_rank) cursor — the trainer-restart
    // story: re-read nothing, skip nothing. The oracle is the q266
    // schedule replica with per-sequence counts and the same cursor
    // predicate. SIDE-EFFECTING (artifact + cursor writes).
    "q269_loader_consume" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long")
          .as("n_tokens"))
      val asg = Sampling.shardAssign(counts, "doc_id", "n_tokens",
        shardWeight = 5000L)
      // token VALUE = the owning doc_id (castable to the artifact's
      // long ids; the schedule and per-sequence counts are what the
      // oracle certifies — id content is q261/q268's contract)
      val toks = docs.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
        .join(asg.select(col("doc_id"), col("shard"), col("offset")),
          Seq("doc_id"))
      val packed = Sampling.packTokens(toks, seqLen = 512L,
        groupCol = Some("shard"), orderCol = Some("offset"))
      val path =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_loaderseq"
      Sampling.writeSequences(
        Sampling.packSequences(packed, groupCol = Some("shard")),
        path, groupCol = Some("shard"))
      val seqs = Sampling.readSequences(s, path)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids"))
      // the restart: cursor persisted at (epoch 1, shard_rank 2,
      // seq_rank 3), read back, consumption resumes strictly after
      Sampling.writeLoaderCursor(s, s"${path}_cursor",
        Sampling.LoaderCursor(1L, 2L, 3L))
      val cur = Sampling.readLoaderCursor(s, s"${path}_cursor")
      Sampling.consumeEpoch(seqs, epoch = 1L, cursor = cur)
        .select(col("shard"), col("seq"), col("n_ids").as("n_tokens"),
          col("shard_rank"), col("seq_rank"))
    }),
    // ---- SEQUENCE LAKE end to end (round 18): two trainer polls
    // land their packSequences artifacts as lake increments
    // (inc_b<poll>), the closed poll folds through the _live_v<k>
    // pointer compaction (meta sum-fold re-attested), and the LAKE
    // read-back — every live artifact digest-verified — must equal
    // the batch replica of the whole closed range: the poll
    // boundaries and the fold must leave no seam. Token ids are the
    // owning doc_id (castable; content idiom shared with q269).
    // SIDE-EFFECTING (layout + lake writes).
    "q270_sequence_lake" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_sl_layout"
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_sl_lake"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L)
      val open0 = graft.streaming.StreamShardLayout.readLayout(s, root)
        .agg(max(col("shard").cast("long"))).collect().head.getLong(0)
      graft.streaming.SequenceLake.appendSequences(
        Sampling.packSequences(graft.streaming.StreamShardLayout
          .packLandedShards(s, root, seqLen = 512L),
          groupCol = Some("shard")),
        lake, 0L, groupCol = Some("shard"))
      land(1L)
      graft.streaming.SequenceLake.appendSequences(
        Sampling.packSequences(graft.streaming.StreamShardLayout
          .packLandedShards(s, root, seqLen = 512L,
            fromShard = open0),
          groupCol = Some("shard")),
        lake, 1L, groupCol = Some("shard"))
      graft.streaming.SequenceLake.compactSequenceLake(s, lake,
        groupCol = Some("shard"))
      graft.streaming.SequenceLake.readSequenceLake(s, lake)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest"))
    }),
    // ---- WATERMARK-FREE trainer poll (round 18): q270's arc driven
    // by pollLandedShards — the poll watermark is DERIVED from the
    // lake itself (max committed landed shard + 1, partition-dir
    // names only), so a cold trainer restart resumes exactly where
    // the lake ends with no cursor file to persist or tear. Two polls
    // around the second ingest batch, a no-op poll in between (proves
    // nothing double-lands), compaction, and the lake read-back must
    // equal q270's oracle verbatim. SIDE-EFFECTING.
    "q273_trainer_poll" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_tp_layout"
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_tp_lake"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L)
      graft.streaming.SequenceLake.pollLandedShards(s, root, lake,
        seqLen = 512L)
      // no new closed shards since -> must be a no-op
      require(graft.streaming.SequenceLake
        .pollLandedShards(s, root, lake, seqLen = 512L).isEmpty,
        "immediate re-poll must be a no-op")
      land(1L)
      graft.streaming.SequenceLake.pollLandedShards(s, root, lake,
        seqLen = 512L)
      graft.streaming.SequenceLake.compactSequenceLake(s, lake,
        groupCol = Some("shard"))
      graft.streaming.SequenceLake.readSequenceLake(s, lake)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest"))
    }),
    // ---- GROWTH-SAFE loader consumption (round 19): the complete
    // composition SequenceLake.consume = lake read x pinned epoch
    // schedule x resumable cursor, ACROSS A MID-EPOCH POLL — the
    // round-18 verdict's top finding made real: the epoch pins its
    // shard set at epoch start (pinEpoch manifest), a trainer
    // checkpoints a cursor, the SECOND batch lands and polls MORE
    // shards, and the restart (manifest + cursor both re-read from
    // disk) consumes exactly the pinned remainder — ranks computed
    // over the PINNED set, the mid-epoch shards invisible until the
    // next epoch's pin. The oracle replays the batch-0-only layout
    // (closed shards of the first poll), the q266-style rank CTEs
    // over THAT shard set, and the cursor predicate — if consume
    // ranked the grown set instead, every rank would shift and the
    // hash would catch it. SIDE-EFFECTING.
    "q274_pinned_consume" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_pc_layout"
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_pc_lake"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout.appendIncrement(
          part, root, "doc_id", "n_tokens", shardWeight = 5000L,
          batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L)
      graft.streaming.SequenceLake.pollLandedShards(s, root, lake,
        seqLen = 512L)
      // EPOCH START: pin the first poll's shard set, then checkpoint
      // a cursor (last processed = shard_rank 1, seq_rank 2)
      graft.streaming.SequenceLake.pinEpoch(s, lake, s"${lake}_mf",
        epoch = 1L)
      Sampling.writeLoaderCursor(s, s"${lake}_cur",
        Sampling.LoaderCursor(1L, 1L, 2L))
      // MID-EPOCH GROWTH: more shards land and poll into the lake
      // between the checkpoint and the restart
      land(1L)
      graft.streaming.SequenceLake.pollLandedShards(s, root, lake,
        seqLen = 512L)
      // RESTART: manifest + cursor from disk; exactly the pinned
      // remainder, ranks unmoved by the growth
      val mf = Sampling.readEpochManifest(s, s"${lake}_mf")
      val cur = Sampling.readLoaderCursor(s, s"${lake}_cur")
      graft.streaming.SequenceLake.consume(s, lake, epoch = 1L,
          cursor = cur, pinned = Some(mf))
        .select(col("shard"), col("seq"), col("n_ids").as("n_tokens"),
          col("shard_rank"), col("seq_rank"))
    }),
    // ---- STREAMED trainer arc, MemoryStream-driven with IN-ARC
    // maintenance (round 19): ingestTrainerArc(compactEvery = 1) —
    // one streaming query lands each micro-batch's layout increment
    // + token stream, polls the sequence lake, AND runs both
    // reader-isolated compactions inside the same foreachBatch (the
    // single-maintainer "between polls" contract satisfied where it
    // is trivially true: the arc IS the poller). Two micro-batches
    // (even docs, then odd), so the folds really run (pointer
    // generations exist on layout/tokens/lake); the lake read-back
    // must land q270/q273's oracle VERBATIM — the packaged streaming
    // route with maintenance on equals the single batch pack.
    // SIDE-EFFECTING.
    "q275_trainer_arc" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val base = t(s, dir, "documents")
      val docs = Lineage.keep(base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens")))
      val toksAll = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "__w")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("doc_id").cast("string").as("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ta_layout"
      val lake =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_ta_lake"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      // the stream carries ids only (a bounded driver-side id list
      // per micro-batch — the MemoryStream harness, not a data
      // collect); weights and tokens come from stream-static joins
      val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        s.sqlContext
      import s.implicits._
      val mem = MemoryStream[Long]
      val stream = mem.toDF().toDF("doc_id").join(docs, Seq("doc_id"))
      def tokenize(b: DataFrame): DataFrame =
        b.select(col("doc_id")).join(toksAll, Seq("doc_id"))
      val q = graft.streaming.StreamShardLayout.ingestTrainerArc(
        stream, root, lake,
        java.nio.file.Files.createTempDirectory("graft_ta_cp")
          .toString,
        "doc_id", "n_tokens", shardWeight = 5000L, tokenize,
        seqLen = 512L, compactEvery = 1)
      try {
        mem.addData(ids.filter(_ % 2 == 0).toSeq: _*)
        q.processAllAvailable()
        mem.addData(ids.filter(_ % 2 == 1).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.SequenceLake.readSequenceLake(s, lake)
        .select(col("shard").cast("long").as("shard"), col("seq"),
          col("n_ids").as("n_tokens"), col("ids_digest"))
    }),
    // ---- GPT-2-style PRE-TOKENIZATION (round 19): learning AND
    // encoding under the published contraction/letter-run/digit-run/
    // punct-run pattern (Tokenizer.PretokPattern — the same literal
    // regex in Java and DuckDB RE2), byte-fallback retained for
    // out-of-class code points WITHIN a piece. `don't` segments as
    // don + 't and `co-op` as co + - + op instead of shattering
    // mid-word into byte placeholders. Output: per-doc token count +
    // order-sensitive piece digest — merges, segmentation, and piece
    // order all have to agree with the oracle's RE2 replay.
    "q276_pretok_encode" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true, pretok = true)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Tokenizer.bpeTokenize(pc, "text", "doc_id", m,
          byteFallback = true, pretok = true)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(array_sort(collect_list(struct(
              col("pos"), col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- pretok FERTILITY A/B (round 19): class-run vs pretok
    // segmentation on the punctuated corpus, each under its OWN
    // 8-merge byte-fallback model, fertility measured against the
    // same denominator (whitespace words) — the q263-style audit row
    // that shows where the pretok mode buys its win (the 'punct'
    // lang's don't/co-op docs stop paying byte-level fertility).
    "q277_pretok_fertility" -> ((s, dir) => {
      val pc = Lineage.keep(punctCorpus(s, dir))
      def learn(pt: Boolean) = graft.operators.Tokenizer.bpeMerges(
          pc, "text", merges = 8, byteFallback = true, pretok = pt)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val cr = graft.operators.Tokenizer.bpeTokenCounts(pc, "text",
        "doc_id", learn(false), byteFallback = true)
      val pt = graft.operators.Tokenizer.bpeTokenCounts(pc, "text",
          "doc_id", learn(true), byteFallback = true, pretok = true)
        .select(col("doc_id"), col("n_tokens").as("pt_tokens"))
      cr.join(pt, Seq("doc_id"))
        .join(pc.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("classrun_tokens"),
          sum(col("pt_tokens")).as("pretok_tokens"),
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6)
            .as("classrun_fertility"),
          round(sum(col("pt_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 6)
            .as("pretok_fertility"))
    }),
    // ---- BOS + EOS packing (round 18): both boundary tokens from
    // the REGISTERED special block — prependDocStart puts the bos id
    // at position 1 and shifts the document up one (the packTokens
    // 1-based-consecutive contract holds by construction),
    // appendDocSeparator lands the eos after the last real token.
    // The oracle replays the id chain with the bos/eos rows derived
    // from the same reserved-id CTEs (eos = max+1, bos = max+2 in
    // registration order). SIDE-EFFECTING (vocab artifact writes).
    "q271_bos_eos_pack" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val m = graft.operators.Tokenizer.bpeMerges(pc, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(pc, "text",
        m, byteFallback = true)
      val vpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_bosvocab"
      graft.operators.Tokenizer.writeBpeVocab(s, vpath, vocab,
        specials = Seq("eos", "bos"))
      val reg = graft.operators.Tokenizer.readBpeSpecials(s, vpath)
        .validateAgainst(vocab)
      val ids = graft.operators.Tokenizer
        .bpeEncodeIds(pc, "text", "doc_id", m, vocab,
          byteFallback = true)
        .where(col("token_id").isNotNull)
        .select(col("doc_id"), col("pos"),
          col("token_id").cast("string").as("token"))
      val withBos = Sampling.prependDocStart(ids,
        reg.bos.get.toString, keys = Seq("doc_id"))
      val withSep = Sampling.appendDocSeparator(withBos,
        reg.eos.toString, keys = Seq("doc_id"))
      Sampling.packTokens(withSep, seqLen = 64L)
        .groupBy(col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__i")))),
            x => x.getField("__i")), ",")).as("ids_digest"))
    }),
    // ---- UNK-mapped held-out encode (round 18): the q263 coverage
    // scenario made TRAINER-READY — nulls from the frozen-vocabulary
    // left join map to the REGISTERED unk id (reserved above the
    // vocabulary, so no real piece can carry it and the audit signal
    // survives exactly as `token_id == unk`), leaving a null-free
    // stream whose positions stay contiguous through packing.
    // SIDE-EFFECTING (vocab artifact writes).
    "q272_unk_encode" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val train = pc.where(pmod(col("doc_id"), lit(2)) === 0)
      val ho = pc.where(pmod(col("doc_id"), lit(2)) === 1)
      val m = graft.operators.Tokenizer.bpeMerges(train, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(train,
        "text", m, byteFallback = true)
      val vpath =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_unkvocab"
      graft.operators.Tokenizer.writeBpeVocab(s, vpath, vocab,
        specials = Seq("eos", "unk"))
      val reg = graft.operators.Tokenizer.readBpeSpecials(s, vpath)
        .validateAgainst(vocab)
      graft.operators.Tokenizer
        .bpeEncodeIds(ho, "text", "doc_id", m, vocab,
          byteFallback = true, unk = reg.unk)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("token_id") === reg.unk.get, 1L)
            .otherwise(0L)).as("n_unk"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"),
              col("token_id").cast("string").as("__i")))),
            x => x.getField("__i")), ",")).as("ids_digest"))
    }),
    // ---- CURRICULUM layout x LANDED PACK: the streamed curriculum
    // (q262's (batch, n_chars, id) order) composed with the
    // landed-token pack — shard k's sequences are strictly "earlier
    // curriculum" than shard k+1's, and the trainer consumes them
    // through the same O(new)-both-sides poll as the hash layout
    // (the landed pack is layout-order-agnostic by construction: it
    // reads (shard, offset) wherever they came from).
    // SIDE-EFFECTING like the lakes.
    "q265_curriculum_pack" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"),
        col("n_chars"))
      val toks = base.select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_currpack"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      def land(b: Long): Unit = {
        val part = docs.where(pmod(col("doc_id"), lit(2)) === b)
        val a = graft.streaming.StreamShardLayout
          .appendIncrementOrdered(part, root, "doc_id", "n_tokens",
            orderCol = "n_chars", shardWeight = 5000L, batchId = b)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
      }
      land(0L); land(1L)
      graft.streaming.StreamShardLayout
        .packLandedShards(s, root, seqLen = 512L)
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("seq_off"),
              col("token").as("__t")))),
            x => x.getField("__t")), ",")).as("tok_digest"))
    }),
    // ---- HELD-OUT fertility/coverage audit under the CLOSED
    // vocabulary: learn model + vocab on the even half of the
    // punctuated corpus, encode the DISJOINT odd half under them, and
    // report per-lang fertility plus the NULL-ID count from the
    // encode's left join — the coverage audit a trainer runs before
    // shipping a tokenizer (train-corpus fertility says nothing about
    // held-out behavior; an in-class code point or byte the training
    // half never contained surfaces here as a null id, e.g. the
    // held-out CJK/URL rows against the Latin-heavy training half).
    "q263_heldout_fertility" -> ((s, dir) => {
      val pc = punctCorpus(s, dir)
      val train = pc.where(pmod(col("doc_id"), lit(2)) === 0)
      val ho = pc.where(pmod(col("doc_id"), lit(2)) === 1)
      val m = graft.operators.Tokenizer.bpeMerges(train, "text",
          merges = 8, byteFallback = true).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.operators.Tokenizer.bpeVocabulary(train,
        "text", m, byteFallback = true)
      val perDoc = graft.operators.Tokenizer
        .bpeEncodeIds(ho, "text", "doc_id", m, vocab,
          byteFallback = true)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__nt"),
          sum(when(col("token_id").isNull, 1L).otherwise(0L))
            .as("__nn"))
      perDoc
        .join(ho.select(col("doc_id"), col("lang"),
          size(split(trim(lower(col("text"))), "\\s+")).cast("long")
            .as("__nw")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("__nw")).as("n_words"),
          sum(col("__nt")).as("n_tokens"),
          sum(col("__nn")).as("n_null_ids"),
          round(sum(col("__nt")).cast("double") /
            sum(col("__nw")).cast("double"), 6).as("fertility"))
    }),
    // ---- STREAMED corpus→trainer CAPSTONE: the q215 selection
    // chain's admitted set landed INCREMENTALLY — two micro-batches of
    // the real selection output append through the weight cursor, and
    // the cumulative layout round-trips to the exact SQL replay
    // (selection chain + one (batch, md5, id) running sum). The
    // platform arc streamed end to end with an exact oracle.
    // SIDE-EFFECTING like the lakes.
    "q240_selection_shard_stream" -> ((s, dir) => {
      val sel = Lineage.keep(selectionPipeline(s, dir)
        .select(col("doc_id"), col("n_tokens")))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_selshards"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      graft.streaming.StreamShardLayout.appendIncrement(
        sel.where(pmod(col("doc_id"), lit(2)) === 0), root,
        "doc_id", "n_tokens", shardWeight = 800L, batchId = 0L)
      graft.streaming.StreamShardLayout.appendIncrement(
        sel.where(pmod(col("doc_id"), lit(2)) === 1), root,
        "doc_id", "n_tokens", shardWeight = 800L, batchId = 1L)
      graft.streaming.StreamShardLayout.readLayout(s, root)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("offset"))
    }),
    // ---- STREAMED TRAINER MANIFEST: the q235 per-shard attestation
    // (doc count, token sum, order-sensitive digest) assembled from
    // the per-batch manifest rows appendIncrement lands beside each
    // increment — a trainer consumes THIS, never a directory listing,
    // so the q235 digest contract extends to the streamed arc as pure
    // metadata (no data file is opened). Layout: the q240 streamed
    // selection, two appends through the weight cursor.
    // SIDE-EFFECTING like the lakes.
    "q244_stream_shard_manifest" -> ((s, dir) => {
      val sel = Lineage.keep(selectionPipeline(s, dir)
        .select(col("doc_id"), col("n_tokens")))
      val root =
        s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_manshards"
      graft.streaming.StreamShardLayout.initLayout(s, root)
      graft.streaming.StreamShardLayout.appendIncrement(
        sel.where(pmod(col("doc_id"), lit(2)) === 0), root,
        "doc_id", "n_tokens", shardWeight = 800L, batchId = 0L)
      graft.streaming.StreamShardLayout.appendIncrement(
        sel.where(pmod(col("doc_id"), lit(2)) === 1), root,
        "doc_id", "n_tokens", shardWeight = 800L, batchId = 1L)
      graft.streaming.StreamShardLayout.readShardManifest(s, root,
        "n_tokens")
    }),
    // ---- per-source token-budget admission under the LEARNED
    // tokenizer: BPE learn -> zero-shuffle token counting -> the
    // budget gate's batch twin (one source-keyed window; the streaming
    // gate holds one Long per source and is spec'd stream==batch)
    "q214_token_budget_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Tokenizer.bpeMerges(docs, "text",
          merges = 8).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val counts = graft.operators.Tokenizer
        .bpeTokenCounts(docs, "text", "doc_id", m)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.streaming.StreamTokenBudget.batch(counts, budget = 800L)
    }),
    // ---- CALIBRATE→RUN filter contract: job 1 writes the q197
    // retention curve as an artifact, the threshold decision picks the
    // most aggressive calibrated threshold retaining >= 60% of token
    // mass from the ARTIFACT (a bounded driver-side read, like a
    // codebook), and job 2 filters the corpus at the picked threshold
    // — the two-job shape that stops a 100 TB filter run from
    // re-deriving its own threshold. SIDE-EFFECTING like the lakes.
    "q202_calibrated_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lake = s"$LakeRoot/${dir.replaceAll("[^A-Za-z0-9]", "_")}_cal"
      def scored = docs.select(col("doc_id"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Curation.writeFilterCalibration(scored, "quality",
        "n_tokens", thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
        s"$lake/curve")
      val thr = graft.operators.Curation.pickCalibratedThreshold(s,
        s"$lake/curve", minWeightFrac = 0.6)
      scored.where(col("quality") >= lit(thr))
        .select(col("doc_id"), col("quality"), col("n_tokens"),
          lit(thr).as("threshold"))
    }),
    // ---- bigram-interpolated LM score (the CCNet perplexity-filter
    // discipline, one model order above q104's unigram score)
    "q199_lm_bigram" -> ((s, dir) =>
      Analytics.lmScoreBigram(t(s, dir, "documents"), "text", "doc_id",
        lambda = 0.75)),
    // ---- split-leakage audit: near-dup pairs that straddle the
    // train/test hash split — the eval-integrity check every corpus
    // assembly needs (a test doc with a >=0.5-Jaccard twin in train is
    // leaked). Exact composition: PPJoin pairs + two split lookups.
    "q179_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = Sampling.hashSplit(docs.select(col("doc_id")), "doc_id",
        Seq(("train", 90), ("test", 100)))
      val pairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
        shingleLen = 3, minJaccard = 0.5, docFreqCap = 1000)
      pairs
        .join(split.select(col("doc_id").as("a"),
          col("split").as("split_a")), Seq("a"))
        .join(split.select(col("doc_id").as("b"),
          col("split").as("split_b")), Seq("b"))
        .where(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("jaccard"),
          col("split_a"), col("split_b"))
    }),
    // ---- temperature-scaled source mixing (tau=0.5: sqrt smoothing)
    "q180_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", tau = 0.5, total = 300)),
    // ---- V4 plot sink color layer: the PNG renderer's exact per-cell
    // RdBu mapping (Render.norm + Render.rdbu — the SAME JVM code the
    // heatmap pixels come from, exercised via UDF over the plot-sized
    // day×hour matrix) with the min/max normalization the reference's
    // plot2d defaults to. The oracle re-derives the piecewise-linear
    // 11-anchor interpolation independently in SQL; PlotRenderSpec pins
    // the PNG bytes to this mapping, closing oracle → colors → pixels.
    "q181_plot_colors" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("period_date"),
          hour(col("ts")).as("hour"))
        .agg(DetAgg.detAvg(col("value")).as("v"))
      // materialize the norm result once: the 10-segment ramp CaseWhen
      // references its input ~10× per channel, and CollapseProject
      // keeps the non-cheap multiply-referenced alias in its own
      // Project, so the duplicated subtree is a column ref, not the
      // whole norm expression
      val (rC, gC, bC) = graft.plots.Render.rdbuCols(col("__t"))
      cells.crossJoin(broadcast(
          cells.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))))
        .withColumn("__t",
          graft.plots.Render.normCol(col("v"), col("lo"), col("hi")))
        .select(col("period_date"), col("hour"),
          rC.as("r"), gC.as("g"), bC.as("b"))
    }),
    // ---- custom state: flatMapGroupsWithState sessionization (batch mode)
    "q47_stateful_sessions" -> ((s, dir) =>
      out(StatefulSessions.batch(t(s, dir, "events")).toDF()
        .select(col("session_start"), col("session_end"), col("user_id"),
          col("n_events"), col("total")))),
    // ---- plot3d kind="surface" color math (Render.renderSurface /
    // hillshadeRaw / softLight): per-cell RdBu base color soft-light-
    // blended with the LightSource(270,45) hillshade intensity of the
    // vert_exag=0.1 height field, np.gradient-style differences via
    // window functions — all Column arithmetic so the DATA side stays
    // distributed; only rendering is driver-side. The oracle reproduces
    // the identical operation order in SQL.
    "q185_surface_colors" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("period_date"),
          hour(col("ts")).as("hour"))
        .agg(DetAgg.detAvg(col("value")).as("v"))
      val wH = Window.partitionBy("period_date").orderBy("hour")
      val wD = Window.partitionBy("hour").orderBy("period_date")
      def grad(lagc: Column, leadc: Column, v: Column): Column =
        when(lagc.isNull && leadc.isNull, lit(0.0))
          .when(lagc.isNull, leadc - v)
          .when(leadc.isNull, v - lagc)
          .otherwise((leadc - lagc) / lit(2.0))
      val withRaw = cells
        .withColumn("dx", grad(lag(col("v"), 1).over(wH),
          lead(col("v"), 1).over(wH), col("v")))
        .withColumn("dy", grad(lag(col("v"), 1).over(wD),
          lead(col("v"), 1).over(wD), col("v")))
        .withColumn("ex", col("dx") * lit(0.1))
        .withColumn("ey", col("dy") * lit(0.1))
        .withColumn("raw", lit(0.7071067811865476) * (col("ex") + lit(1.0))
          / sqrt(col("ex") * col("ex") + col("ey") * col("ey") + lit(1.0)))
      val mm = withRaw.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        min(col("raw")).as("rmin"), max(col("raw")).as("rmax"))
      def blend(ch: Column, i: Column): Column =
        floor(((lit(2.0) * i) * (ch / lit(255.0)) +
          (lit(1.0) - lit(2.0) * i) *
            ((ch / lit(255.0)) * (ch / lit(255.0)))) * lit(255.0)
          + lit(0.5)).cast("int")
      // materialize the norm input AND the ramp channels in their own
      // projections before blending: the ramp CaseWhen references its
      // input ~10× per channel and blend() references its channel 3×;
      // CollapseProject keeps non-cheap multiply-referenced aliases in
      // their own Project, so each stage's expression is built (and
      // codegen'd) once instead of being duplicated into every consumer
      val (rC, gC, bC) = graft.plots.Render.rdbuCols(col("__t"))
      withRaw.crossJoin(broadcast(mm))
        .withColumn("i", when(col("rmax") === col("rmin"), lit(0.5))
          .otherwise((col("raw") - col("rmin"))
            / (col("rmax") - col("rmin"))))
        .withColumn("__t",
          graft.plots.Render.normCol(col("v"), col("lo"), col("hi")))
        .select(col("period_date"), col("hour"), col("i"),
          rC.cast("double").as("__r"), gC.cast("double").as("__g"),
          bC.cast("double").as("__b"))
        .select(col("period_date"), col("hour"),
          blend(col("__r"), col("i")).as("r"),
          blend(col("__g"), col("i")).as("g"),
          blend(col("__b"), col("i")).as("b"))
    }),
    // ---- plot3d kind="contour" level bands (Render.renderContour /
    // contourBand): each cell quantized into one of 150 level bands
    // (the reference's contour3D(…, 150) level count), band color along
    // the same RdBu ramp
    "q186_contour_bands" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("period_date"),
          hour(col("ts")).as("hour"))
        .agg(DetAgg.detAvg(col("value")).as("v"))
      val (rC, gC, bC) = graft.plots.Render.rdbuCols(
        col("band").cast("double") / lit(149.0))
      cells.crossJoin(broadcast(
          cells.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))))
        .withColumn("band", graft.plots.Render.contourBandCol(
          col("v"), col("lo"), col("hi"), 150))
        .select(col("period_date"), col("hour"),
          col("band").cast("long").as("band"),
          rC.as("r"), gC.as("g"), bC.as("b"))
    })
  )

  // =========================================================== oracle SQL

  def oracleSql: Map[String, String] = {
    // shared BPE learning CTE chain (q212 learn, q213 learn+encode):
    // v0 = word vocab as sentinel symbol sequences; per round i, pair
    // counts -> deterministic argmax -> literal replace merge
    // TOTALITY: each argmax CTE unions a sentinel no-op merge
    // ('0','0' — a digit can never appear in a [a-z]+ symbol
    // sequence, so its replace never fires) so a round with no
    // learnable pair yields one harmless row instead of an EMPTY CTE;
    // an empty m_i would annihilate every downstream CROSS JOIN and
    // the oracle would return 0 rows on degenerate corpora while the
    // engine stops early and keeps its shorter merge list. Consumers
    // that emit merge ROWS filter the sentinels back out (c >= 1).
    // sentinel char per mode: ascii uses '0' (a digit can never be a
    // [a-z]+ symbol); unicode uses '-' (category Pd — outside
    // [\p{L}\p{N}], while '0' IS a unicode-mode symbol)
    // `pfx` prefixes every CTE name so TWO independent learning
    // chains can coexist in one query (the q277 class-run vs pretok
    // A/B needs both)
    def bpeRoundsGen(n: Int, sentinel: String,
        pfx: String = ""): String = (1 to n).map { i =>
      s"""${pfx}p$i AS (SELECT tk[j] AS lhs, tk[j + 1] AS rhs,
         |    sum(cnt) AS c
         |  FROM (SELECT string_split(trim(seq, '·'), '··') AS tk,
         |          cnt FROM ${pfx}v${i - 1}),
         |       unnest(range(1, len(tk))) AS u(j)
         |  GROUP BY 1, 2),
         |${pfx}m$i AS (SELECT lhs, rhs, c FROM (
         |    SELECT lhs, rhs, c FROM ${pfx}p$i WHERE c >= 1
         |    UNION ALL SELECT '$sentinel', '$sentinel', 0)
         |  ORDER BY c DESC, lhs, rhs LIMIT 1),
         |${pfx}v$i AS (SELECT replace(seq,
         |    '·' || lhs || '··' || rhs || '·',
         |    '·' || lhs || rhs || '·') AS seq, cnt
         |  FROM ${pfx}v${i - 1} CROSS JOIN ${pfx}m$i)""".stripMargin
    }.mkString(",\n")
    val bpeRounds = bpeRoundsGen(8, "0")
    val bpeRoundsUni = bpeRoundsGen(8, "-")
    // batched-BPE oracle chain: per round, `batch` chained argmax
    // picks (greedy in (count desc, lhs, rhs) order, each excluding
    // every SYMBOL an earlier same-round pick used — exactly
    // bpeMergesBatched's full-list greedy) applied as one nested
    // replace pass. Exclusion subqueries skip the c >= 1 filter:
    // sentinel symbol '0' never matches a real pair.
    def bpeBatchedRounds(rounds: Int, batch: Int,
        sentinel: String = "0"): String =
      (1 to rounds).map { r =>
        val pcte =
          s"""r${r}p AS MATERIALIZED (SELECT tk[j] AS lhs, tk[j + 1] AS rhs,
             |    sum(cnt) AS c
             |  FROM (SELECT string_split(trim(seq, '·'), '··') AS tk,
             |          cnt FROM bv${r - 1}),
             |       unnest(range(1, len(tk))) AS u(j)
             |  GROUP BY 1, 2)""".stripMargin
        val mctes = (1 to batch).map { k =>
          val excl =
            if (k == 1) ""
            else {
              val syms = (1 until k).map(j =>
                s"SELECT lhs AS s FROM r${r}m$j " +
                  s"UNION ALL SELECT rhs FROM r${r}m$j")
                .mkString(" UNION ALL ")
              s"""
                 |      AND lhs NOT IN (SELECT s FROM ($syms))
                 |      AND rhs NOT IN (SELECT s FROM ($syms))""".stripMargin
            }
          s"""r${r}m$k AS MATERIALIZED (SELECT lhs, rhs, c FROM (
             |    SELECT lhs, rhs, c FROM r${r}p WHERE c >= 1$excl
             |    UNION ALL SELECT '$sentinel', '$sentinel', 0)
             |  ORDER BY c DESC, lhs, rhs LIMIT 1)""".stripMargin
        }
        val repl = (1 to batch).foldLeft("seq") { (e, k) =>
          s"replace($e, '·' || m$k.lhs || '··' || m$k.rhs || '·', " +
            s"'·' || m$k.lhs || m$k.rhs || '·')"
        }
        val joins = (1 to batch).map(k => s"CROSS JOIN r${r}m$k m$k")
          .mkString(" ")
        val vcte =
          s"bv$r AS MATERIALIZED " +
            s"(SELECT $repl AS seq, cnt FROM bv${r - 1} $joins)"
        (Seq(pcte) ++ mctes ++ Seq(vcte)).mkString(",\n")
      }.mkString(",\n")
    def bpeVocab0From(src: String): String =
      s"""v0 AS (
         |  SELECT regexp_replace(w, '(.)', '·\\1·', 'g') AS seq, cnt
         |  FROM (
         |    SELECT w, count(*) AS cnt FROM (
         |      SELECT unnest(string_split_regex(trim(lower(text)),
         |          '\\s+')) AS w
         |      FROM $src)
         |    WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1))""".stripMargin
    val bpeVocab0 = bpeVocab0From("documents")
    // unicode-mode vocab: the full-Unicode letters+numbers word class
    // (same literal regex class in Java and RE2; '(.)' splits per
    // CODE POINT in both engines)
    def bpeVocab0UniFrom(src: String): String =
      s"""v0 AS (
         |  SELECT regexp_replace(w, '(.)', '·\\1·', 'g') AS seq, cnt
         |  FROM (
         |    SELECT w, count(*) AS cnt FROM (
         |      SELECT unnest(string_split_regex(trim(lower(text)),
         |          '\\s+')) AS w
         |      FROM $src)
         |    WHERE regexp_matches(w, '^[\\p{L}\\p{N}]+$$')
         |    GROUP BY 1))""".stripMargin
    // BYTE-FALLBACK initial symbol sequence of one word (q242/q243):
    // in-class code points (the same [\p{L}\p{N}] literal class) stay
    // themselves; every other code point expands to its UTF-8 bytes,
    // byte b as the placeholder chr(9472 + b) — the exact integer
    // formulas BpeByteAlphabet.symbols computes (1/2/3/4 bytes by
    // code point range; regexp_extract_all('.') splits per CODE
    // POINT in RE2 exactly as codePointAt does in Java)
    def fbSeqExpr(w: String): String = {
      def sym(b: String) = s"'·' || chr(9472 + ($b)) || '·'"
      s"""array_to_string(list_transform(
         |  regexp_extract_all($w, '.'), ch ->
         |  CASE WHEN regexp_matches(ch, '^[\\p{L}\\p{N}]$$')
         |      THEN '·' || ch || '·'
         |    WHEN unicode(ch) < 128 THEN ${sym("unicode(ch)")}
         |    WHEN unicode(ch) < 2048 THEN
         |      ${sym("192 + unicode(ch) // 64")} ||
         |      ${sym("128 + unicode(ch) % 64")}
         |    WHEN unicode(ch) < 65536 THEN
         |      ${sym("224 + unicode(ch) // 4096")} ||
         |      ${sym("128 + (unicode(ch) // 64) % 64")} ||
         |      ${sym("128 + unicode(ch) % 64")}
         |    ELSE
         |      ${sym("240 + unicode(ch) // 262144")} ||
         |      ${sym("128 + (unicode(ch) // 4096) % 64")} ||
         |      ${sym("128 + (unicode(ch) // 64) % 64")} ||
         |      ${sym("128 + unicode(ch) % 64")}
         |  END), '')""".stripMargin
    }
    // byte-fallback vocab: EVERY nonempty whitespace token enters,
    // its seq built by the fallback expansion above
    def bpeVocab0FallbackFrom(src: String): String =
      s"""v0 AS (
         |  SELECT ${fbSeqExpr("w")} AS seq, cnt
         |  FROM (
         |    SELECT w, count(*) AS cnt FROM (
         |      SELECT unnest(string_split_regex(trim(lower(text)),
         |          '\\s+')) AS w
         |      FROM $src)
         |    WHERE w <> '' GROUP BY 1))""".stripMargin
    // GPT-2-style pre-tokenization (round 19): the LITERAL same
    // pattern as Tokenizer.PretokPattern, SQL-quoted (doubled
    // apostrophes) — contractions, letter runs, digit runs, punct
    // runs; whitespace never matches, so regexp_extract_all yields
    // the pretok pieces in document order. Alternation is
    // leftmost-first in both Java regex and RE2.
    val pretokPatternSql: String =
      "''s|''t|''re|''ve|''m|''ll|''d|" +
        "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"
    // pretok byte-fallback vocab: every pretok PIECE enters, its seq
    // built by the same fallback expansion (out-of-class code points
    // within a piece still expand to byte placeholders)
    def bpeVocab0PretokFrom(src: String, pfx: String = ""): String =
      s"""${pfx}v0 AS (
         |  SELECT ${fbSeqExpr("w")} AS seq, cnt
         |  FROM (
         |    SELECT w, count(*) AS cnt FROM (
         |      SELECT unnest(regexp_extract_all(trim(lower(text)),
         |          '$pretokPatternSql')) AS w
         |      FROM $src)
         |    WHERE w <> '' GROUP BY 1))""".stripMargin
    // the q242/q243 punctuated corpus: punctCorpus's SQL twin
    val punctCorpusSql =
      """pd AS (
        |  SELECT doc_id, translate(text, 'eo', '''.') AS text, lang
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(v.did AS BIGINT), v.txt, v.lng FROM (VALUES
        |    (2000000, 'don''t don''t co-op co-op 3.14 3.14 ' ||
        |      'don''t co-op', 'punct'),
        |    (2000001, 'https://ex.com/a?b=1 https://ex.com/a?b=1 ' ||
        |      'http://x.y http://x.y e-mail e-mail', 'url'),
        |    (2000002, '«mot» «mot» a–b a–b 😀😀 ' ||
        |      '😀😀 naïve naïve', 'mixed'),
        |    (2000003, '数据,模型 数据,模型 x=1;y=2 x=1;y=2 ' ||
        |      'тест-кейс тест-кейс', 'cjkmix'))
        |    v(did, txt, lng))""".stripMargin
    // the q236/q237 non-ASCII corpus: uniCorpus's SQL twin
    val uniCorpusSql =
      """ud AS (
        |  SELECT doc_id, translate(text, 'aeiou', 'àéïöü') AS text,
        |    lang
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(v.did AS BIGINT), v.txt, v.lng FROM (VALUES
        |    (1000000, '数据 模型 数据 训练 数据 模型 训练 数据', 'zh'),
        |    (1000001, 'данные поток данные система данные поток', 'ru'),
        |    (1000002, 'Übung Straße Übung größe 123 Übung 123', 'de'),
        |    (1000003, 'Ⅻ x² Ⅻ x² 数据 данные mixé-mot', 'xx'))
        |    v(did, txt, lng))""".stripMargin
    val funnelSql =
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS t1
        |  FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, t1,
        |    min(CASE WHEN event_type = 'click' AND us > t1
        |      AND us <= t1 + 259200000000 THEN us END) AS t2
        |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, t1, t2,
        |    min(CASE WHEN event_type = 'purchase' AND us > t2
        |      AND us <= t2 + 259200000000 THEN us END) AS t3
        |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3)
        |SELECT CAST(count(t1) AS BIGINT) AS n_viewed,
        |  CAST(count(t2) AS BIGINT) AS n_clicked,
        |  CAST(count(t3) AS BIGINT) AS n_purchased
        |FROM s3""".stripMargin
    val (ipK, ipB) = UnitRegistry.conversion(UnitRegistry.parse("W"),
      UnitRegistry.parse("Btu/h"))
    val hk3 = 1.0 - 1.0 / 3.0; val ck4 = 1.0 + 1.0 / 4.0
    val hk4 = 1.0 - 1.0 / 4.0; val ck4b = 1.0 + 1.0 / 4.0

    val cells = (0 until 24).map(h =>
      s"${dSum(s"CASE WHEN hour(ts) = $h THEN value END")} / COUNT(CASE WHEN hour(ts) = $h THEN value END) AS h$h")
      .mkString(",\n  ")

    val frameCells = EventTypes.map(k =>
      s"${dSum(s"CASE WHEN KeyValue = '$k' THEN Value END")} / COUNT(CASE WHEN KeyValue = '$k' THEN Value END) AS $k")
      .mkString(",\n    ")

    def cos(a: String, b: String) =
      s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"

    // the q233 hybrid chain as a reusable CTE list ending in `fused`
    // (per-query BM25 top-20 for probe set 5/7/9, fused with per-query
    // cosine top-20, rrf per-query top-10) — shared by the q233 oracle
    // and the q238 per-query-MMR oracle built on top of it.
    // Contributions in list order (lexical first), each
    // coalesce(1/(60+rank), 0), round 9.
    val hybridFusedCtes: String = {
      val probes = Seq((5, "spark"), (5, "hash"), (7, "merge"),
        (7, "data"), (9, "spark"), (9, "merge"))
      val values = probes.map { case (q, t) => s"($q, '$t')" }
        .mkString(", ")
      val c1 = d17(1.2 + 1.0)
      s"""probes(query_id, term) AS (VALUES $values),
         |w AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS word
         |  FROM documents),
         |dl AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS dl
         |  FROM documents),
         |st AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
         |  WHERE word IN (SELECT DISTINCT term FROM probes)
         |  GROUP BY 1, 2),
         |dfc AS (SELECT word, count(*) AS dfc FROM tf GROUP BY 1),
         |idf AS (SELECT word,
         |    ln((CAST(n_docs AS DOUBLE) - dfc + 0.5) / (dfc + 0.5)
         |      + 1.0) AS idf
         |  FROM dfc CROSS JOIN st),
         |sc AS (SELECT doc_id, word,
         |    idf * (tf * $c1) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
         |  FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
         |  CROSS JOIN st),
         |pq AS (SELECT p.query_id, sc.doc_id,
         |    round(CAST(sum(CAST(s AS DECIMAL(30,6))) AS DOUBLE), 6)
         |      AS score
         |  FROM sc JOIN probes p ON sc.word = p.term
         |  GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id ASC) AS rank
         |    FROM pq) WHERE rank <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS qe
         |       FROM embeddings WHERE vec_id IN (5, 7, 9)),
         |cs AS (SELECT query_id, c.vec_id AS doc_id,
         |    round(${cos("qe", "c.embedding")}, 6) AS cs
         |  FROM embeddings c CROSS JOIN qv
         |  WHERE c.vec_id != query_id),
         |sem AS (SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cs DESC, doc_id ASC) AS rank
         |    FROM cs) WHERE rank <= 20),
         |f AS (SELECT coalesce(l.query_id, s.query_id) AS query_id,
         |    coalesce(l.doc_id, s.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + l.rank), 0.0)
         |      + coalesce(1.0 / (60 + s.rank), 0.0), 9) AS rrf_score
         |  FROM lex l FULL OUTER JOIN sem s
         |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
         |fused AS MATERIALIZED (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |    rrf_score, CAST(rank AS BIGINT) AS rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id ASC) AS rank FROM f)
         |  WHERE rank <= 10)""".stripMargin
    }

    // exact n-gram Jaccard pairs (shared by q27 and the q25/q26 recall
    // gates); mirrors the engine's df-cap pre-filter (2 <= df <= 1000)
    def ngramPairsSql(minJ: Double): String =
      s"""WITH docs AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(words) - 2, 0)),
         |    i -> array_to_string(words[i:i+2], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
         |ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
         |elig AS (SELECT shingle FROM ex GROUP BY shingle
         |         HAVING count(*) BETWEEN 2 AND 1000),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, l.n_sh AS na, r.n_sh AS nb,
         |    count(*) AS n_inter
         |  FROM ex l JOIN ex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
         |  WHERE l.shingle IN (SELECT shingle FROM elig)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, n_inter / (na + nb - n_inter) AS jaccard FROM pairs)
         |WHERE jaccard >= $minJ""".stripMargin

    // unrolled synchronous LPA rounds over a CTE `e(src, dst)` with
    // initial labels `l0(node, lab)`: per round, neighbor-label counts
    // then a (count desc, label asc) argmax per node — the same
    // deterministic tie rule the engine's struct-max encodes (q222,
    // q223)
    val lpaRounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT e.dst AS node, l.lab, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.node = e.src
         |  GROUP BY 1, 2),
         |l$i AS (SELECT node, lab FROM (
         |  SELECT node, lab, row_number() OVER (PARTITION BY node
         |    ORDER BY c DESC, lab ASC) AS rn FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

    // exact embedding near-dup pairs (q28 + the q51 recall gate)
    def neardupSql(threshold: Double): String =
      s"""SELECT a, b, cos_sim FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    round(${cos("x.embedding", "y.embedding")}, 6) AS cos_sim
         |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id)
         |WHERE cos_sim >= $threshold""".stripMargin

    // exact brute-force top-k (q29 + the q30/q33 recall gates)
    val topkSql: String =
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(${cos("qv", "c.embedding")}, 6) AS cos_sim
         |  FROM embeddings c CROSS JOIN q WHERE c.vec_id != query_id),
         |ranked AS (SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
         |  AS BIGINT) AS rank FROM scored)
         |SELECT query_id, rank, neighbor_id, cos_sim
         |FROM ranked WHERE rank <= 5""".stripMargin

    // Okapi BM25 top-k for the fixed probe query, parameterized on k
    // (q143 directly; q209 embeds the top-20 as its lexical CTE)
    def bm25Sql(k: Int): String = {
      val terms = Seq("spark", "hash", "merge")
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val c1 = d17(1.2 + 1.0)
      val termSum = terms.map(t =>
        s"coalesce(sum(CASE WHEN word = '$t' THEN s END), 0.0)")
        .mkString("\n         + ")
      s"""WITH w AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS word
         |  FROM documents),
         |dl AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl
         |  FROM documents),
         |st AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
         |  WHERE word IN ($inList) GROUP BY 1, 2),
         |dfc AS (SELECT word, count(*) AS dfc FROM tf GROUP BY 1),
         |idf AS (SELECT word,
         |    ln((CAST(n_docs AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
         |      AS idf
         |  FROM dfc CROSS JOIN st),
         |sc AS (SELECT doc_id, word,
         |    idf * (tf * $c1) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
         |  FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
         |  CROSS JOIN st),
         |pd AS (SELECT doc_id, $termSum AS tot
         |  FROM sc GROUP BY 1),
         |r AS (SELECT doc_id, round(tot, 6) AS score,
         |    row_number() OVER (ORDER BY round(tot, 6) DESC, doc_id ASC)
         |      AS rank
         |  FROM pd)
         |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $k""".stripMargin
    }

    // shared by q94 (keyed window) and q183 (chunk-parallel twin):
    // the operators are bit-identical by construction, so one oracle
    // certifies both
    val zscoreSql: String =
      """WITH x AS (
        |  SELECT event_id, value,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s2,
        |    count(value) OVER w AS cnt
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 48 PRECEDING AND 1 PRECEDING)),
        |y AS (
        |  SELECT event_id, value,
        |    CASE WHEN cnt >= 12 THEN s1 / cnt END AS mu,
        |    CASE WHEN cnt >= 12 THEN (s2 - s1 * s1 / cnt) / (cnt - 1) END AS var
        |  FROM x),
        |z AS (
        |  SELECT event_id, value,
        |    round((value - mu) / (CASE WHEN var > 0 THEN sqrt(var) END), 6)
        |      AS zscore
        |  FROM y)
        |SELECT event_id, value, zscore,
        |  CAST(abs(zscore) > 3.0 AS BIGINT) AS is_anomaly
        |FROM z""".stripMargin

    def gateSql(innerSql: String): String =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(1 AS BIGINT) AS recall_ok FROM ($innerSql)""".stripMargin

    // exact should-remove set of the semantic lake cycle (thirds
    // composition over the cosine pairs) — shared by q201 (two-job
    // path) and q204 (fused step), which remove by the same rule
    val semCycleShouldRemoveSql: String =
      s"""WITH p AS (${neardupSql(0.4)}),
         |exr1 AS (SELECT DISTINCT CASE WHEN a % 3 = 1 THEN a ELSE b
         |    END AS id
         |  FROM p
         |  WHERE (a % 3 = 1 AND b % 3 = 0)
         |     OR (a % 3 = 0 AND b % 3 = 1)),
         |adm AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id FROM embeddings WHERE vec_id % 3 = 1
         |    AND vec_id NOT IN (SELECT id FROM exr1))
         |SELECT DISTINCT CASE WHEN a % 3 = 2 THEN a ELSE b END AS vec
         |FROM p
         |WHERE (a % 3 = 2 OR b % 3 = 2)
         |  AND (CASE WHEN a % 3 = 2 THEN b ELSE a END)
         |    IN (SELECT vec_id FROM adm)""".stripMargin

    val langScores = TextOps.LangMarkers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      lang -> s"len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ($set)))"
    }
    val bestExpr = s"greatest(${langScores.map(_._2).mkString(", ")})"

    // shared by the q194 mega-pipeline oracle and its incremental
    // sibling q207: the decontamination window stream and the q31
    // quality score over a staged CTE's (nc, nw, nd, alpha) columns
    def winSql(cond: String, withDoc: Boolean): String = {
      val sel = if (withDoc) "doc_id, win" else "win"
      s"""SELECT DISTINCT $sel FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(
         |        generate_series(1, greatest(length(text) - 49, 0)),
         |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
         |    FROM documents WHERE $cond AND length(text) >= 50)""".stripMargin
    }
    val qualityExpr =
      """round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
        |                 ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
        |  + (alpha / greatest(nc, 1.0)) * 0.25
        |  + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
        |           AND alpha / greatest(nw, 1.0) <= 10
        |          THEN 1.0 ELSE 0.5 END) * 0.25
        |  + (nd / greatest(nw, 1.0)) * 0.25, 6)""".stripMargin
    val langCase = langScores.map { case (lang, sc) =>
      s"WHEN $sc = best AND $sc > 0 THEN '$lang'"
    }.mkString(" ")

    val incPipeCtes =
      s"""tw AS MATERIALIZED (${winSql(
                "doc_id >= 10 AND doc_id % 2 = 1", withDoc = true)}),
           |bw AS MATERIALIZED (${winSql("doc_id < 10", withDoc = false)}),
           |contaminated AS MATERIALIZED (SELECT DISTINCT doc_id FROM tw
           |  WHERE win IN (SELECT win FROM bw)),
           |hist AS MATERIALIZED (SELECT * FROM documents
           |  WHERE doc_id >= 10 AND doc_id % 2 = 0),
           |s1 AS MATERIALIZED (SELECT * FROM documents
           |  WHERE doc_id >= 10 AND doc_id % 2 = 1
           |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |lakeh AS MATERIALIZED (SELECT DISTINCT md5(text) AS h FROM hist),
           |s2 AS MATERIALIZED (SELECT * FROM s1
           |  WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY md5(text))
           |    AND md5(text) NOT IN (SELECT h FROM lakeh)),
           |pool AS MATERIALIZED (SELECT doc_id, text FROM s2
           |  UNION ALL SELECT doc_id, text FROM hist),
           |cdocs AS MATERIALIZED (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(words) - 2, 0)),
           |    i -> array_to_string(words[i:i+2], ' '))) AS sh
           |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM pool)),
           |cex AS MATERIALIZED (SELECT doc_id, len(sh) AS n_sh,
           |  unnest(sh) AS shingle FROM cdocs),
           |celig AS MATERIALIZED (SELECT shingle FROM cex GROUP BY shingle
           |  HAVING count(*) BETWEEN 2 AND 1000),
           |cpairs AS MATERIALIZED (
           |  SELECT l.doc_id AS a, r.doc_id AS b, l.n_sh AS na,
           |    r.n_sh AS nb, count(*) AS n_inter
           |  FROM cex l JOIN cex r
           |    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
           |  WHERE l.shingle IN (SELECT shingle FROM celig)
           |  GROUP BY 1, 2, 3, 4),
           |np AS MATERIALIZED (SELECT a, b FROM (
           |  SELECT a, b, n_inter / (na + nb - n_inter) AS j FROM cpairs)
           |  WHERE j >= 0.5),
           |rem3 AS MATERIALIZED (SELECT DISTINCT CASE
           |    WHEN a % 2 = 1 AND b % 2 = 0 THEN a
           |    WHEN b % 2 = 1 THEN b END AS doc_id
           |  FROM np WHERE a % 2 = 1 OR b % 2 = 1),
           |s3 AS MATERIALIZED (SELECT * FROM s2
           |  WHERE doc_id NOT IN (SELECT doc_id FROM rem3)),
           |cpq AS MATERIALIZED (${neardupSql(0.4)}),
           |rem4 AS MATERIALIZED (SELECT DISTINCT CASE
           |    WHEN b IN (SELECT doc_id FROM s3)
           |     AND (a IN (SELECT doc_id FROM hist)
           |       OR a IN (SELECT doc_id FROM s3)) THEN b
           |    WHEN a IN (SELECT doc_id FROM s3)
           |     AND b IN (SELECT doc_id FROM hist) THEN a END AS doc_id
           |  FROM cpq),
           |s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id NOT IN
           |  (SELECT doc_id FROM rem4 WHERE doc_id IS NOT NULL)),
           |c1 AS MATERIALIZED (SELECT doc_id, text,
           |    CAST(length(text) AS DOUBLE) AS nc,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
           |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS nd,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    string_split_regex(trim(text), '\\s+') AS words
           |  FROM s4),
           |c2 AS MATERIALIZED (SELECT *, $bestExpr AS best,
           |    list_transform(generate_series(1, greatest(len(words) - 1, 0)),
           |      i -> array_to_string(words[i:i+1], ' ')) AS bg
           |  FROM c1),
           |scored AS MATERIALIZED (SELECT doc_id, $qualityExpr AS quality,
           |    CASE $langCase ELSE 'und' END AS pred_lang,
           |    CASE WHEN len(bg) <= 0 THEN 0.0
           |         ELSE round(list_max(list_transform(list_distinct(bg),
           |                x -> len(list_filter(bg, y -> y = x)))) / len(bg), 6)
           |    END AS tb
           |  FROM c2),
           |s5 AS MATERIALIZED (SELECT s4.* FROM s4 JOIN (SELECT doc_id FROM scored
           |    WHERE quality >= 0.5 AND tb <= 0.2 AND pred_lang = 'en') f
           |  USING (doc_id))""".stripMargin

    val selectionPipelineSql: String = {
    // full chain: length floor -> exact-dedup keepers -> the q211
    // DSIR block over survivors -> q212 learning over the
    // selection -> q213 encode -> q214 admission
    val encChain = (1 to 8).foldLeft(
      "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
      s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
        s"'·' || m$i.lhs || m$i.rhs || '·')"
    }
    val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
    s"""WITH f AS (SELECT * FROM documents WHERE n_chars >= 200),
       |k AS (SELECT md5(text) AS h, min(doc_id) AS keep
       |  FROM f GROUP BY 1),
       |s AS (SELECT f.* FROM f JOIN k ON f.doc_id = k.keep),
       |dtok AS (SELECT doc_id, (lang = 'en') AS is_t,
       |    string_split_regex(trim(text), '\\s+') AS ws FROM s),
       |duni AS (SELECT doc_id, is_t, unnest(ws) AS w FROM dtok),
       |dbig AS (SELECT doc_id, is_t, ws[i] || ' ' || ws[i + 1] AS w
       |        FROM dtok, unnest(range(1, len(ws))) AS r(i)),
       |dfeat AS (SELECT doc_id, is_t,
       |    CAST('0x' || substring(md5(w || 'graft'), 1, 8) AS BIGINT)
       |      % 1024 AS b
       |  FROM (SELECT * FROM duni UNION ALL SELECT * FROM dbig)),
       |dc AS (SELECT b, count(*) AS rc,
       |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
       |      FROM dfeat GROUP BY 1),
       |dt AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt,
       |             CAST(sum(tc) AS DOUBLE) AS tt FROM dc),
       |dlr AS (SELECT b,
       |    ln((tc + 1.0) / (tt + 1024.0))
       |      - ln((rc + 1.0) / (rt + 1024.0)) AS lr
       |  FROM dc CROSS JOIN dt),
       |sel AS (SELECT doc_id FROM (
       |  SELECT doc_id,
       |    round(CAST(sum(CAST(lr AS DECIMAL(30,6))) AS DOUBLE), 6)
       |      AS iw
       |  FROM dfeat JOIN dlr USING (b) GROUP BY 1
       |  ORDER BY iw DESC, doc_id LIMIT 200)),
       |sd AS (SELECT s.* FROM s JOIN sel USING (doc_id)),
       |${bpeVocab0From("sd")},
       |$bpeRounds,
       |w AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
       |  FROM sd),
       |tc2 AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN regexp_matches(wd, '^[a-z]+$$')
       |      THEN len(string_split(trim($encChain, '·'), '··'))
       |      ELSE 1 END) AS BIGINT) AS n_tokens
       |  FROM w $crossMs GROUP BY 1),
       |cw AS (SELECT sd.doc_id, sd.source, tc2.n_tokens,
       |    sum(tc2.n_tokens) OVER (PARTITION BY sd.source
       |      ORDER BY sd.doc_id) AS cum
       |  FROM sd JOIN tc2 USING (doc_id))
       |SELECT doc_id, source, n_tokens
       |FROM cw WHERE cum - n_tokens < 500""".stripMargin
      }

    // the q237 learn+encode chain under byte fallback (fertility per
    // lang on the punctuated corpus) — shared VERBATIM by q243 and by
    // q249 (model-artifact round trip): the persisted-model encode
    // must land on the exact same result as the in-memory list's
    val byteFallbackFertilitySql: String = {
      val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
        s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
          s"'·' || m$i.lhs || m$i.rhs || '·')"
      }
      val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
      s"""WITH $punctCorpusSql,
         |${bpeVocab0FallbackFrom("pd")},
         |$bpeRoundsUni,
         |w AS (SELECT doc_id, lang,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS wd
         |  FROM pd),
         |tc AS (SELECT doc_id, lang,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(len(string_split(trim($encChain, '·'),
         |      '··'))) AS BIGINT) AS n_tokens
         |  FROM w $crossMs
         |  GROUP BY 1, 2)
         |SELECT lang,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n_tokens) AS DOUBLE)
         |    / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
         |FROM tc
         |GROUP BY 1""".stripMargin
    }

    // shared vocab-with-ids CTE tail (q253/q254): base symbols of the
    // byte-fallback initial encoding in BINARY order (DuckDB's default
    // collation — the same UTF-8 byte order the engine's driver-side
    // sort uses), then merged symbols in learning order after them
    val bpeVocabIdCtes: String = {
      val m0 = (1 to 8).map(i =>
        s"SELECT $i AS i, lhs, rhs, c FROM m$i").mkString("\n  UNION ALL ")
      s"""sym AS (SELECT DISTINCT
         |    unnest(string_split(trim(seq, '·'), '··')) AS token
         |  FROM v0),
         |vbase AS (SELECT token,
         |    CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT)
         |      AS token_id
         |  FROM sym WHERE token <> ''),
         |nb AS (SELECT count(*) AS n FROM vbase),
         |m0 AS MATERIALIZED ($m0),
         |mr AS (SELECT lhs || rhs AS token, min(i) AS i FROM m0
         |  WHERE c >= 1 GROUP BY 1),
         |vmerge AS (SELECT token,
         |    CAST(n + row_number() OVER (ORDER BY i) - 1 AS BIGINT)
         |      AS token_id
         |  FROM mr CROSS JOIN nb)""".stripMargin
    }

    // the q256 streamed-pack replica — shared verbatim by q259
    // (landed-token path): same layout, same pack, different physical
    // route to the identical digests
    val streamPackClosedSql: String =
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws,
        |    CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS BIGINT) AS n_tokens,
        |    doc_id % 2 AS b,
        |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM t),
        |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
        |      AS shard,
        |    before % 5000 AS off FROM c),
        |cl AS (SELECT * FROM sh
        |  WHERE shard < (SELECT max(shard) FROM sh)),
        |cnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
        |st AS (SELECT cl.doc_id, shard,
        |    coalesce(sum(n) OVER (PARTITION BY shard
        |      ORDER BY off, cl.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS strt
        |  FROM cl JOIN cnt ON cl.doc_id = cnt.doc_id),
        |tok AS (SELECT doc_id, ws[i] AS token, CAST(i AS BIGINT)
        |      AS pos
        |  FROM (SELECT doc_id, ws,
        |      unnest(generate_series(1, len(ws))) AS i FROM t)),
        |g AS (SELECT st.shard, token, strt + pos - 1 AS gi
        |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
        |p AS (SELECT shard, CAST(gi // 512 AS BIGINT) AS seq,
        |    gi % 512 AS soff, token FROM g)
        |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
        |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
        |FROM p GROUP BY 1, 2""".stripMargin

    // the q256 pack replica with doc_id tokens — shared verbatim by
    // q270 (manual two-poll lake + compaction) and q273 (the
    // watermark-derived pollLandedShards twin): both physical routes
    // must land the exact same lake as the single batch pack
    val seqLakePackSql: String =
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws,
        |    CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS BIGINT) AS n_tokens,
        |    doc_id % 2 AS b,
        |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM t),
        |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
        |      AS shard,
        |    before % 5000 AS off FROM c),
        |cl AS (SELECT * FROM sh
        |  WHERE shard < (SELECT max(shard) FROM sh)),
        |cnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
        |st AS (SELECT cl.doc_id, shard,
        |    coalesce(sum(n) OVER (PARTITION BY shard
        |      ORDER BY off, cl.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS strt
        |  FROM cl JOIN cnt ON cl.doc_id = cnt.doc_id),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
        |  FROM (SELECT doc_id, ws,
        |      unnest(generate_series(1, len(ws))) AS i FROM t)),
        |g AS (SELECT st.shard, st.doc_id, strt + pos - 1 AS gi
        |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
        |p AS (SELECT shard, CAST(gi // 512 AS BIGINT) AS seq,
        |    gi % 512 AS soff,
        |    CAST(doc_id AS VARCHAR) AS tokid FROM g)
        |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
        |  md5(string_agg(tokid, ',' ORDER BY soff)) AS ids_digest
        |FROM p GROUP BY 1, 2""".stripMargin

    // the q254 id-encode digest SQL — shared verbatim by q257 (full
    // artifact round trip): the persisted model+vocab encode must
    // land on the exact same per-doc id digests as the in-memory path
    val bpeEncodeIdsSql: String = {
      val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
        s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
          s"'·' || m$i.lhs || m$i.rhs || '·')"
      }
      val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
      s"""WITH $punctCorpusSql,
         |${bpeVocab0FallbackFrom("pd")},
         |$bpeRoundsUni,
         |$bpeVocabIdCtes,
         |vv AS (SELECT token, token_id FROM vbase
         |  UNION ALL SELECT token, token_id FROM vmerge),
         |w AS (SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS ws
         |  FROM pd),
         |tl AS MATERIALIZED (SELECT doc_id,
         |    flatten(list_transform(ws, wd ->
         |      string_split(trim($encChain, '·'), '··'))) AS toks
         |  FROM w $crossMs),
         |tok AS (SELECT doc_id, toks[i] AS token,
         |    CAST(i AS BIGINT) AS pos
         |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
         |j AS (SELECT doc_id, pos, vv.token_id
         |  FROM tok JOIN vv USING (token))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(CAST(token_id AS VARCHAR), ','
         |    ORDER BY pos)) AS ids_digest
         |FROM j GROUP BY 1""".stripMargin
    }

    Map(
      "q01_reportdata_series" ->
        s"""SELECT make_timestamp(2024, month(ts), day(ts), 0, 0, 0)
           |     + to_minutes(CAST(hour(ts)*60 + minute(ts) - 60 AS BIGINT)) AS ts,
           |     ${dSum("value")} AS value
           |FROM events GROUP BY 1""".stripMargin,
      "q02_reportdata_frame" ->
        s"""WITH tidy AS (
           |  SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS TimeIndex,
           |    month(ts) AS m, day(ts) AS d, hour(ts) AS h, minute(ts) AS mi,
           |    value AS Value, event_type AS KeyValue
           |  FROM events),
           |g AS (
           |  SELECT TimeIndex, min(m) AS m, min(d) AS d, min(h) AS h, min(mi) AS mi,
           |    $frameCells
           |  FROM tidy GROUP BY 1)
           |SELECT make_timestamp(2024, m, d, 0, 0, 0)
           |     + to_minutes(CAST(h*60 + mi - 1 AS BIGINT)) AS ts,
           |  click, error, purchase, signup, view
           |FROM g""".stripMargin,
      "q03_with_timeindex" ->
        "SELECT TIMESTAMP '2018-01-01 00:00:00' + to_seconds(event_id * 3600) AS ts, value FROM events",
      "q04_to_units" ->
        "SELECT event_id, value * 1.0 + 273.15 AS value FROM events",
      "q05_to_ip" ->
        s"SELECT event_id, value * ${d17(ipK)} + ${d17(ipB)} AS value FROM events",
      "q06_source_side" ->
        s"SELECT event_id, CASE WHEN value > 0 THEN value * ${d17(hk3)} ELSE value * ${d17(ck4)} END AS value FROM events",
      "q07_normalize" ->
        """SELECT event_id,
          |  (value - (SELECT min(value) FROM events))
          |  / ((SELECT max(value) FROM events) - (SELECT min(value) FROM events)) AS value
          |FROM events""".stripMargin,
      "q08_ldc" ->
        "SELECT CAST(row_number() OVER (ORDER BY value DESC, event_id ASC) - 1 AS BIGINT) AS idx, value FROM events",
      "q09_ldc_source" ->
        s"""SELECT CAST(row_number() OVER (ORDER BY value DESC, event_id ASC) - 1 AS BIGINT) AS idx,
           |  CASE WHEN value > 0 THEN value * ${d17(hk4)} ELSE value * ${d17(ck4b)} END AS value
           |FROM events""".stripMargin,
      "q10_monthly" ->
        s"""SELECT last_day(CAST(l_shipdate AS DATE)) AS ts,
           |  ${dAvg("l_quantity")} AS value
           |FROM lineitem GROUP BY 1""".stripMargin,
      "q11_resample" ->
        s"""SELECT time_bucket(INTERVAL '6 hours', ts) AS ts,
           |  ${dAvg("value")} AS value
           |FROM events GROUP BY 1""".stripMargin,
      "q12_pmax" ->
        "SELECT event_type, max(value) AS value FROM events GROUP BY 1",
      "q13_capacity_factor" ->
        s"""SELECT event_type, (${dAvg("value")}) / max(value) AS capacity_factor
           |FROM events GROUP BY 1""".stripMargin,
      "q14_time_at_min" ->
        """SELECT event_type, min(ts) AS ts FROM (
          |  SELECT event_type, ts, value,
          |    min(value) OVER (PARTITION BY event_type) AS mv
          |  FROM events) WHERE value = mv GROUP BY 1""".stripMargin,
      "q15_align_arith" ->
        s"""WITH a AS (SELECT date_trunc('minute', ts) AS ts, ${dSum("value")} AS v
           |           FROM events WHERE event_type = 'click' GROUP BY 1),
           |     b AS (SELECT date_trunc('minute', ts) AS ts, ${dSum("value")} AS v
           |           FROM events WHERE event_type = 'view' GROUP BY 1)
           |SELECT COALESCE(a.ts, b.ts) AS ts, a.v + b.v AS value
           |FROM a FULL JOIN b ON a.ts = b.ts""".stripMargin,
      "q16_day_hour_matrix" ->
        s"SELECT CAST(ts AS DATE) AS period_date,\n  $cells\nFROM events GROUP BY 1",
      "q17_discretize_mean" ->
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts, ${dAvg("value")} AS v
           |           FROM events GROUP BY 1),
           |s AS (SELECT ts, v,
           |        CAST(floor((epoch(ts) - (SELECT min(epoch(ts)) FROM h)) / 3600) AS BIGINT) % 24 AS slot
           |      FROM h),
           |p AS (SELECT slot, ${dAvg("v")} AS pv FROM s GROUP BY 1)
           |SELECT s.ts AS ts, p.pv AS value FROM s JOIN p USING (slot)""".stripMargin,
      "q48_discretize_frame" -> {
        def cell(typ: String) =
          s"${dSum(s"CASE WHEN event_type = '$typ' THEN value END")} / COUNT(CASE WHEN event_type = '$typ' THEN value END)"
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts,
           |    ${cell("click")} AS click, ${cell("view")} AS view
           |  FROM events GROUP BY 1),
           |s AS (SELECT ts, click, view,
           |    CAST(floor((epoch(ts) - (SELECT min(epoch(ts)) FROM h)) / 3600) AS BIGINT) % 24 AS slot
           |  FROM h),
           |p AS (SELECT slot, ${dAvg("click")} AS p_click, ${dAvg("view")} AS p_view
           |      FROM s GROUP BY 1)
           |SELECT s.ts AS ts, p.p_click AS click, p.p_view AS view
           |FROM s JOIN p USING (slot)""".stripMargin
      },
      "q19_groupby_agg" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dSum("l_quantity")} AS sum_qty,
           |  ${dSum("l_extendedprice")} AS sum_base_price,
           |  ${dSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           |  ${dSum("l_quantity")} / COUNT(l_quantity) AS avg_qty,
           |  CAST(count(*) AS BIGINT) AS count_order
           |FROM lineitem GROUP BY 1, 2""".stripMargin,
      "q20_join_revenue" ->
        s"""SELECT n_name, ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY 1""".stripMargin,
      "q21_topk_customers" ->
        s"""SELECT o_custkey, ${dSum("o_totalprice")} AS total_spend
           |FROM orders GROUP BY 1
           |ORDER BY total_spend DESC, o_custkey ASC LIMIT 10""".stripMargin,
      "q22_setops_except" ->
        """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          |EXCEPT
          |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
      "q23_json_props" ->
        """SELECT event_type,
          |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum
          |FROM events GROUP BY 1""".stripMargin,
      "q24_dedup_exact" ->
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
          |  CAST(count(*) AS BIGINT) AS n_copies
          |FROM documents GROUP BY text""".stripMargin,
      "q27_dedup_ngram" -> ngramPairsSql(0.5),
      "q25_dedup_minhash" -> gateSql(ngramPairsSql(0.5)),
      "q187_stream_neardup" -> gateSql(ngramPairsSql(0.5)),
      "q190_cross_dedup" -> gateSql(
        s"""SELECT * FROM (${ngramPairsSql(0.5)})
           |WHERE (a % 2) <> (b % 2)""".stripMargin),
      "q192_lake_artifacts" -> gateSql(
        s"""SELECT * FROM (${ngramPairsSql(0.5)})
           |WHERE (a % 2) <> (b % 2)""".stripMargin),
      "q26_dedup_simhash" -> gateSql(ngramPairsSql(0.8)),
      "q28_embed_neardup" -> neardupSql(0.4),
      "q51_embed_neardup_lsh" -> gateSql(neardupSql(0.3)),
      "q182_ivf_neardup" -> gateSql(neardupSql(0.3)),
      "q178_semdedup" -> gateSql(
        s"""SELECT DISTINCT v FROM (
           |  SELECT a AS v FROM (${neardupSql(0.4)})
           |  UNION ALL SELECT b AS v FROM (${neardupSql(0.4)}))""".stripMargin),
      "q188_stream_semdedup" -> gateSql(
        s"""SELECT DISTINCT v FROM (
           |  SELECT a AS v FROM (${neardupSql(0.4)})
           |  UNION ALL SELECT b AS v FROM (${neardupSql(0.4)}))""".stripMargin),
      "q191_cross_semdedup" -> gateSql(
        s"""SELECT DISTINCT CASE WHEN (a % 2) = 1 THEN a ELSE b END AS v
           |FROM (${neardupSql(0.4)}) WHERE (a % 2) <> (b % 2)""".stripMargin),
      "q193_semlake_artifacts" -> gateSql(
        s"""SELECT DISTINCT CASE WHEN (a % 2) = 1 THEN a ELSE b END AS v
           |FROM (${neardupSql(0.4)}) WHERE (a % 2) <> (b % 2)""".stripMargin),
      // exact should-detect set of the near-dup lake cycle: third-2
      // pairs into third 0 or into the exactly-admitted third-1 docs
      "q200_neardup_lake_cycle" -> gateSql(
        s"""WITH pairs AS (${ngramPairsSql(0.5)}),
           |exr1 AS (SELECT DISTINCT CASE WHEN a % 3 = 1 THEN a ELSE b
           |    END AS id
           |  FROM pairs
           |  WHERE (a % 3 = 1 AND b % 3 = 0)
           |     OR (a % 3 = 0 AND b % 3 = 1)),
           |adm AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
           |    AND doc_id NOT IN (SELECT id FROM exr1))
           |SELECT a, b FROM pairs
           |WHERE (a % 3 = 2 OR b % 3 = 2)
           |  AND (CASE WHEN a % 3 = 2 THEN b ELSE a END)
           |    IN (SELECT doc_id FROM adm)""".stripMargin),
      // every exact pair touching the streamed (odd) side — the
      // lake-seeded gate must catch stream-vs-lake AND stream-internal
      "q205_lake_seeded_gate" -> gateSql(
        s"""SELECT * FROM (${ngramPairsSql(0.5)})
           |WHERE (a % 2 = 1 OR b % 2 = 1)""".stripMargin),
      // same rule as q193: the seeded gate's removals must cover the
      // exact odd-side cross removals
      "q206_semlake_seeded_gate" -> gateSql(
        s"""SELECT DISTINCT CASE WHEN (a % 2) = 1 THEN a ELSE b END AS v
           |FROM (${neardupSql(0.4)}) WHERE (a % 2) <> (b % 2)""".stripMargin),
      // q200's gate set projected to its third-2 doc — the fused
      // step's cycle is certified doc-level (removed docs cover it)
      "q203_neardup_lake_fused" -> gateSql(
        s"""WITH pairs AS (${ngramPairsSql(0.5)}),
           |exr1 AS (SELECT DISTINCT CASE WHEN a % 3 = 1 THEN a ELSE b
           |    END AS id
           |  FROM pairs
           |  WHERE (a % 3 = 1 AND b % 3 = 0)
           |     OR (a % 3 = 0 AND b % 3 = 1)),
           |adm AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
           |    AND doc_id NOT IN (SELECT id FROM exr1))
           |SELECT DISTINCT CASE WHEN a % 3 = 2 THEN a ELSE b END
           |  AS doc_id
           |FROM pairs
           |WHERE (a % 3 = 2 OR b % 3 = 2)
           |  AND (CASE WHEN a % 3 = 2 THEN b ELSE a END)
           |    IN (SELECT doc_id FROM adm)""".stripMargin),
      // exact should-remove set of the semantic lake cycle (same
      // thirds composition over the cosine pairs)
      "q201_semlake_cycle" -> gateSql(semCycleShouldRemoveSql),
      // the fused-step cycle (q204) removes by the SAME rule as the
      // two-job cycle — one oracle certifies both (the q94/q183
      // shared-oracle precedent; the equality of the two paths is
      // additionally spec-pinned in OperatorsSpec)
      "q204_semlake_fused" -> gateSql(semCycleShouldRemoveSql),
      "q179_split_leakage" ->
        s"""WITH pairs AS (${ngramPairsSql(0.5)}),
           |s AS (SELECT doc_id,
           |  CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
           |    || 'graft'), 1, 8) AS BIGINT) % 100 < 90
           |  THEN 'train' ELSE 'test' END AS split
           |  FROM documents)
           |SELECT p.a, p.b, p.jaccard,
           |  sa.split AS split_a, sb.split AS split_b
           |FROM pairs p
           |JOIN s sa ON p.a = sa.doc_id JOIN s sb ON p.b = sb.doc_id
           |WHERE sa.split != sb.split""".stripMargin,
      "q180_temperature_mix" ->
        """WITH c AS (SELECT source,
          |    CAST(round(1e6 * sqrt(count(*))) AS BIGINT) AS w
          |  FROM documents GROUP BY 1),
          |z AS (SELECT sum(w) AS z FROM c),
          |a AS (SELECT source, (300 * w) // z AS alloc FROM c, z),
          |r AS (SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id) AS rn
          |  FROM documents)
          |SELECT r.doc_id, r.source
          |FROM r JOIN a ON r.source = a.source WHERE r.rn <= a.alloc""".stripMargin,
      // Independent SQL derivation of Render.norm + Render.rdbu: min/max
      // normalize, clamp, interpolate the 11 ColorBrewer RdBu anchors
      // piecewise-linearly, round half-up exactly like Java Math.round
      // (FLOOR(c + 0.5), NOT round() — DuckDB's round differs at .5 reprs).
      // Same double association order as the Scala code throughout.
      "q181_plot_colors" ->
        s"""WITH cells AS (SELECT CAST(ts AS DATE) AS period_date,
           |    CAST(hour(ts) AS INT) AS hour, ${dAvg("value")} AS v
           |  FROM events GROUP BY 1, 2),
           |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM cells),
           |tx AS (SELECT period_date, hour,
           |    LEAST(GREATEST(CASE WHEN hi = lo THEN 0.5
           |      ELSE (v - lo) / (hi - lo) END, 0.0), 1.0) * 10 AS x
           |  FROM cells, mm),
           |ix AS (SELECT period_date, hour, x,
           |    LEAST(9, CAST(FLOOR(x) AS INT)) AS i FROM tx),
           |anch(i, r, g, b) AS (VALUES (0,103,0,31),(1,178,24,43),
           |  (2,214,96,77),(3,244,165,130),(4,253,219,199),(5,247,247,247),
           |  (6,209,229,240),(7,146,197,222),(8,67,147,195),(9,33,102,172),
           |  (10,5,48,97))
           |SELECT ix.period_date, ix.hour,
           |  CAST(FLOOR(a0.r + (a1.r - a0.r) * (ix.x - ix.i) + 0.5) AS INT) AS r,
           |  CAST(FLOOR(a0.g + (a1.g - a0.g) * (ix.x - ix.i) + 0.5) AS INT) AS g,
           |  CAST(FLOOR(a0.b + (a1.b - a0.b) * (ix.x - ix.i) + 0.5) AS INT) AS b
           |FROM ix JOIN anch a0 ON a0.i = ix.i
           |  JOIN anch a1 ON a1.i = ix.i + 1""".stripMargin,
      "q185_surface_colors" ->
        s"""WITH cells AS (SELECT CAST(ts AS DATE) AS period_date,
           |    CAST(hour(ts) AS INT) AS hour, ${dAvg("value")} AS v
           |  FROM events GROUP BY 1, 2),
           |gr AS (SELECT period_date, hour, v,
           |    lag(v) OVER (PARTITION BY period_date ORDER BY hour) AS lh,
           |    lead(v) OVER (PARTITION BY period_date ORDER BY hour) AS nh,
           |    lag(v) OVER (PARTITION BY hour ORDER BY period_date) AS ld,
           |    lead(v) OVER (PARTITION BY hour ORDER BY period_date) AS nd
           |  FROM cells),
           |ds AS (SELECT period_date, hour, v,
           |    (CASE WHEN lh IS NULL AND nh IS NULL THEN 0.0
           |          WHEN lh IS NULL THEN nh - v
           |          WHEN nh IS NULL THEN v - lh
           |          ELSE (nh - lh) / 2.0 END) * 0.1 AS ex,
           |    (CASE WHEN ld IS NULL AND nd IS NULL THEN 0.0
           |          WHEN ld IS NULL THEN nd - v
           |          WHEN nd IS NULL THEN v - ld
           |          ELSE (nd - ld) / 2.0 END) * 0.1 AS ey
           |  FROM gr),
           |rw AS (SELECT period_date, hour, v,
           |    0.7071067811865476 * (ex + 1.0)
           |      / sqrt(ex * ex + ey * ey + 1.0) AS raw
           |  FROM ds),
           |mm AS (SELECT min(v) AS lo, max(v) AS hi,
           |    min(raw) AS rmin, max(raw) AS rmax FROM rw),
           |ii AS (SELECT period_date, hour, v, lo, hi,
           |    CASE WHEN rmax = rmin THEN 0.5
           |         ELSE (raw - rmin) / (rmax - rmin) END AS i
           |  FROM rw, mm),
           |tx AS (SELECT period_date, hour, i,
           |    LEAST(GREATEST(CASE WHEN hi = lo THEN 0.5
           |      ELSE (v - lo) / (hi - lo) END, 0.0), 1.0) * 10 AS x
           |  FROM ii),
           |ix AS (SELECT period_date, hour, i, x,
           |    LEAST(9, CAST(FLOOR(x) AS INT)) AS ai FROM tx),
           |anch(ai, r, g, b) AS (VALUES (0,103,0,31),(1,178,24,43),
           |  (2,214,96,77),(3,244,165,130),(4,253,219,199),(5,247,247,247),
           |  (6,209,229,240),(7,146,197,222),(8,67,147,195),(9,33,102,172),
           |  (10,5,48,97)),
           |base AS (SELECT ix.period_date, ix.hour, ix.i,
           |    FLOOR(a0.r + (a1.r - a0.r) * (ix.x - ix.ai) + 0.5) AS r,
           |    FLOOR(a0.g + (a1.g - a0.g) * (ix.x - ix.ai) + 0.5) AS g,
           |    FLOOR(a0.b + (a1.b - a0.b) * (ix.x - ix.ai) + 0.5) AS b
           |  FROM ix JOIN anch a0 ON a0.ai = ix.ai
           |    JOIN anch a1 ON a1.ai = ix.ai + 1)
           |SELECT period_date, hour,
           |  CAST(FLOOR(((2.0 * i) * (r / 255.0) + (1.0 - 2.0 * i)
           |    * ((r / 255.0) * (r / 255.0))) * 255.0 + 0.5) AS INT) AS r,
           |  CAST(FLOOR(((2.0 * i) * (g / 255.0) + (1.0 - 2.0 * i)
           |    * ((g / 255.0) * (g / 255.0))) * 255.0 + 0.5) AS INT) AS g,
           |  CAST(FLOOR(((2.0 * i) * (b / 255.0) + (1.0 - 2.0 * i)
           |    * ((b / 255.0) * (b / 255.0))) * 255.0 + 0.5) AS INT) AS b
           |FROM base""".stripMargin,
      "q186_contour_bands" ->
        s"""WITH cells AS (SELECT CAST(ts AS DATE) AS period_date,
           |    CAST(hour(ts) AS INT) AS hour, ${dAvg("value")} AS v
           |  FROM events GROUP BY 1, 2),
           |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM cells),
           |bd AS (SELECT period_date, hour,
           |    LEAST(149, CAST(FLOOR(LEAST(GREATEST(
           |      CASE WHEN hi = lo THEN 0.5 ELSE (v - lo) / (hi - lo) END,
           |      0.0), 1.0) * 150) AS INT)) AS band
           |  FROM cells, mm),
           |tx AS (SELECT period_date, hour, band,
           |    (CAST(band AS DOUBLE) / 149.0) * 10 AS x FROM bd),
           |ix AS (SELECT period_date, hour, band, x,
           |    LEAST(9, CAST(FLOOR(x) AS INT)) AS ai FROM tx),
           |anch(ai, r, g, b) AS (VALUES (0,103,0,31),(1,178,24,43),
           |  (2,214,96,77),(3,244,165,130),(4,253,219,199),(5,247,247,247),
           |  (6,209,229,240),(7,146,197,222),(8,67,147,195),(9,33,102,172),
           |  (10,5,48,97))
           |SELECT ix.period_date, ix.hour, CAST(ix.band AS BIGINT) AS band,
           |  CAST(FLOOR(a0.r + (a1.r - a0.r) * (ix.x - ix.ai) + 0.5) AS INT) AS r,
           |  CAST(FLOOR(a0.g + (a1.g - a0.g) * (ix.x - ix.ai) + 0.5) AS INT) AS g,
           |  CAST(FLOOR(a0.b + (a1.b - a0.b) * (ix.x - ix.ai) + 0.5) AS INT) AS b
           |FROM ix JOIN anch a0 ON a0.ai = ix.ai
           |  JOIN anch a1 ON a1.ai = ix.ai + 1""".stripMargin,
      "q29_sim_topk" -> topkSql,
      "q30_sim_lsh" -> gateSql(topkSql),
      "q33_sim_ivf" -> gateSql(topkSql),
      "q141_pq_topk" -> gateSql(topkSql),
      "q18_discretize_kmeans" ->
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts, ${dAvg("value")} AS v
           |           FROM events GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(1 AS BIGINT) AS sums_match FROM h""".stripMargin,
      "q59_approx_distinct" ->
        """SELECT event_type,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(1 AS BIGINT) AS within_tol
          |FROM events GROUP BY 1""".stripMargin,
      "q66_bucketed_join" ->
        s"""SELECT l_orderkey, min(o_custkey) AS o_custkey,
           |  ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1""".stripMargin,
      "q71_discretize_hier" ->
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts, ${dAvg("value")} AS v
           |           FROM events GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(1 AS BIGINT) AS sums_match FROM h""".stripMargin,
      "q72_interval_join" ->
        """SELECT l.user_id, l.event_id AS l_event_id, l.ts AS l_ts,
          |  r.event_id AS r_event_id, r.ts AS r_ts, r.value AS r_value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
          |JOIN (SELECT * FROM events WHERE event_type = 'click') r
          |  ON l.user_id = r.user_id
          | AND r.ts >= l.ts - INTERVAL 10 MINUTE AND r.ts <= l.ts""".stripMargin,
      "q68_repetition" ->
        """WITH w AS (SELECT doc_id, text,
          |    string_split_regex(trim(text), '\s+') AS words FROM documents),
          |b AS (SELECT doc_id, text, words,
          |    list_transform(generate_series(1, greatest(len(words) - 1, 0)),
          |      i -> array_to_string(words[i:i+1], ' ')) AS bg
          |  FROM w)
          |SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN 0.0
          |       ELSE round(1.0 - len(list_distinct(words)) / len(words), 6)
          |  END AS dup_word_frac,
          |  CASE WHEN len(bg) <= 0 THEN 0.0
          |       ELSE round(list_max(list_transform(list_distinct(bg),
          |              x -> len(list_filter(bg, y -> y = x)))) / len(bg), 6)
          |  END AS top_bigram_frac
          |FROM b""".stripMargin,
      "q69_vocab" ->
        """SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |FROM (SELECT doc_id,
          |        unnest(string_split_regex(trim(text), '\s+')) AS word
          |      FROM documents)
          |GROUP BY 1 ORDER BY n_occurrences DESC, word ASC LIMIT 100""".stripMargin,
      "q70_tfidf" ->
        """WITH w AS (SELECT doc_id,
          |    unnest(string_split_regex(trim(text), '\s+')) AS word
          |  FROM documents),
          |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
          |dfq AS (SELECT word, count(DISTINCT doc_id) AS dfc FROM w GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |s AS (SELECT doc_id, word, round(tf * ln(n.n / dfc), 6) AS score
          |      FROM tf JOIN dfq USING (word) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, word ASC) AS rn FROM s)
          |SELECT doc_id, word AS top_term, score FROM r WHERE rn = 1""".stripMargin,
      "q67_dedup_groups" ->
        s"""WITH RECURSIVE np AS (${ngramPairsSql(0.5)}),
           |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src)
           |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
           |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin,
      "q31_text_quality" ->
        """WITH c AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
          |    CAST(length(text) AS DOUBLE) AS nc,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
          |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS nd,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
          |  FROM documents)
          |SELECT doc_id, n_words, n_tokens,
          |  round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
          |                   ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
          |    + (alpha / greatest(nc, 1.0)) * 0.25
          |    + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
          |             AND alpha / greatest(nw, 1.0) <= 10
          |            THEN 1.0 ELSE 0.5 END) * 0.25
          |    + (nd / greatest(nw, 1.0)) * 0.25, 6) AS quality
          |FROM c""".stripMargin,
      "q32_langid" ->
        s"""WITH sc AS (SELECT doc_id, lang, $bestExpr AS best, text
           |            FROM documents)
           |SELECT doc_id, lang,
           |  CASE $langCase ELSE 'und' END AS pred_lang
           |FROM sc""".stripMargin,
      "q34_fingerprint" ->
        """SELECT doc_id,
          |  md5(array_to_string(list_sort(list_distinct(
          |    string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
          |FROM documents""".stripMargin,
      "q35_multimodal_meta" ->
        """SELECT doc_id, 'text/plain' AS media_type,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  sha256(text) AS sha256
          |FROM documents""".stripMargin,
      "q36_multimodal_decode" ->
        """WITH g AS (
          |  SELECT doc_id, text,
          |    least(8 + doc_id % 8, octet_length(encode(text)) // 3) AS w,
          |    (octet_length(encode(text)) // 3)
          |      // least(8 + doc_id % 8, octet_length(encode(text)) // 3) AS h
          |  FROM documents),
          |e AS (
          |  SELECT doc_id, w, h, text,
          |    unnest(generate_series(1, 3 * w * h)) AS j
          |  FROM g),
          |ls AS (
          |  SELECT doc_id,
          |    sum((CASE (j - 1) % 3 WHEN 0 THEN 114 WHEN 1 THEN 587
          |          ELSE 299 END) * unicode(substr(text, CAST(j AS INTEGER), 1)))
          |      AS lumasum
          |  FROM e GROUP BY doc_id)
          |SELECT g.doc_id, 'image/bmp' AS media_type,
          |  CAST(54 + h * (((3 * w + 3) // 4) * 4) AS BIGINT) AS n_bytes,
          |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          |  floor(CAST(lumasum AS DOUBLE) / (255000.0 * w * h) * 1e6 + 0.5)
          |    / 1e6 AS mean_luma
          |FROM g JOIN ls USING (doc_id)""".stripMargin,
      "q37_stream_tumbling" ->
        s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           |  CAST(count(*) AS BIGINT) AS n_events, ${dSum("value")} AS total
           |FROM events GROUP BY 1, 2""".stripMargin,
      "q38_stream_session" ->
        s"""WITH x AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |y AS (SELECT *, SUM(new_sess) OVER (
           |        PARTITION BY user_id ORDER BY ts
           |        ROWS UNBOUNDED PRECEDING) AS sess FROM x)
           |SELECT min(ts) AS session_start,
           |  max(ts) + INTERVAL 5 MINUTE AS session_end, user_id,
           |  CAST(count(*) AS BIGINT) AS n_events, ${dSum("value")} AS total
           |FROM y GROUP BY user_id, sess""".stripMargin,
      "q39_stream_sliding" ->
        s"""WITH w AS (
           |  SELECT time_bucket(INTERVAL '15 minutes', ts)
           |           - to_minutes(CAST(o * 15 AS BIGINT)) AS window_start,
           |    event_type, value
           |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) u)
           |SELECT window_start, event_type, ${dAvg("value")} AS mean_value
           |FROM w GROUP BY 1, 2""".stripMargin,
      "q40_frame_row_sum" ->
        "SELECT l_orderkey, l_linenumber, l_quantity + l_tax + l_discount AS row_total FROM lineitem",
      "q41_frame_normalize" ->
        """SELECT l_orderkey, l_linenumber,
          |  (l_quantity - mnq) / (mxq - mnq) AS l_quantity,
          |  (l_tax - mnt) / (mxt - mnt) AS l_tax,
          |  (l_discount - mnd) / (mxd - mnd) AS l_discount
          |FROM lineitem CROSS JOIN (
          |  SELECT min(l_quantity) AS mnq, max(l_quantity) AS mxq,
          |    min(l_tax) AS mnt, max(l_tax) AS mxt,
          |    min(l_discount) AS mnd, max(l_discount) AS mxd
          |  FROM lineitem) m""".stripMargin,
      "q42_frame_to_units" ->
        """SELECT l_orderkey, l_linenumber,
          |  l_quantity * 1.0 + 273.15 AS l_quantity,
          |  l_tax * 1.0 + 273.15 AS l_tax
          |FROM lineitem""".stripMargin,
      "q43_asof_join" ->
        """SELECT l.event_id, l.user_id, l.ts, r.ts AS last_signup_ts
          |FROM events l ASOF LEFT JOIN (
          |  SELECT user_id, ts FROM events WHERE event_type = 'signup') r
          |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
      "q44_rolling_mean" ->
        """SELECT event_id,
          |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
          |    / COUNT(value) OVER w AS rolling_mean
          |FROM events
          |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
          |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,
      "q45_running_total" ->
        """SELECT event_id,
          |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
          |    AS running_total
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |             ROWS UNBOUNDED PRECEDING)""".stripMargin,
      "q50_multi_agg" ->
        s"""SELECT make_timestamp(2024, month(ts), day(ts), 0, 0, 0)
           |     + to_minutes(CAST(hour(ts)*60 AS BIGINT)) AS ts,
           |  ${dSum("value")} AS sum_value,
           |  ${dAvg("value")} AS mean_value,
           |  max(value) AS max_value,
           |  CAST(count(value) AS BIGINT) AS n
           |FROM events GROUP BY 1""".stripMargin,
      "q49_filtered_multijoin" ->
        s"""SELECT n_name,
           |  ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |  AND c_mktsegment = 'BUILDING'
           |GROUP BY 1""".stripMargin,
      "q88_forward_fill" ->
        """SELECT event_id,
          |  last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
          |             IGNORE NULLS) OVER w AS filled
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |             ROWS UNBOUNDED PRECEDING)""".stripMargin,
      "q89_histogram" ->
        """WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
          |SELECT event_type,
          |  CAST(least(floor((value - lo) / ((hi - lo) / 10.0)), 9) AS BIGINT)
          |    AS bin,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM events, mm GROUP BY 1, 2""".stripMargin,
      "q52_lag_delta" ->
        """SELECT event_id,
          |  value - lag(value) OVER (PARTITION BY user_id
          |                           ORDER BY ts, event_id) AS delta
          |FROM events""".stripMargin,
      "q53_count_distinct" ->
        """SELECT event_type,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY 1""".stripMargin,
      "q54_rollup" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dSum("l_quantity")} AS sum_qty,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
      "q60_chunking" ->
        """WITH w AS (SELECT doc_id,
          |    string_split_regex(trim(text), '\s+') AS words FROM documents)
          |SELECT doc_id, CAST(start_word AS BIGINT) AS start_word,
          |  array_to_string(words[start_word+1 : start_word+64], ' ') AS chunk_text
          |FROM (SELECT doc_id, words,
          |        unnest(generate_series(0, greatest(len(words)-1, 0), 48)) AS start_word
          |      FROM w)""".stripMargin,
      "q61_curation_pipeline" -> {
        val qualityExpr =
          """round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
            |                 ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
            |  + (alpha / greatest(nc, 1.0)) * 0.25
            |  + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
            |           AND alpha / greatest(nw, 1.0) <= 10
            |          THEN 1.0 ELSE 0.5 END) * 0.25
            |  + (nd / greatest(nw, 1.0)) * 0.25, 6)""".stripMargin
        s"""WITH base AS (
           |  SELECT doc_id, text,
           |    md5(array_to_string(list_sort(list_distinct(
           |      string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fp
           |  FROM documents),
           |dedup AS (SELECT doc_id, text FROM (
           |  SELECT doc_id, text,
           |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
           |  FROM base) WHERE rk = 1),
           |c AS (SELECT doc_id, text,
           |    CAST(length(text) AS DOUBLE) AS nc,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
           |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS nd,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
           |  FROM dedup),
           |c2 AS (SELECT *, $bestExpr AS best FROM c),
           |scored AS (SELECT doc_id, text, $qualityExpr AS quality,
           |    CASE $langCase ELSE 'und' END AS pred_lang FROM c2),
           |filt AS (SELECT doc_id, quality, text FROM scored
           |         WHERE quality >= 0.5 AND pred_lang = 'en'),
           |w AS (SELECT doc_id, quality,
           |        string_split_regex(trim(text), '\\s+') AS words FROM filt)
           |SELECT doc_id, quality, CAST(start_word AS BIGINT) AS start_word,
           |  array_to_string(words[start_word+1 : start_word+64], ' ') AS chunk_text
           |FROM (SELECT doc_id, quality, words,
           |        unnest(generate_series(0, greatest(len(words)-1, 0), 48)) AS start_word
           |      FROM w)""".stripMargin
      },
      "q64_region_rollup" ->
        s"""SELECT r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           |  ${dSum("s_acctbal")} AS total_acctbal,
           |  ${dAvg("s_acctbal")} AS avg_acctbal
           |FROM supplier
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY 1""".stripMargin,
      "q65_brand_revenue" ->
        s"""SELECT p_brand,
           |  ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  ${dSum("l_quantity")} AS total_qty
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY 1""".stripMargin,
      "q63_melt" ->
        """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,
      "q62_weighted_mean" ->
        s"""SELECT l_returnflag,
           |  ${dSum("l_extendedprice * l_quantity")} / ${dSum("l_quantity")}
           |    AS qty_weighted_price
           |FROM lineitem GROUP BY 1""".stripMargin,
      "q55_quantiles" ->
        """SELECT l_returnflag,
          |  quantile_cont(l_quantity, 0.5) AS p50,
          |  quantile_cont(l_quantity, 0.9) AS p90,
          |  quantile_cont(l_extendedprice, 0.5) AS price_p50
          |FROM lineitem GROUP BY 1""".stripMargin,
      "q58_sample_per_source" ->
        """SELECT source, doc_id FROM (
          |  SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id) AS rn
          |  FROM documents) WHERE rn <= 3""".stripMargin,
      "q87_curation_v2" -> {
        val qualityExpr =
          """round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
            |                 ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
            |  + (alpha / greatest(nc, 1.0)) * 0.25
            |  + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
            |           AND alpha / greatest(nw, 1.0) <= 10
            |          THEN 1.0 ELSE 0.5 END) * 0.25
            |  + (nd / greatest(nw, 1.0)) * 0.25, 6)""".stripMargin
        def winSql(cond: String, withDoc: Boolean): String = {
          val sel = if (withDoc) "doc_id, win" else "win"
          s"""SELECT DISTINCT $sel FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(
             |        generate_series(1, greatest(length(text) - 49, 0)),
             |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
             |    FROM documents WHERE $cond AND length(text) >= 50)""".stripMargin
        }
        s"""WITH RECURSIVE
           |tw AS (${winSql("doc_id >= 10", withDoc = true)}),
           |bw AS (${winSql("doc_id < 10", withDoc = false)}),
           |contaminated AS (SELECT DISTINCT doc_id FROM tw
           |                 WHERE win IN (SELECT win FROM bw)),
           |clean AS (SELECT * FROM documents WHERE doc_id >= 10
           |          AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |cdocs AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(words) - 2, 0)),
           |    i -> array_to_string(words[i:i+2], ' '))) AS sh
           |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM clean)),
           |cex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM cdocs),
           |celig AS (SELECT shingle FROM cex GROUP BY shingle
           |          HAVING count(*) BETWEEN 2 AND 1000),
           |cpairs AS (
           |  SELECT l.doc_id AS a, r.doc_id AS b, l.n_sh AS na, r.n_sh AS nb,
           |    count(*) AS n_inter
           |  FROM cex l JOIN cex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
           |  WHERE l.shingle IN (SELECT shingle FROM celig)
           |  GROUP BY 1, 2, 3, 4),
           |np AS (SELECT a, b FROM (
           |  SELECT a, b, n_inter / (na + nb - n_inter) AS j FROM cpairs)
           |  WHERE j >= 0.5),
           |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src),
           |reps AS (SELECT c.* FROM clean c LEFT JOIN comp USING (doc_id)
           |         WHERE comp.component IS NULL OR comp.component = c.doc_id),
           |c1 AS (SELECT doc_id, text,
           |    CAST(length(text) AS DOUBLE) AS nc,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
           |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS nd,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    string_split_regex(trim(text), '\\s+') AS words
           |  FROM reps),
           |c2 AS (SELECT *, $bestExpr AS best,
           |    list_transform(generate_series(1, greatest(len(words) - 1, 0)),
           |      i -> array_to_string(words[i:i+1], ' ')) AS bg
           |  FROM c1),
           |scored AS (SELECT doc_id, words, $qualityExpr AS quality,
           |    CASE $langCase ELSE 'und' END AS pred_lang,
           |    CASE WHEN len(bg) <= 0 THEN 0.0
           |         ELSE round(list_max(list_transform(list_distinct(bg),
           |                x -> len(list_filter(bg, y -> y = x)))) / len(bg), 6)
           |    END AS tb
           |  FROM c2),
           |filt AS (SELECT doc_id, words FROM scored
           |         WHERE quality >= 0.5 AND tb <= 0.2 AND pred_lang = 'en')
           |SELECT doc_id, CAST(start_word AS BIGINT) AS start_word,
           |  array_to_string(words[start_word+1 : start_word+64], ' ') AS chunk_text
           |FROM (SELECT doc_id, words,
           |        unnest(generate_series(0, greatest(len(words) - 1, 0), 48))
           |          AS start_word
           |      FROM filt)""".stripMargin
      },
      // independent SQL derivation of the whole 8-stage mega-pipeline:
      // each stage CTE mirrors the certified per-operator oracles
      // (q86 decon windows, q24 exact keep, q87 shingle/CC/filters,
      // q28 cosine, q189 span scrub, q180 temperature mix, q97 pack)
      // q194's incremental sibling: every stage replayed as a CTE —
      // the lake is the evens' distinct md5 set, near-dup/semantic
      // removal by the history-outranks-increment + earlier-id rule
      "q207_incremental_pipeline" ->
        s"""WITH
           |$incPipeCtes
           |SELECT stage, n_docs, metric FROM (
           |  SELECT '1_decon' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS metric FROM s1
           |  UNION ALL SELECT '2_exact_lake', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2
           |  UNION ALL SELECT '3_neardup_cross', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3
           |  UNION ALL SELECT '4_sem_cross', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s4
           |  UNION ALL SELECT '5_filters', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s5)""".stripMargin,
      // per-doc disposition over the same chain: the CTE prefix is
      // IDENTICAL to q207's — only the final projection differs
      "q221_disposition_audit" ->
        s"""WITH
           |$incPipeCtes
           |SELECT doc_id, stage FROM (
           |  SELECT doc_id, '1_decontaminated' AS stage FROM contaminated
           |  UNION ALL SELECT doc_id, '2_exact_dup' FROM s1
           |    WHERE doc_id NOT IN (SELECT doc_id FROM s2)
           |  UNION ALL SELECT doc_id, '3_near_dup' FROM rem3
           |    WHERE doc_id IS NOT NULL
           |  UNION ALL SELECT doc_id, '4_semantic_dup' FROM rem4
           |    WHERE doc_id IS NOT NULL
           |  UNION ALL SELECT doc_id, '5_quality' FROM s4
           |    WHERE doc_id NOT IN (SELECT doc_id FROM s5)
           |  UNION ALL SELECT doc_id, '6_admitted' FROM s5)""".stripMargin,
      // q208: the streaming lake-ingest gate — exact should-remove set
      // of one odd-half increment against the even-half lake: decon
      // windows + content-hash dups (within-increment min-id rule and
      // vs the lake) + cross-parity near-dup and semantic pairs
      "q208_stream_lake_ingest" -> gateSql(
        s"""SELECT DISTINCT doc_id FROM (
           |  SELECT doc_id FROM (${winSql(
                "doc_id >= 10 AND doc_id % 2 = 1", withDoc = true)})
           |    WHERE win IN (SELECT win FROM
           |      (${winSql("doc_id < 10", withDoc = false)}))
           |  UNION
           |  SELECT doc_id FROM (SELECT doc_id, md5(text) AS h
           |      FROM documents WHERE doc_id >= 10 AND doc_id % 2 = 1)
           |    WHERE h IN (SELECT md5(text) FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 0)
           |  UNION
           |  SELECT o.doc_id FROM
           |    (SELECT doc_id, md5(text) AS h FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 1) o
           |    JOIN (SELECT md5(text) AS h, min(doc_id) AS m
           |      FROM documents WHERE doc_id >= 10 AND doc_id % 2 = 1
           |      GROUP BY 1) g
           |    ON o.h = g.h AND o.doc_id <> g.m
           |  UNION
           |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
           |    FROM (${ngramPairsSql(0.5)})
           |    WHERE a >= 10 AND b >= 10 AND (a % 2) <> (b % 2)
           |  UNION
           |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
           |    FROM (${neardupSql(0.4)})
           |    WHERE a >= 10 AND b >= 10 AND (a % 2) <> (b % 2))""".stripMargin),
      "q229_stream_full_ingest" -> gateSql(
        s"""SELECT DISTINCT doc_id FROM (
           |  SELECT doc_id FROM (${winSql(
                "doc_id >= 10 AND doc_id % 2 = 1", withDoc = true)})
           |    WHERE win IN (SELECT win FROM
           |      (${winSql("doc_id < 10", withDoc = false)}))
           |  UNION
           |  SELECT doc_id FROM (SELECT doc_id, md5(text) AS h
           |      FROM documents WHERE doc_id >= 10 AND doc_id % 2 = 1)
           |    WHERE h IN (SELECT md5(text) FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 0)
           |  UNION
           |  SELECT o.doc_id FROM
           |    (SELECT doc_id, md5(text) AS h FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 1) o
           |    JOIN (SELECT md5(text) AS h, min(doc_id) AS m
           |      FROM documents WHERE doc_id >= 10 AND doc_id % 2 = 1
           |      GROUP BY 1) g
           |    ON o.h = g.h AND o.doc_id <> g.m
           |  UNION
           |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
           |    FROM (${ngramPairsSql(0.5)})
           |    WHERE a >= 10 AND b >= 10 AND (a % 2) <> (b % 2)
           |  UNION
           |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
           |    FROM (${neardupSql(0.4)})
           |    WHERE a >= 10 AND b >= 10 AND (a % 2) <> (b % 2)
           |  UNION
           |  -- stage-6 DSIR rejections: the q216 arithmetic, model
           |  -- fit on the history half (even ids with an embedding),
           |  -- scoring the increment half (odd ids with an embedding)
           |  SELECT doc_id FROM (
           |    WITH htok AS (SELECT (lang = 'en') AS is_t,
           |        string_split_regex(trim(text), '\\s+') AS ws
           |      FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 0
           |        AND doc_id IN (SELECT vec_id FROM embeddings)),
           |    hfeat AS (SELECT is_t,
           |        CAST('0x' || substring(md5(w || 'graft'), 1, 8)
           |          AS BIGINT) % 1024 AS b
           |      FROM (SELECT is_t, unnest(ws) AS w FROM htok
           |            UNION ALL
           |            SELECT is_t, ws[i] || ' ' || ws[i + 1] AS w
           |            FROM htok, unnest(range(1, len(ws))) AS r(i))),
           |    hc AS (SELECT b, count(*) AS rc,
           |        sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
           |      FROM hfeat GROUP BY 1),
           |    ht AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt,
           |        CAST(sum(tc) AS DOUBLE) AS tt FROM hc),
           |    hlr AS (SELECT r.b, CAST(round(
           |        (ln((coalesce(hc.tc, 0) + 1.0) / (ht.tt + 1024.0))
           |         - ln((coalesce(hc.rc, 0) + 1.0) / (ht.rt + 1024.0)))
           |        * 1000000.0) AS BIGINT) AS lr_micro
           |      FROM range(0, 1024) r(b)
           |      LEFT JOIN hc ON hc.b = r.b CROSS JOIN ht),
           |    itok AS (SELECT doc_id,
           |        string_split_regex(trim(text), '\\s+') AS ws
           |      FROM documents
           |      WHERE doc_id >= 10 AND doc_id % 2 = 1
           |        AND doc_id IN (SELECT vec_id FROM embeddings)),
           |    ifeat AS (SELECT doc_id,
           |        CAST('0x' || substring(md5(w || 'graft'), 1, 8)
           |          AS BIGINT) % 1024 AS b
           |      FROM (SELECT doc_id, unnest(ws) AS w FROM itok
           |            UNION ALL
           |            SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS w
           |            FROM itok, unnest(range(1, len(ws))) AS r(i))),
           |    iscore AS (SELECT doc_id, sum(lr_micro) AS iw
           |      FROM ifeat JOIN hlr USING (b) GROUP BY 1)
           |    SELECT t.doc_id
           |    FROM itok t LEFT JOIN iscore s ON s.doc_id = t.doc_id
           |    WHERE coalesce(s.iw, 0) < 1))""".stripMargin),
      "q194_megapipeline" -> {
        s"""WITH RECURSIVE
           |tw AS MATERIALIZED (${winSql("doc_id >= 10", withDoc = true)}),
           |bw AS MATERIALIZED (${winSql("doc_id < 10", withDoc = false)}),
           |contaminated AS MATERIALIZED (SELECT DISTINCT doc_id FROM tw
           |                 WHERE win IN (SELECT win FROM bw)),
           |s1 AS MATERIALIZED (SELECT * FROM documents WHERE doc_id >= 10
           |       AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |s2 AS MATERIALIZED (SELECT * FROM s1
           |       WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY text)),
           |cdocs AS MATERIALIZED (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(words) - 2, 0)),
           |    i -> array_to_string(words[i:i+2], ' '))) AS sh
           |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM s2)),
           |cex AS MATERIALIZED (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM cdocs),
           |celig AS MATERIALIZED (SELECT shingle FROM cex GROUP BY shingle
           |          HAVING count(*) BETWEEN 2 AND 1000),
           |cpairs AS MATERIALIZED (
           |  SELECT l.doc_id AS a, r.doc_id AS b, l.n_sh AS na, r.n_sh AS nb,
           |    count(*) AS n_inter
           |  FROM cex l JOIN cex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
           |  WHERE l.shingle IN (SELECT shingle FROM celig)
           |  GROUP BY 1, 2, 3, 4),
           |np AS MATERIALIZED (SELECT a, b FROM (
           |  SELECT a, b, n_inter / (na + nb - n_inter) AS j FROM cpairs)
           |  WHERE j >= 0.5),
           |edges AS MATERIALIZED (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS MATERIALIZED (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src),
           |s3 AS MATERIALIZED (SELECT c.* FROM s2 c LEFT JOIN comp USING (doc_id)
           |       WHERE comp.component IS NULL OR comp.component = c.doc_id),
           |semb AS MATERIALIZED (SELECT e.vec_id, e.embedding FROM embeddings e
           |         JOIN s3 ON e.vec_id = s3.doc_id),
           |sem AS MATERIALIZED (SELECT DISTINCT y.vec_id AS b
           |  FROM semb x JOIN semb y ON x.vec_id < y.vec_id
           |  WHERE round(${cos("x.embedding", "y.embedding")}, 6) >= 0.4),
           |s4 AS MATERIALIZED (SELECT * FROM s3
           |       WHERE doc_id NOT IN (SELECT b FROM sem)),
           |c1 AS MATERIALIZED (SELECT doc_id, text,
           |    CAST(length(text) AS DOUBLE) AS nc,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
           |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS nd,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    string_split_regex(trim(text), '\\s+') AS words
           |  FROM s4),
           |c2 AS MATERIALIZED (SELECT *, $bestExpr AS best,
           |    list_transform(generate_series(1, greatest(len(words) - 1, 0)),
           |      i -> array_to_string(words[i:i+1], ' ')) AS bg
           |  FROM c1),
           |scored AS MATERIALIZED (SELECT doc_id, $qualityExpr AS quality,
           |    CASE $langCase ELSE 'und' END AS pred_lang,
           |    CASE WHEN len(bg) <= 0 THEN 0.0
           |         ELSE round(list_max(list_transform(list_distinct(bg),
           |                x -> len(list_filter(bg, y -> y = x)))) / len(bg), 6)
           |    END AS tb
           |  FROM c2),
           |s5 AS MATERIALIZED (SELECT s4.* FROM s4 JOIN (SELECT doc_id FROM scored
           |    WHERE quality >= 0.5 AND tb <= 0.2 AND pred_lang = 'en') f
           |  USING (doc_id)),
           |toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM s5),
           |spos AS MATERIALIZED (SELECT doc_id, w,
           |        unnest(generate_series(1, len(w) - 4)) AS i
           |      FROM toks WHERE len(w) >= 5),
           |sg AS MATERIALIZED (SELECT doc_id, i,
           |        array_to_string(w[i:i+4], ' ') AS gram FROM spos),
           |sdf AS MATERIALIZED (SELECT gram, count(DISTINCT doc_id) AS df
           |       FROM sg GROUP BY 1),
           |cov AS MATERIALIZED (SELECT DISTINCT doc_id, tp FROM (
           |  SELECT sg.doc_id, unnest(generate_series(sg.i, sg.i + 4)) AS tp
           |  FROM sg JOIN sdf USING (gram) WHERE sdf.df >= 2)),
           |tk AS MATERIALIZED (SELECT doc_id, unnest(generate_series(1, len(w))) AS tp
           |       FROM toks),
           |kept AS MATERIALIZED (SELECT tk.doc_id,
           |    count(*) - sum(CASE WHEN cov.tp IS NOT NULL THEN 1 ELSE 0 END)
           |      AS kt
           |  FROM tk LEFT JOIN cov
           |    ON tk.doc_id = cov.doc_id AND tk.tp = cov.tp
           |  GROUP BY 1),
           |mc AS MATERIALIZED (SELECT source,
           |    CAST(round(1e6 * sqrt(count(*))) AS BIGINT) AS w
           |  FROM s5 GROUP BY 1),
           |mz AS MATERIALIZED (SELECT sum(w) AS z FROM mc),
           |ma AS MATERIALIZED (SELECT source, (200 * w) // z AS alloc FROM mc, mz),
           |mr AS MATERIALIZED (SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id) AS rn
           |  FROM s5),
           |mix AS MATERIALIZED (SELECT mr.doc_id, mr.source FROM mr
           |  JOIN ma ON mr.source = ma.source WHERE mr.rn <= ma.alloc),
           |sel AS MATERIALIZED (SELECT mix.doc_id, mix.source, kept.kt
           |  FROM mix JOIN kept USING (doc_id)),
           |pc AS MATERIALIZED (SELECT source, doc_id, kt,
           |    coalesce(sum(kt) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           |  FROM sel),
           |pk AS MATERIALIZED (SELECT source, CAST(cum // 4000 AS BIGINT) AS bin, kt FROM pc)
           |SELECT stage, n_docs, metric FROM (
           |  SELECT '1_decon' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS metric FROM s1
           |  UNION ALL SELECT '2_exact', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2
           |  UNION ALL SELECT '3_neardup', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3
           |  UNION ALL SELECT '4_semdedup', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s4
           |  UNION ALL SELECT '5_filters', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s5
           |  UNION ALL SELECT '6_scrub', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(kt), 0) AS BIGINT) FROM kept
           |  UNION ALL SELECT '7_mix', CAST(count(*) AS BIGINT),
           |    CAST(coalesce(sum(kt), 0) AS BIGINT) FROM sel
           |  UNION ALL SELECT '8_pack',
           |    (SELECT CAST(count(*) AS BIGINT) FROM
           |      (SELECT DISTINCT source, bin FROM pk)),
           |    CAST(coalesce(sum(kt), 0) AS BIGINT) FROM pk)""".stripMargin
      },
      "q195_segment_dedup" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
          |  FROM documents),
          |occ AS (SELECT doc_id, w,
          |    unnest(generate_series(0,
          |      CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS idx
          |  FROM toks),
          |seg AS (SELECT doc_id, idx,
          |    array_to_string(w[idx*10+1 : idx*10+10], ' ') AS seg
          |  FROM occ),
          |k AS (SELECT doc_id, idx, seg,
          |    (row_number() OVER (PARTITION BY seg
          |       ORDER BY doc_id, idx)) = 1 AS keep
          |  FROM seg)
          |SELECT doc_id,
          |  coalesce(string_agg(CASE WHEN keep THEN seg END,
          |    ' ' ORDER BY idx), '') AS clean_text,
          |  CAST(count(*) AS BIGINT) AS n_segments,
          |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
          |    AS n_removed
          |FROM k GROUP BY 1""".stripMargin,
      "q196_exact_lake" ->
        """WITH ch AS (SELECT doc_id, md5(text) AS h FROM documents),
          |lake AS (SELECT DISTINCT h FROM ch WHERE doc_id % 2 = 0),
          |keep AS (SELECT h, min(doc_id) AS doc_id FROM ch
          |         WHERE doc_id % 2 = 1 GROUP BY 1)
          |SELECT doc_id FROM keep
          |WHERE h NOT IN (SELECT h FROM lake)""".stripMargin,
      "q197_filter_sweep" ->
        """WITH c AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
          |    CAST(length(text) AS DOUBLE) AS nc,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
          |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS nd,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
          |  FROM documents),
          |q AS (SELECT doc_id, n_tokens,
          |  round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
          |                   ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
          |    + (alpha / greatest(nc, 1.0)) * 0.25
          |    + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
          |             AND alpha / greatest(nw, 1.0) <= 10
          |            THEN 1.0 ELSE 0.5 END) * 0.25
          |    + (nd / greatest(nw, 1.0)) * 0.25, 6) AS quality
          |  FROM c),
          |tot AS (SELECT CAST(count(*) AS DOUBLE) AS td,
          |        CAST(sum(n_tokens) AS DOUBLE) AS tw FROM q),
          |t AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8])
          |        AS DOUBLE) AS threshold)
          |SELECT t.threshold,
          |  CAST(count(CASE WHEN q.quality >= t.threshold THEN 1 END)
          |    AS BIGINT) AS docs_kept,
          |  CAST(coalesce(sum(CASE WHEN q.quality >= t.threshold
          |    THEN q.n_tokens END), 0) AS BIGINT) AS weight_kept,
          |  round(CAST(count(CASE WHEN q.quality >= t.threshold THEN 1
          |    END) AS DOUBLE) / tot.td, 6) AS doc_frac,
          |  round(CAST(coalesce(sum(CASE WHEN q.quality >= t.threshold
          |    THEN q.n_tokens END), 0) AS DOUBLE) / tot.tw, 6)
          |    AS weight_frac
          |FROM t CROSS JOIN q CROSS JOIN tot
          |GROUP BY t.threshold, tot.td, tot.tw""".stripMargin,
      // the q197 sweep as a CTE, the max-threshold-retaining-60% pick
      // as a scalar subquery, then the filter — the full two-job
      // contract replayed in one SQL statement
      "q202_calibrated_filter" ->
        """WITH c AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
          |    CAST(length(text) AS DOUBLE) AS nc,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
          |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS nd,
          |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
          |  FROM documents),
          |q AS (SELECT doc_id, n_tokens,
          |  round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
          |                   ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
          |    + (alpha / greatest(nc, 1.0)) * 0.25
          |    + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
          |             AND alpha / greatest(nw, 1.0) <= 10
          |            THEN 1.0 ELSE 0.5 END) * 0.25
          |    + (nd / greatest(nw, 1.0)) * 0.25, 6) AS quality
          |  FROM c),
          |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tw FROM q),
          |curve AS (
          |  SELECT t.threshold,
          |    round(CAST(coalesce(sum(CASE WHEN q.quality >= t.threshold
          |      THEN q.n_tokens END), 0) AS DOUBLE) / tot.tw, 6)
          |      AS weight_frac
          |  FROM (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8])
          |          AS DOUBLE) AS threshold) t
          |  CROSS JOIN q CROSS JOIN tot
          |  GROUP BY t.threshold, tot.tw),
          |pick AS (SELECT max(threshold) AS thr FROM curve
          |         WHERE weight_frac >= 0.6)
          |SELECT q.doc_id, q.quality, q.n_tokens, pick.thr AS threshold
          |FROM q CROSS JOIN pick WHERE q.quality >= pick.thr""".stripMargin,
      "q198_exact_lake_cycle" ->
        """SELECT doc_id FROM (
          |  SELECT doc_id, row_number() OVER (
          |      PARTITION BY md5(text) ORDER BY doc_id % 3, doc_id)
          |    AS rn
          |  FROM documents)
          |WHERE rn = 1 AND doc_id % 3 = 2""".stripMargin,
      "q199_lm_bigram" ->
        s"""WITH toks AS (SELECT doc_id,
           |    string_split_regex(trim(text), '\\s+') AS w
           |  FROM documents),
           |uni AS (SELECT word, count(*) AS c FROM (
           |    SELECT unnest(w) AS word FROM toks) GROUP BY 1),
           |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
           |bi AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur FROM (
           |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 1))
           |      AS i
           |    FROM toks WHERE len(w) >= 2)),
           |bc AS (SELECT prev, cur, count(*) AS bc
           |       FROM bi GROUP BY 1, 2)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  round(${dAvg("ln(0.75 * (CAST(bc.bc AS DOUBLE) / " +
             "CAST(up.c AS DOUBLE)) + 0.25 * (CAST(uc.c AS DOUBLE) " +
             "/ tot.t))")}, 6) AS logprob
           |FROM bi JOIN bc ON bi.prev = bc.prev AND bi.cur = bc.cur
           |  JOIN uni up ON up.word = bi.prev
           |  JOIN uni uc ON uc.word = bi.cur
           |  CROSS JOIN tot
           |GROUP BY 1""".stripMargin,
      "q85_standardize" ->
        s"""WITH st AS (SELECT ${dSum("value")} AS s,
           |    ${dSum("value * value")} AS q,
           |    CAST(count(value) AS DOUBLE) AS n FROM events)
           |SELECT event_id,
           |  (value - (s / n)) / sqrt(q / n - (s / n) * (s / n)) AS value
           |FROM events, st""".stripMargin,
      "q184_stream_decon" ->
        """WITH tw AS (
          |  SELECT DISTINCT doc_id, win FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id >= 10 AND length(text) >= 50)),
          |bw AS (
          |  SELECT DISTINCT win FROM (
          |    SELECT unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id < 10 AND length(text) >= 50)),
          |bad AS (SELECT DISTINCT doc_id FROM tw
          |        WHERE win IN (SELECT win FROM bw))
          |SELECT doc_id FROM documents
          |WHERE doc_id >= 10 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
      "q86_decontaminate" ->
        """WITH tw AS (
          |  SELECT DISTINCT doc_id, win FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id >= 10 AND length(text) >= 50)),
          |bw AS (
          |  SELECT DISTINCT win FROM (
          |    SELECT unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id < 10 AND length(text) >= 50))
          |SELECT doc_id AS id,
          |  CAST(count(*) AS BIGINT) AS n_contaminated_windows
          |FROM tw WHERE win IN (SELECT win FROM bw)
          |GROUP BY 1""".stripMargin,
      "q81_semi_join" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey
          |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')""".stripMargin,
      "q82_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey)""".stripMargin,
      "q83_left_join" ->
        s"""SELECT c_custkey,
           |  CAST(COALESCE(n, 0) AS BIGINT) AS n_orders, total_spend
           |FROM customer LEFT JOIN (
           |  SELECT o_custkey, count(*) AS n,
           |    ${dSum("o_totalprice")} AS total_spend
           |  FROM orders GROUP BY 1) s ON c_custkey = o_custkey""".stripMargin,
      "q84_rank_window" ->
        """SELECT s_nationkey, s_suppkey, s_acctbal,
          |  CAST(rank() OVER w AS BIGINT) AS rnk,
          |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
          |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM supplier
          |WINDOW w AS (PARTITION BY s_nationkey
          |             ORDER BY s_acctbal DESC, s_suppkey ASC)""".stripMargin,
      "q79_column_profile" -> {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val cells = cols.map(c =>
          s"""CAST(count($c) AS BIGINT) AS ${c}_n,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS ${c}_distinct,
             |  min($c) AS ${c}_min, max($c) AS ${c}_max,
             |  ${dAvg(c)} AS ${c}_mean""".stripMargin).mkString(",\n  ")
        s"SELECT $cells\nFROM lineitem"
      },
      "q104_lm_score" ->
        s"""WITH w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |f AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
           |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  round(${dAvg("ln(CAST(cnt AS DOUBLE) / total)")}, 6) AS logprob
           |FROM w JOIN f USING (word) CROSS JOIN t
           |GROUP BY 1""".stripMargin,
      "q105_source_kl" ->
        s"""WITH w AS (SELECT source,
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |sw AS (SELECT source, word, count(*) AS c_sw FROM w GROUP BY 1, 2),
           |s AS (SELECT source, CAST(sum(c_sw) AS DOUBLE) AS n_s
           |      FROM sw GROUP BY 1),
           |g AS (SELECT word, CAST(sum(c_sw) AS DOUBLE) AS c_w
           |      FROM sw GROUP BY 1),
           |t AS (SELECT CAST(sum(c_sw) AS DOUBLE) AS n FROM sw)
           |SELECT source,
           |  round(${dSum("(CAST(c_sw AS DOUBLE) / n_s) * ln((CAST(c_sw AS DOUBLE) / n_s) / (c_w / n))")}, 6)
           |    AS kl_divergence
           |FROM sw JOIN s USING (source) JOIN g USING (word) CROSS JOIN t
           |GROUP BY 1""".stripMargin,
      "q106_interpolate" ->
        """WITH b AS (
          |  SELECT event_id, event_type, ts,
          |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
          |  FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
          |        ORDER BY ts, event_id) AS rn FROM b),
          |p AS (SELECT *,
          |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
          |      OVER wp AS pr,
          |    last_value(v IGNORE NULLS) OVER wp AS pv,
          |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
          |      OVER wn AS nr,
          |    first_value(v IGNORE NULLS) OVER wn AS nv
          |  FROM r
          |  WINDOW wp AS (PARTITION BY event_type ORDER BY rn
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |  wn AS (PARTITION BY event_type ORDER BY rn
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT event_id,
          |  CAST(event_id % 7 = 0 AS BIGINT) AS was_masked,
          |  CASE WHEN v IS NOT NULL THEN v
          |       WHEN pr IS NULL THEN nv
          |       WHEN nr IS NULL THEN pv
          |       ELSE round(pv + (nv - pv) * ((rn - pr) / (nr - pr)), 6)
          |  END AS interp
          |FROM p""".stripMargin,
      "q107_autocorr" -> {
        val lags = Seq(1, 2, 3)
        def pair(k: Int) = s"value IS NOT NULL AND lag$k IS NOT NULL"
        def stats(k: Int) = Seq(
          s"count(CASE WHEN ${pair(k)} THEN 1 END) AS n$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN value END")} AS sx$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN lag$k END")} AS sy$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN value * lag$k END")} AS sxy$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN value * value END")} AS sxx$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN lag$k * lag$k END")} AS syy$k")
        def acf(k: Int) = {
          val n = s"CAST(n$k AS DOUBLE)"
          val cov = s"($n * sxy$k - sx$k * sy$k)"
          val vx = s"($n * sxx$k - sx$k * sx$k)"
          val vy = s"($n * syy$k - sy$k * sy$k)"
          s"round(CASE WHEN n$k >= 2 AND $vx > 0.0 AND $vy > 0.0 " +
            s"THEN $cov / sqrt($vx * $vy) END, 6) AS acf_$k"
        }
        s"""WITH l AS (
           |  SELECT event_type, value,
           |    ${lags.map(k => s"lag(value, $k) OVER w AS lag$k").mkString(",\n    ")}
           |  FROM events
           |  WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)),
           |a AS (
           |  SELECT event_type,
           |    ${lags.flatMap(stats).mkString(",\n    ")}
           |  FROM l GROUP BY 1)
           |SELECT event_type,
           |  ${lags.map(acf).mkString(",\n  ")}
           |FROM a""".stripMargin
      },
      "q108_entropy" -> {
        val p = "CAST(c AS DOUBLE) / CAST(n_words AS DOUBLE)"
        s"""WITH w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |f AS (SELECT doc_id, word, count(*) AS c FROM w
           |      WHERE word <> '' GROUP BY 1, 2),
           |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words
           |      FROM f GROUP BY 1)
           |SELECT doc_id, n_words,
           |  round(-(${dSum(s"($p) * ln($p)")}), 6) AS entropy
           |FROM f JOIN n USING (doc_id)
           |GROUP BY 1, 2""".stripMargin
      },
      "q109_zipf" -> {
        val cov = "(CAST(n AS DOUBLE) * sxy - sx * sy)"
        val den = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
        s"""WITH w AS (SELECT
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |f AS (SELECT word, count(*) AS cnt FROM w
           |      WHERE word <> '' GROUP BY 1),
           |r AS (SELECT
           |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS DOUBLE)
           |      AS rnk,
           |    CAST(cnt AS DOUBLE) AS c
           |  FROM f),
           |a AS (SELECT count(*) AS n,
           |    ${dSum("ln(rnk)")} AS sx, ${dSum("ln(c)")} AS sy,
           |    ${dSum("ln(rnk) * ln(c)")} AS sxy,
           |    ${dSum("ln(rnk) * ln(rnk)")} AS sxx
           |  FROM r)
           |SELECT CAST(n AS BIGINT) AS n_vocab,
           |  round($cov / $den, 6) AS slope,
           |  round((sy - ($cov / $den) * sx) / CAST(n AS DOUBLE), 6)
           |    AS intercept
           |FROM a""".stripMargin
      },
      "q110_quantile_norm" ->
        """SELECT l_orderkey, l_linenumber, l_returnflag,
          |  round((CAST(row_number() OVER (PARTITION BY l_returnflag
          |      ORDER BY l_extendedprice ASC, l_orderkey ASC,
          |        l_linenumber ASC) AS DOUBLE) - 0.5)
          |    / CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE), 6)
          |    AS quantile
          |FROM lineitem""".stripMargin,
      "q111_gap_detect" ->
        s"""WITH g AS (
           |  SELECT event_type, ts,
           |    lag(ts) OVER (PARTITION BY event_type
           |      ORDER BY ts ASC, event_id ASC) AS prev
           |  FROM events),
           |d AS (SELECT *,
           |    epoch_us(CAST(ts AS TIMESTAMP))
           |      - epoch_us(CAST(prev AS TIMESTAMP)) AS gap_us
           |  FROM g),
           |a AS (SELECT event_type, ${dAvg("gap_us")} AS avg_gap
           |      FROM d GROUP BY 1)
           |SELECT d.event_type, prev AS gap_start, ts AS gap_end, gap_us,
           |  round(avg_gap / 1000000.0, 6) AS avg_gap_sec
           |FROM d JOIN a USING (event_type)
           |WHERE CAST(gap_us AS DOUBLE) > 2.0 * avg_gap""".stripMargin,
      "q112_mad_outlier" ->
        """WITH m AS (SELECT event_type, round(median(value), 6) AS med
          |      FROM events GROUP BY 1),
          |a AS (SELECT e.event_type,
          |      round(median(abs(e.value - m.med)), 6) AS mad
          |    FROM events e JOIN m USING (event_type) GROUP BY 1)
          |SELECT e.event_type, count(e.value) AS n, m.med AS median,
          |  a.mad AS mad,
          |  CAST(sum(CAST(abs(e.value - m.med) > 3.0 * 1.4826 * a.mad
          |    AS BIGINT)) AS BIGINT) AS n_outliers
          |FROM events e JOIN m USING (event_type) JOIN a USING (event_type)
          |GROUP BY 1, 3, 4""".stripMargin,
      "q113_edit_distance" ->
        """WITH b AS (
          |  SELECT doc_id AS id, substr(text, 1, 64) AS p,
          |    length(text) // 8 AS band, substr(text, 1, 8) AS anchor
          |  FROM documents),
          |e AS (SELECT band, anchor FROM b GROUP BY 1, 2
          |      HAVING count(*) BETWEEN 2 AND 1000),
          |c AS (SELECT b.* FROM b JOIN e USING (band, anchor))
          |SELECT x.id AS a, y.id AS b,
          |  CAST(levenshtein(x.p, y.p) AS BIGINT) AS dist
          |FROM c x JOIN c y ON x.band = y.band AND x.anchor = y.anchor
          |  AND x.id < y.id
          |WHERE abs(length(x.p) - length(y.p)) <= 20
          |  AND levenshtein(x.p, y.p) <= 20""".stripMargin,
      "q114_cube" -> {
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dSum("l_quantity")} AS sum_qty,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
           |    AS BIGINT) AS gid
           |FROM lineitem
           |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin
      },
      "q115_skew_report" -> {
        val n = "CAST(n_keys AS DOUBLE)"
        s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events
           |      GROUP BY 1),
           |r AS (SELECT CAST(row_number() OVER (ORDER BY cnt ASC,
           |        CAST(user_id AS VARCHAR) ASC) AS DOUBLE) AS rank, cnt
           |      FROM c),
           |k AS (SELECT count(*) AS n_keys FROM c),
           |a AS (SELECT ${dSum("cnt")} AS tot, max(cnt) AS max_cnt,
           |    ${dSum("rank * cnt")} AS src,
           |    ${dSum("CASE WHEN rank > ceil((SELECT n_keys FROM k) * 0.99) THEN cnt END")}
           |      AS top
           |  FROM r)
           |SELECT n_keys, CAST(tot AS BIGINT) AS n_rows, max_cnt,
           |  round(CAST(max_cnt AS DOUBLE) / tot, 6) AS max_share,
           |  round(coalesce(top, 0.0) / tot, 6) AS top1pct_share,
           |  round((2.0 * src) / ($n * tot) - ($n + 1.0) / $n, 6) AS gini
           |FROM a CROSS JOIN k""".stripMargin
      },
      "q116_sentence_dedup" ->
        """WITH s AS (
          |  SELECT DISTINCT id, h FROM (
          |    SELECT doc_id AS id, md5(trim(s)) AS h
          |    FROM (SELECT doc_id,
          |            unnest(string_split_regex(text, '[.!?]+')) AS s
          |          FROM documents)
          |    WHERE length(trim(s)) > 0)),
          |d AS (SELECT h, count(*) AS df FROM s GROUP BY 1)
          |SELECT id, CAST(count(*) AS BIGINT) AS n_sentences,
          |  CAST(sum(CAST(df >= 2 AS BIGINT)) AS BIGINT) AS n_shared,
          |  round(CAST(sum(CAST(df >= 2 AS BIGINT)) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE), 6) AS shared_frac
          |FROM s JOIN d USING (h)
          |GROUP BY 1""".stripMargin,
      "q117_robust_scale" ->
        """WITH st AS (SELECT event_type,
          |    round(median(value), 6) AS med,
          |    round(quantile_cont(value, 0.75)
          |      - quantile_cont(value, 0.25), 6) AS iqr
          |  FROM events GROUP BY 1)
          |SELECT event_id, e.event_type,
          |  CASE WHEN iqr <> 0 THEN round((value - med) / iqr, 6) END
          |    AS scaled
          |FROM events e JOIN st USING (event_type)""".stripMargin,
      "q118_sorted_neighborhood" ->
        """WITH b AS (SELECT doc_id AS id,
          |    lower(trim(substr(text, 1, 30))) AS sk,
          |    substr(text, 1, 64) AS p
          |  FROM documents),
          |r AS (SELECT id, p,
          |    row_number() OVER (ORDER BY sk ASC, id ASC) AS rank
          |  FROM b)
          |SELECT x.id AS a, y.id AS b,
          |  CAST(y.rank - x.rank AS BIGINT) AS rank_dist,
          |  CAST(levenshtein(x.p, y.p) AS BIGINT) AS dist
          |FROM r x JOIN r y ON y.rank > x.rank AND y.rank < x.rank + 10
          |WHERE levenshtein(x.p, y.p) <= 20""".stripMargin,
      "q119_pmi" ->
        s"""WITH w AS (SELECT doc_id, list_sort(list_distinct(
           |      string_split_regex(trim(text), '\\s+')))[1:100] AS ws
           |    FROM documents),
           |p0 AS (SELECT unnest(flatten(list_transform(
           |      generate_series(1, len(ws)),
           |      i -> list_transform(generate_series(i + 1, len(ws)),
           |        j -> [ws[i], ws[j]])))) AS pr
           |    FROM w),
           |p AS (SELECT pr[1] AS wa, pr[2] AS wb FROM p0
           |      WHERE pr[1] <> '' AND pr[2] <> ''),
           |cab AS (SELECT wa, wb, count(*) AS c_ab FROM p
           |        GROUP BY 1, 2 HAVING count(*) >= 3),
           |u0 AS (SELECT unnest(ws) AS w FROM w),
           |u AS (SELECT w, count(*) AS c_w FROM u0 WHERE w <> ''
           |      GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
           |SELECT wa, wb, c_ab, a.c_w AS c_a, b.c_w AS c_b,
           |  round(ln((CAST(c_ab AS DOUBLE) * nd)
           |    / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))), 6)
           |    AS pmi
           |FROM cab JOIN u a ON cab.wa = a.w JOIN u b ON cab.wb = b.w
           |CROSS JOIN n""".stripMargin,
      "q120_latest_by_key" ->
        """SELECT user_id, event_id, ts, value FROM (
          |  SELECT user_id, event_id, ts, value,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1""".stripMargin,
      "q121_redact" -> {
        val emailRe = ProfilePatterns.find(_._1 == "email").get._2
        val numRe = "[0-9]{6,}"
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$numRe')) AS BIGINT)
           |    AS n_longnums,
           |  md5(regexp_replace(regexp_replace(text, '$emailRe',
           |    '<EMAIL>', 'g'), '$numRe', '<NUM>', 'g')) AS redacted_md5
           |FROM documents""".stripMargin
      },
      "q122_corpus_shuffle" ->
        """SELECT CAST(row_number() OVER (
          |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'shuf42') ASC,
          |      doc_id ASC) AS BIGINT) AS position, doc_id
          |FROM documents""".stripMargin,
      "q123_lm_filter" ->
        s"""WITH w AS (SELECT doc_id, source,
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |f AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
           |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
           |lp AS (SELECT doc_id, source,
           |    round(${dAvg("ln(CAST(cnt AS DOUBLE) / total)")}, 6)
           |      AS logprob
           |  FROM w JOIN f USING (word) CROSS JOIN t
           |  GROUP BY 1, 2),
           |m AS (SELECT source, round(median(logprob), 6) AS med
           |      FROM lp GROUP BY 1)
           |SELECT doc_id, lp.source, logprob
           |FROM lp JOIN m USING (source)
           |WHERE logprob >= med""".stripMargin,
      "q124_partial_reagg" -> {
        // DIRECT monthly aggregate — passing proves the daily partials
        // re-aggregate losslessly (decimal sums are associative)
        s"""SELECT event_type,
           |  CAST(date_trunc('month', ts) AS DATE) AS month,
           |  round(${dSum("value")}, 6) AS sum_value,
           |  CAST(count(value) AS BIGINT) AS n
           |FROM events
           |GROUP BY 1, 2""".stripMargin
      },
      "q125_funnel" -> funnelSql,
      // the stateful stream twin folds the SAME staged-min semantics
      // (q142 emits identical counts, so it shares the oracle)
      "q142_stream_funnel" -> funnelSql,
      "q143_bm25" -> bm25Sql(10),
      "q233_multiquery_hybrid" ->
        // per-query BM25 top-20 (the q230 CTEs, probe set 5/7/9) fused
        // with per-query cosine top-20 (hybridFusedCtes)
        s"""WITH $hybridFusedCtes
           |SELECT query_id, doc_id, rrf_score, rank
           |FROM fused""".stripMargin,
      "q238_mmr_perquery" -> {
        // the q233 chain, then the q210 unrolled greedy PER QUERY:
        // per-step argmax is a row_number()=1 per query_id; the
        // selected-set max-sim and the not-yet-picked exclusion are
        // explicit joins against the previous sel CTE (MATERIALIZED —
        // each is referenced three times)
        val l = d17(0.7)
        val m = d17(1.0 - 0.7)
        val steps = (2 to 5).map { i =>
          s"""sc$i AS (SELECT c.query_id, c.id,
             |      round($l * c.rel - $m * max(s.s), 6) AS score
             |  FROM cand c
             |  JOIN sim s ON s.query_id = c.query_id AND s.a = c.id
             |  JOIN sel${i - 1} pk
             |    ON pk.query_id = s.query_id AND pk.id = s.b
             |  LEFT JOIN sel${i - 1} ex
             |    ON ex.query_id = c.query_id AND ex.id = c.id
             |  WHERE ex.id IS NULL
             |  GROUP BY c.query_id, c.id, c.rel),
             |p$i AS (SELECT query_id, id, score FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, id) AS rn FROM sc$i)
             |  WHERE rn = 1),
             |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
             |  UNION ALL
             |  SELECT query_id, id, $i AS rank, score FROM p$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $hybridFusedCtes,
           |cand AS MATERIALIZED (SELECT f2.query_id, f2.doc_id AS id,
           |    f2.rrf_score AS rel, e.embedding AS v
           |  FROM fused f2 JOIN embeddings e ON e.vec_id = f2.doc_id),
           |sim AS MATERIALIZED (SELECT a.query_id, a.id AS a,
           |    b.id AS b, round(${cos("a.v", "b.v")}, 6) AS s
           |  FROM cand a JOIN cand b
           |    ON a.query_id = b.query_id AND a.id != b.id),
           |sc1 AS (SELECT query_id, id,
           |    round($l * rel - $m * 0.0, 6) AS score FROM cand),
           |p1 AS (SELECT query_id, id, score FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, id) AS rn FROM sc1)
           |  WHERE rn = 1),
           |sel1 AS MATERIALIZED (
           |  SELECT query_id, id, 1 AS rank, score FROM p1),
           |$steps
           |SELECT query_id, CAST(rank AS BIGINT) AS rank,
           |  id AS doc_id, score AS mmr_score
           |FROM sel5""".stripMargin
      },
      "q230_bm25_multiquery" -> {
        // the bm25Sql scoring CTEs with the probe vocabulary as a
        // VALUES table; per-query totals sum in DECIMAL(30,6) (the
        // DetAgg twin) so the association order never matters
        val probes = Seq((0, "spark"), (0, "hash"), (1, "merge"),
          (1, "sort"), (1, "data"), (2, "spark"), (2, "merge"))
        val values = probes.map { case (q, t) => s"($q, '$t')" }
          .mkString(", ")
        val c1 = d17(1.2 + 1.0)
        s"""WITH probes(query_id, term) AS (VALUES $values),
           |w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\\s+')) AS word
           |  FROM documents),
           |dl AS (SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\\s+'))
           |      AS BIGINT) AS dl
           |  FROM documents),
           |st AS (SELECT count(*) AS n_docs,
           |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
           |  WHERE word IN (SELECT DISTINCT term FROM probes)
           |  GROUP BY 1, 2),
           |dfc AS (SELECT word, count(*) AS dfc FROM tf GROUP BY 1),
           |idf AS (SELECT word,
           |    ln((CAST(n_docs AS DOUBLE) - dfc + 0.5) / (dfc + 0.5)
           |      + 1.0) AS idf
           |  FROM dfc CROSS JOIN st),
           |sc AS (SELECT doc_id, word,
           |    idf * (tf * $c1) /
           |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
           |  FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
           |  CROSS JOIN st),
           |pq AS (SELECT p.query_id, sc.doc_id,
           |    round(CAST(sum(CAST(s AS DECIMAL(30,6))) AS DOUBLE), 6)
           |      AS score
           |  FROM sc JOIN probes p ON sc.word = p.term
           |  GROUP BY 1, 2),
           |r AS (SELECT query_id, doc_id, score,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id ASC) AS rank
           |  FROM pq)
           |SELECT CAST(query_id AS BIGINT) AS query_id,
           |  CAST(rank AS BIGINT) AS rank, doc_id, score
           |FROM r WHERE rank <= 10""".stripMargin
      },
      // same fusion arithmetic and association order as rrfFuse:
      // lexical contribution first, then semantic, each 1/(60+rank)
      "q220_normalize_text" ->
        """SELECT doc_id, clean_text,
          |  (text != clean_text) AS changed
          |FROM (
          |  SELECT doc_id, text,
          |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
          |      '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g'))
          |      AS clean_text
          |  FROM documents)""".stripMargin,
      "q219_perquery_metrics" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < 3),
           |fs AS (SELECT query_id, c.vec_id AS nid,
           |    round(${cos("qv", "c.embedding")}, 6) AS cs
           |  FROM embeddings c CROSS JOIN q WHERE c.vec_id != query_id),
           |g AS (SELECT query_id, nid, rank FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cs DESC, nid ASC) AS rank FROM fs)
           |  WHERE rank <= 10),
           |ts AS (SELECT query_id, c.vec_id AS nid,
           |    round(${cos("qv[1:8]", "c.embedding[1:8]")}, 6) AS cs
           |  FROM embeddings c CROSS JOIN q WHERE c.vec_id != query_id),
           |l AS (SELECT query_id, nid, rank FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cs DESC, nid ASC) AS rank FROM ts)
           |  WHERE rank <= 10),
           |m AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
           |    CAST(SUM(CAST(ln(2) / ln(l.rank + 1.0)
           |      AS DECIMAL(30,6))) AS DOUBLE) AS dcg
           |  FROM l JOIN g USING (query_id, nid) GROUP BY 1),
           |i AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_gold,
           |    CAST(SUM(CAST(ln(2) / ln(rank + 1.0)
           |      AS DECIMAL(30,6))) AS DOUBLE) AS idcg
           |  FROM g GROUP BY 1)
           |SELECT i.query_id, n_gold,
           |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_gold, 6)
           |    AS recall,
           |  round(coalesce(dcg, 0.0) / idcg, 6) AS ndcg
           |FROM i LEFT JOIN m USING (query_id)""".stripMargin,
      "q218_ranking_metrics" ->
        s"""WITH l AS (SELECT doc_id, rank FROM (${bm25Sql(20)})
           |           WHERE rank <= 10),
           |g AS (SELECT neighbor_id AS doc_id, rank AS grank FROM (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |             FROM embeddings WHERE vec_id = 5),
           |  scored AS (
           |    SELECT query_id, c.vec_id AS neighbor_id,
           |      round(${cos("qv", "c.embedding")}, 6) AS cos_sim
           |    FROM embeddings c CROSS JOIN q WHERE c.vec_id != query_id),
           |  ranked AS (SELECT *, row_number() OVER (
           |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |    FROM scored)
           |  SELECT neighbor_id, rank FROM ranked WHERE rank <= 10)),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n_hits,
           |    coalesce(CAST(SUM(CAST(ln(2) / ln(l.rank + 1.0)
           |      AS DECIMAL(30,6))) AS DOUBLE), 0.0) AS dcg
           |  FROM l JOIN g USING (doc_id)),
           |i AS (SELECT CAST(count(*) AS BIGINT) AS n_gold,
           |    CAST(SUM(CAST(ln(2) / ln(grank + 1.0)
           |      AS DECIMAL(30,6))) AS DOUBLE) AS idcg
           |  FROM g)
           |SELECT n_gold, n_hits,
           |  round(CAST(n_hits AS DOUBLE) / n_gold, 6) AS recall,
           |  round(dcg / idcg, 6) AS ndcg
           |FROM m CROSS JOIN i""".stripMargin,
      "q209_rrf_fusion" ->
        s"""WITH l AS (SELECT doc_id, rank FROM (${bm25Sql(20)})),
           |s AS (SELECT neighbor_id AS doc_id, rank FROM (
           |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |             FROM embeddings WHERE vec_id = 5),
           |  scored AS (
           |    SELECT query_id, c.vec_id AS neighbor_id,
           |      round(${cos("qv", "c.embedding")}, 6) AS cos_sim
           |    FROM embeddings c CROSS JOIN q WHERE c.vec_id != query_id),
           |  ranked AS (SELECT *, row_number() OVER (
           |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           |    FROM scored)
           |  SELECT neighbor_id, rank FROM ranked WHERE rank <= 20)),
           |f AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           |    coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank), 0.0)
           |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.rank), 0.0) AS sc
           |  FROM l FULL OUTER JOIN s ON l.doc_id = s.doc_id),
           |r AS (SELECT doc_id, round(sc, 9) AS rrf_score,
           |    row_number() OVER (ORDER BY round(sc, 9) DESC, doc_id ASC)
           |      AS rank
           |  FROM f)
           |SELECT doc_id, rrf_score, CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 10""".stripMargin,
      // unrolled greedy MMR (one CTE pair per step, like the unrolled
      // PageRank rounds): identical arithmetic and tie-breaks to
      // Similarity.mmrRerank — λ and (1−λ) as the exact double
      // literals, scores and pairwise cosines rounded to 6 before
      // comparison, first pick's redundancy term literally 0
      "q210_mmr_rerank" -> {
        val l = d17(0.7)
        val m = d17(1.0 - 0.7)
        val steps = (2 to 5).map { i =>
          s"""sc$i AS (SELECT c.id, round($l * c.rel - $m * max(s.s), 6)
             |      AS score
             |  FROM cand c JOIN sim s ON s.a = c.id
             |    AND s.b IN (SELECT id FROM sel${i - 1})
             |  WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
             |  GROUP BY c.id, c.rel),
             |p$i AS (SELECT id, score FROM sc$i
             |  ORDER BY score DESC, id LIMIT 1),
             |sel$i AS (SELECT * FROM sel${i - 1}
             |  UNION ALL SELECT id, $i AS rank, score FROM p$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings
           |           WHERE vec_id = 5),
           |cand AS (SELECT c.vec_id AS id,
           |    round(${cos("qv", "c.embedding")}, 6) AS rel,
           |    c.embedding AS v
           |  FROM embeddings c CROSS JOIN q WHERE c.vec_id != 5
           |  ORDER BY rel DESC, id LIMIT 20),
           |sim AS (SELECT a.id AS a, b.id AS b,
           |    round(${cos("a.v", "b.v")}, 6) AS s
           |  FROM cand a JOIN cand b ON a.id != b.id),
           |sc1 AS (SELECT id, round($l * rel - $m * 0.0, 6) AS score
           |  FROM cand),
           |p1 AS (SELECT id, score FROM sc1
           |  ORDER BY score DESC, id LIMIT 1),
           |sel1 AS (SELECT id, 1 AS rank, score FROM p1),
           |$steps
           |SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id,
           |  score AS mmr_score
           |FROM sel5""".stripMargin
      },
      "q211_dsir_select" ->
        """WITH tok AS (
          |  SELECT doc_id, (lang = 'en') AS is_t,
          |         string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |uni AS (SELECT doc_id, is_t, unnest(ws) AS w FROM tok),
          |big AS (SELECT doc_id, is_t, ws[i] || ' ' || ws[i + 1] AS w
          |        FROM tok, unnest(range(1, len(ws))) AS r(i)),
          |feat AS (SELECT doc_id, is_t,
          |    CAST('0x' || substring(md5(w || 'graft'), 1, 8) AS BIGINT)
          |      % 1024 AS b
          |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
          |c AS (SELECT b, count(*) AS rc,
          |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
          |      FROM feat GROUP BY 1),
          |t AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt,
          |             CAST(sum(tc) AS DOUBLE) AS tt FROM c),
          |lr AS (SELECT b,
          |    ln((tc + 1.0) / (tt + 1024.0))
          |      - ln((rc + 1.0) / (rt + 1024.0)) AS lr
          |  FROM c CROSS JOIN t)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
          |  round(CAST(sum(CAST(lr AS DECIMAL(30,6))) AS DOUBLE), 6) AS iw
          |FROM feat JOIN lr USING (b)
          |GROUP BY 1
          |ORDER BY iw DESC, doc_id
          |LIMIT 100""".stripMargin,
      "q212_bpe_merges" -> {
        // unrolled BPE learning loop: one chained CTE triple per round
        // (pair counts over the vocab, deterministic argmax, literal
        // replace on the doubled-sentinel symbol sequence — the same
        // left-to-right non-overlapping merge the engine applies)
        val unions = (1 to 8).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS step, lhs, rhs,
             |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
             |FROM m$i WHERE c >= 1""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $bpeVocab0,
           |$bpeRounds
           |SELECT * FROM ($unions) ORDER BY step""".stripMargin
      },
      "q234_tokenizer_fertility" -> {
        // the q213 learn+encode chain grouped per source; one rounded
        // double division over exact integer sums
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $bpeVocab0,
           |$bpeRounds,
           |w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
           |  FROM documents),
           |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |      THEN len(string_split(trim($encChain, '·'), '··'))
           |      ELSE 1 END) AS BIGINT) AS n_tokens
           |  FROM w $crossMs
           |  GROUP BY 1)
           |SELECT d.source,
           |  CAST(sum(tc.n_words) AS BIGINT) AS n_words,
           |  CAST(sum(tc.n_tokens) AS BIGINT) AS n_tokens,
           |  round(CAST(sum(tc.n_tokens) AS DOUBLE)
           |    / CAST(sum(tc.n_words) AS DOUBLE), 6) AS fertility
           |FROM tc JOIN documents d USING (doc_id)
           |GROUP BY 1""".stripMargin
      },
      "q236_bpe_unicode_merges" -> {
        // the q212 unrolled learning loop with the UNICODE word class
        // over the non-ASCII corpus; '-' sentinel (see bpeRoundsGen)
        val unions = (1 to 8).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS step, lhs, rhs,
             |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
             |FROM m$i WHERE c >= 1""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $uniCorpusSql,
           |${bpeVocab0UniFrom("ud")},
           |$bpeRoundsUni
           |SELECT * FROM ($unions) ORDER BY step""".stripMargin
      },
      "q242_bpe_bytefallback_merges" -> {
        // the q212 unrolled learning loop over the BYTE-FALLBACK
        // vocabulary (every token enters; out-of-class code points as
        // UTF-8 byte placeholders) on the punctuated corpus; '-'
        // sentinel (outside both the word classes and the U+25xx
        // placeholder run)
        val unions = (1 to 8).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS step, lhs, rhs,
             |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
             |FROM m$i WHERE c >= 1""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni
           |SELECT * FROM ($unions) ORDER BY step""".stripMargin
      },
      "q245_bpe_bytefallback_batched" -> {
        // the q226 batched chain over the byte-fallback vocabulary on
        // the punctuated corpus; '-' sentinel throughout
        val unions = (for { r <- 1 to 2; k <- 1 to 4 } yield
          s"SELECT $r AS rnd, $k AS k, lhs, rhs, c FROM r${r}m$k")
          .mkString("\nUNION ALL ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |bv0 AS MATERIALIZED (SELECT seq, cnt FROM v0),
           |${bpeBatchedRounds(2, 4, "-")}
           |SELECT CAST(row_number() OVER (ORDER BY rnd, k) AS BIGINT)
           |    AS step,
           |  CAST(rnd AS BIGINT) AS round, lhs, rhs,
           |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM ($unions)
           |WHERE c >= 1""".stripMargin
      },
      "q246_pack_tokens" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws
          |  FROM documents),
          |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |s AS (SELECT doc_id,
          |    coalesce(sum(n) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM c),
          |tok AS (SELECT doc_id, ws[i] AS token, CAST(i AS BIGINT)
          |      AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT tok.doc_id, token, strt + pos - 1 AS gi
          |  FROM tok JOIN s ON tok.doc_id = s.doc_id),
          |p AS (SELECT CAST(gi // 256 AS BIGINT) AS seq,
          |    gi % 256 AS soff, token, doc_id FROM g)
          |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
          |FROM p GROUP BY 1""".stripMargin,
      "q252_pack_spans" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws
          |  FROM documents),
          |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |s AS (SELECT doc_id,
          |    coalesce(sum(n) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM c),
          |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT tok.doc_id, strt + pos - 1 AS gi
          |  FROM tok JOIN s ON tok.doc_id = s.doc_id),
          |p AS (SELECT CAST(gi // 256 AS BIGINT) AS seq,
          |    gi % 256 AS soff, doc_id FROM g)
          |SELECT seq, doc_id, CAST(min(soff) AS BIGINT) AS start_off,
          |  CAST(count(*) AS BIGINT) AS n_tokens
          |FROM p GROUP BY 1, 2""".stripMargin,
      "q251_pack_eos" ->
        """WITH t AS (SELECT doc_id,
          |    list_append(string_split_regex(trim(lower(text)),
          |      '\s+'), '<eos>') AS ws
          |  FROM documents),
          |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |s AS (SELECT doc_id,
          |    coalesce(sum(n) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM c),
          |tok AS (SELECT doc_id, ws[i] AS token, CAST(i AS BIGINT)
          |      AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT tok.doc_id, token, strt + pos - 1 AS gi
          |  FROM tok JOIN s ON tok.doc_id = s.doc_id),
          |p AS (SELECT CAST(gi // 256 AS BIGINT) AS seq,
          |    gi % 256 AS soff, token, doc_id FROM g)
          |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
          |FROM p GROUP BY 1""".stripMargin,
      "q247_pack_shards" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, k, CAST(len(ws) AS BIGINT) AS n FROM t),
          |a AS (SELECT doc_id, n,
          |    coalesce(sum(n) OVER (ORDER BY k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM c),
          |ds AS (SELECT doc_id, n,
          |    CAST(before // 5000 AS BIGINT) AS shard,
          |    before % 5000 AS off FROM a),
          |st AS (SELECT doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM ds),
          |tok AS (SELECT doc_id, ws[i] AS token, CAST(i AS BIGINT)
          |      AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, token, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |p AS (SELECT shard, CAST(gi // 512 AS BIGINT) AS seq,
          |    gi % 512 AS soff, token FROM g)
          |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
          |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
          |FROM p GROUP BY 1, 2""".stripMargin,
      "q248_bpe_detok" ->
        s"""WITH $punctCorpusSql
           |SELECT doc_id,
           |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
           |    AS text
           |FROM pd""".stripMargin,
      "q250_trainer_pack_capstone" -> {
        // the q232 piece stream (learn + per-word encode chain,
        // flattened with positions) -> token-count shard assignment
        // (q224 idiom over the BPE counts) -> per-shard cumsum ->
        // the q247 pack digests; tl MATERIALIZED (referenced twice)
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $bpeVocab0,
           |$bpeRounds,
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM documents),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |        THEN string_split(trim($encChain, '·'), '··')
           |        ELSE [wd] END)) AS toks
           |  FROM w $crossMs),
           |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k FROM tl),
           |a AS (SELECT doc_id, n,
           |    coalesce(sum(n) OVER (ORDER BY k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS before
           |  FROM c),
           |ds AS (SELECT doc_id, n,
           |    CAST(before // 5000 AS BIGINT) AS shard,
           |    before % 5000 AS off FROM a),
           |st AS (SELECT doc_id, shard,
           |    coalesce(sum(n) OVER (PARTITION BY shard
           |      ORDER BY off, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM ds),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |g AS (SELECT st.shard, token, strt + pos - 1 AS gi
           |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
           |p AS (SELECT shard, CAST(gi // 512 AS BIGINT) AS seq,
           |    gi % 512 AS soff, token FROM g)
           |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
           |FROM p GROUP BY 1, 2""".stripMargin
      },
      "q243_bpe_bytefallback_fertility" -> byteFallbackFertilitySql,
      "q249_bpe_model_roundtrip" -> byteFallbackFertilitySql,
      "q253_bpe_vocab" ->
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes
           |SELECT token_id, token, TRUE AS is_base FROM vbase
           |UNION ALL
           |SELECT token_id, token, FALSE AS is_base FROM vmerge""".stripMargin,
      "q254_bpe_encode_ids" -> bpeEncodeIdsSql,
      // the registry re-derived from the vocab CTEs alone: reserved
      // ids are contiguous above max(token_id) in registration order
      // (eos, pad), embedding size = max reserved + 1
      "q267_special_registry" ->
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token_id FROM vbase
           |  UNION ALL SELECT token_id FROM vmerge),
           |mx AS (SELECT max(token_id) AS m FROM vv)
           |SELECT 'eos' AS name, m + 1 AS token_id,
           |  m + 3 AS embedding_size FROM mx
           |UNION ALL
           |SELECT 'pad', m + 2, m + 3 FROM mx""".stripMargin,
      "q257_bpe_artifact_ids" -> bpeEncodeIdsSql,
      "q255_pack_ids" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j AS (SELECT doc_id, pos, vv.token_id
           |  FROM tok JOIN vv USING (token)),
           |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM j
           |  GROUP BY 1),
           |s AS (SELECT doc_id,
           |    coalesce(sum(n) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM c),
           |g AS (SELECT j.doc_id, token_id, strt + pos - 1 AS gi
           |  FROM j JOIN s ON j.doc_id = s.doc_id),
           |p AS (SELECT CAST(gi // 64 AS BIGINT) AS seq,
           |    gi % 64 AS soff, token_id FROM g)
           |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(token_id AS VARCHAR), ','
           |    ORDER BY soff)) AS ids_digest
           |FROM p GROUP BY 1""".stripMargin
      },
      // the q255 id chain with the eos special id (max vocab id + 1)
      // appended per doc BEFORE the pack — the landed sequences/
      // artifact must read back to exactly these digests
      "q261_sequences_artifact" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j0 AS (SELECT doc_id, pos, vv.token_id
           |  FROM tok JOIN vv USING (token)),
           |j AS (SELECT doc_id, pos, token_id FROM j0
           |  UNION ALL
           |  SELECT doc_id, max(pos) + 1,
           |    (SELECT max(token_id) + 1 FROM vv)
           |  FROM j0 GROUP BY doc_id),
           |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM j
           |  GROUP BY 1),
           |s AS (SELECT doc_id,
           |    coalesce(sum(n) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM c),
           |g AS (SELECT j.doc_id, token_id, strt + pos - 1 AS gi
           |  FROM j JOIN s ON j.doc_id = s.doc_id),
           |p AS (SELECT CAST(gi // 64 AS BIGINT) AS seq,
           |    gi % 64 AS soff, token_id FROM g)
           |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(token_id AS VARCHAR), ','
           |    ORDER BY soff)) AS ids_digest
           |FROM p GROUP BY 1""".stripMargin
      },
      // the q261 replica with the PAD RUN: every landed row is
      // exactly 64 ids (pad = max vocab id + 2, the second reserved
      // registry slot), the digest covers the padded list, n_tokens
      // stays the real length
      "q268_padded_sequences" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j0 AS (SELECT doc_id, pos, vv.token_id
           |  FROM tok JOIN vv USING (token)),
           |j AS (SELECT doc_id, pos, token_id FROM j0
           |  UNION ALL
           |  SELECT doc_id, max(pos) + 1,
           |    (SELECT max(token_id) + 1 FROM vv)
           |  FROM j0 GROUP BY doc_id),
           |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM j
           |  GROUP BY 1),
           |s AS (SELECT doc_id,
           |    coalesce(sum(n) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM c),
           |g AS (SELECT j.doc_id, token_id, strt + pos - 1 AS gi
           |  FROM j JOIN s ON j.doc_id = s.doc_id),
           |p AS (SELECT CAST(gi // 64 AS BIGINT) AS seq,
           |    gi % 64 AS soff, token_id FROM g)
           |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(64 AS BIGINT) AS n_landed,
           |  md5(string_agg(CAST(token_id AS VARCHAR), ','
           |      ORDER BY soff) ||
           |    repeat(',' || CAST((SELECT max(token_id) + 2 FROM vv)
           |      AS VARCHAR), 64 - count(*))) AS ids_digest
           |FROM p GROUP BY 1""".stripMargin
      },
      // the full streamed trainer loop: learn CTEs -> id vocab ->
      // model piece counts -> (batch, md5, id) shard window -> closed
      // filter -> eos-shifted per-shard pack -> per-(shard, seq) id
      // digests; the READ-BACK sequences artifact must reproduce them
      "q264_stream_sequences_capstone" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
           |    doc_id % 2 AS b,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k FROM tl),
           |ca AS (SELECT doc_id,
           |    coalesce(sum(n) OVER (ORDER BY b, k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS before
           |  FROM sc),
           |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
           |      AS shard,
           |    before % 5000 AS off FROM ca),
           |cl AS (SELECT * FROM sh
           |  WHERE shard < (SELECT max(shard) FROM sh)),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j0 AS (SELECT doc_id, pos, vv.token_id
           |  FROM tok JOIN vv USING (token)),
           |j AS (SELECT doc_id, pos, token_id FROM j0
           |  UNION ALL
           |  SELECT doc_id, max(pos) + 1,
           |    (SELECT max(token_id) + 1 FROM vv)
           |  FROM j0 GROUP BY doc_id),
           |c2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n2
           |  FROM j GROUP BY 1),
           |st AS (SELECT cl.doc_id, shard,
           |    coalesce(sum(n2) OVER (PARTITION BY shard
           |      ORDER BY off, cl.doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM cl JOIN c2 ON cl.doc_id = c2.doc_id),
           |g AS (SELECT st.shard, j.token_id, strt + pos - 1 AS gi
           |  FROM j JOIN st ON j.doc_id = st.doc_id),
           |p AS (SELECT shard, CAST(gi // 64 AS BIGINT) AS seq,
           |    gi % 64 AS soff, token_id FROM g)
           |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(token_id AS VARCHAR), ','
           |    ORDER BY soff)) AS ids_digest
           |FROM p GROUP BY 1, 2""".stripMargin
      },
      // the streamed curriculum's global order is (batch,
      // n_chars, id): batch 0 the even docs, batch 1 the odd — each
      // increment curriculum-ordered within itself
      "q262_curriculum_stream" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens,
          |    n_chars, doc_id % 2 AS b
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY b, n_chars, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t)
          |SELECT doc_id, n_tokens,
          |  CAST(before // 5000 AS BIGINT) AS shard,
          |  CAST(before % 5000 AS BIGINT) AS "offset"
          |FROM c""".stripMargin,
      // the q247 pack CTEs -> distinct (shard, seq) -> the two-level
      // epoch permutation: shard rank over md5(shard|epoch salt),
      // seq rank per shard over md5(shard|seq|epoch salt)
      "q266_epoch_schedule" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, k, CAST(len(ws) AS BIGINT) AS n FROM t),
          |a AS (SELECT doc_id, n,
          |    coalesce(sum(n) OVER (ORDER BY k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM c),
          |ds AS (SELECT doc_id, n,
          |    CAST(before // 5000 AS BIGINT) AS shard,
          |    before % 5000 AS off FROM a),
          |st AS (SELECT doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM ds),
          |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |pairs AS (SELECT DISTINCT shard,
          |    CAST(gi // 512 AS BIGINT) AS seq FROM g),
          |sr AS (SELECT shard, CAST(row_number() OVER (ORDER BY
          |      md5(CAST(shard AS VARCHAR) || '|' || '1' || '|'
          |        || 'graft'),
          |      CAST(shard AS VARCHAR)) AS BIGINT) AS shard_rank
          |  FROM (SELECT DISTINCT shard FROM pairs))
          |SELECT pairs.shard, seq, shard_rank,
          |  CAST(row_number() OVER (PARTITION BY pairs.shard ORDER BY
          |    md5(CAST(pairs.shard AS VARCHAR) || '|' ||
          |      CAST(seq AS VARCHAR) || '|' || '1' || '|' || 'graft'),
          |    seq) AS BIGINT) AS seq_rank
          |FROM pairs JOIN sr USING (shard)""".stripMargin,
      // the q266 schedule replica over per-sequence COUNTS (the
      // artifact rows) with the resume-cursor predicate: strictly
      // after (shard_rank 2, seq_rank 3) within epoch 1
      "q269_loader_consume" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, k, CAST(len(ws) AS BIGINT) AS n FROM t),
          |a AS (SELECT doc_id, n,
          |    coalesce(sum(n) OVER (ORDER BY k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM c),
          |ds AS (SELECT doc_id, n,
          |    CAST(before // 5000 AS BIGINT) AS shard,
          |    before % 5000 AS off FROM a),
          |st AS (SELECT doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM ds),
          |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |pairs AS (SELECT shard,
          |    CAST(gi // 512 AS BIGINT) AS seq,
          |    CAST(count(*) AS BIGINT) AS n_tokens
          |  FROM g GROUP BY 1, 2),
          |sr AS (SELECT shard, CAST(row_number() OVER (ORDER BY
          |      md5(CAST(shard AS VARCHAR) || '|' || '1' || '|'
          |        || 'graft'),
          |      CAST(shard AS VARCHAR)) AS BIGINT) AS shard_rank
          |  FROM (SELECT DISTINCT shard FROM pairs)),
          |sch AS (SELECT pairs.shard, seq, n_tokens, shard_rank,
          |  CAST(row_number() OVER (PARTITION BY pairs.shard ORDER BY
          |    md5(CAST(pairs.shard AS VARCHAR) || '|' ||
          |      CAST(seq AS VARCHAR) || '|' || '1' || '|' || 'graft'),
          |    seq) AS BIGINT) AS seq_rank
          |  FROM pairs JOIN sr USING (shard))
          |SELECT shard, seq, n_tokens, shard_rank, seq_rank FROM sch
          |WHERE shard_rank > 2
          |   OR (shard_rank = 2 AND seq_rank > 3)""".stripMargin,
      // the q256 pack replica with doc_id tokens: the lake union
      // across two poll increments + compaction must equal the
      // single batch pack of every closed shard (shared verbatim by
      // q273 — the watermark-derived poll must land the exact same
      // lake)
      "q270_sequence_lake" -> seqLakePackSql,
      // the exact q270 replica: the WATERMARK-DERIVED poll
      // (pollLandedShards — no cursor file, the lake is the state)
      // must land the identical lake
      "q273_trainer_poll" -> seqLakePackSql,
      // growth-safe pinned consumption: the BATCH-0-ONLY layout
      // replica (the first poll's closed shards — the set the epoch
      // manifest pinned), the q266-style rank CTEs computed over
      // THAT set (NOT the grown two-batch lake the Spark side
      // actually holds at resume time), and the resume-cursor
      // predicate. A consume that ranked the grown set would shift
      // every rank and hash-mismatch here.
      "q274_pinned_consume" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws,
          |    CAST(len(string_split_regex(trim(text), '\s+'))
          |      AS BIGINT) AS n_tokens,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents WHERE doc_id % 2 = 0),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t),
          |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
          |      AS shard,
          |    before % 5000 AS off FROM c),
          |cl AS (SELECT * FROM sh
          |  WHERE shard < (SELECT max(shard) FROM sh)),
          |cnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |st AS (SELECT cl.doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, cl.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM cl JOIN cnt ON cl.doc_id = cnt.doc_id),
          |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |pairs AS (SELECT shard,
          |    CAST(gi // 512 AS BIGINT) AS seq,
          |    CAST(count(*) AS BIGINT) AS n_tokens
          |  FROM g GROUP BY 1, 2),
          |sr AS (SELECT shard, CAST(row_number() OVER (ORDER BY
          |      md5(CAST(shard AS VARCHAR) || '|' || '1' || '|'
          |        || 'graft'),
          |      CAST(shard AS VARCHAR)) AS BIGINT) AS shard_rank
          |  FROM (SELECT DISTINCT shard FROM pairs)),
          |sch AS (SELECT pairs.shard, seq, n_tokens, shard_rank,
          |  CAST(row_number() OVER (PARTITION BY pairs.shard ORDER BY
          |    md5(CAST(pairs.shard AS VARCHAR) || '|' ||
          |      CAST(seq AS VARCHAR) || '|' || '1' || '|' || 'graft'),
          |    seq) AS BIGINT) AS seq_rank
          |  FROM pairs JOIN sr USING (shard))
          |SELECT shard, seq, n_tokens, shard_rank, seq_rank FROM sch
          |WHERE shard_rank > 1
          |   OR (shard_rank = 1 AND seq_rank > 2)""".stripMargin,
      // the MemoryStream-driven arc with in-arc maintenance
      // (compactEvery = 1) must land the identical lake as q270/q273
      // — the streamed route + both pointer-protocol folds change
      // nothing about the content
      "q275_trainer_arc" -> seqLakePackSql,
      // pretok learn + encode: the pretok piece stream (the LITERAL
      // PretokPattern through RE2), the byte-fallback vocab over
      // pieces, 8 learned rounds, and the per-doc ordered piece
      // digest — segmentation, merges, and piece order all certified
      "q276_pretok_encode" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0PretokFrom("pd")},
           |${bpeRoundsGen(8, "-")},
           |w AS (SELECT doc_id,
           |    regexp_extract_all(trim(lower(text)),
           |      '$pretokPatternSql') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs)
           |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  md5(array_to_string(toks, ',')) AS tok_digest
           |FROM tl WHERE len(toks) > 0""".stripMargin
      },
      // fertility A/B: BOTH chains in one query (class-run unprefixed,
      // pretok under the pt-prefix CTEs), joined per doc so both
      // modes measure against the SAME denominator (whitespace words)
      "q277_pretok_fertility" -> {
        val encChainCr = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMsCr = (1 to 8).map(i => s"CROSS JOIN m$i")
          .mkString(" ")
        val encChainPt = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || ptm$i.lhs || '··' || ptm$i.rhs || " +
            s"'·', '·' || ptm$i.lhs || ptm$i.rhs || '·')"
        }
        val crossMsPt = (1 to 8).map(i => s"CROSS JOIN ptm$i")
          .mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |${bpeRoundsGen(8, "-")},
           |${bpeVocab0PretokFrom("pd", "pt")},
           |${bpeRoundsGen(8, "-", "pt")},
           |w AS (SELECT doc_id, lang,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+'))
           |      AS wd
           |  FROM pd),
           |tc AS (SELECT doc_id, lang,
           |    CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(len(string_split(trim($encChainCr, '·'),
           |      '··'))) AS BIGINT) AS n_tokens
           |  FROM w $crossMsCr
           |  GROUP BY 1, 2),
           |wp AS (SELECT doc_id,
           |    unnest(regexp_extract_all(trim(lower(text)),
           |      '$pretokPatternSql')) AS wd
           |  FROM pd),
           |tp AS (SELECT doc_id,
           |    CAST(sum(len(string_split(trim($encChainPt, '·'),
           |      '··'))) AS BIGINT) AS pt_tokens
           |  FROM wp $crossMsPt
           |  GROUP BY 1)
           |SELECT lang,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_tokens) AS BIGINT) AS classrun_tokens,
           |  CAST(sum(pt_tokens) AS BIGINT) AS pretok_tokens,
           |  round(CAST(sum(n_tokens) AS DOUBLE)
           |    / CAST(sum(n_words) AS DOUBLE), 6)
           |    AS classrun_fertility,
           |  round(CAST(sum(pt_tokens) AS DOUBLE)
           |    / CAST(sum(n_words) AS DOUBLE), 6)
           |    AS pretok_fertility
           |FROM tc JOIN tp USING (doc_id)
           |GROUP BY 1""".stripMargin
      },
      // the q261 id chain with BOTH boundary rows from the reserved
      // block: bos (max+2, registration order eos-then-bos) at pos 1
      // with every real token shifted up one, eos (max+1) after the
      // shifted last token
      "q271_bos_eos_pack" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |${bpeVocab0FallbackFrom("pd")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM pd),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j0 AS (SELECT doc_id, pos, vv.token_id
           |  FROM tok JOIN vv USING (token)),
           |j AS (SELECT doc_id, CAST(1 AS BIGINT) AS pos,
           |    (SELECT max(token_id) + 2 FROM vv) AS token_id
           |  FROM j0 GROUP BY doc_id
           |  UNION ALL
           |  SELECT doc_id, pos + 1, token_id FROM j0
           |  UNION ALL
           |  SELECT doc_id, max(pos) + 2,
           |    (SELECT max(token_id) + 1 FROM vv)
           |  FROM j0 GROUP BY doc_id),
           |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM j
           |  GROUP BY 1),
           |s AS (SELECT doc_id,
           |    coalesce(sum(n) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS strt
           |  FROM c),
           |g AS (SELECT j.doc_id, token_id, strt + pos - 1 AS gi
           |  FROM j JOIN s ON j.doc_id = s.doc_id),
           |p AS (SELECT CAST(gi // 64 AS BIGINT) AS seq,
           |    gi % 64 AS soff, token_id FROM g)
           |SELECT seq, CAST(count(*) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(token_id AS VARCHAR), ','
           |    ORDER BY soff)) AS ids_digest
           |FROM p GROUP BY 1""".stripMargin
      },
      // the q263 held-out chain with the LEFT-join nulls coalesced to
      // the reserved unk id (max+2, registration order eos-then-unk):
      // a null-free id digest plus the unk count (== the old null
      // count — no real piece can carry a reserved id)
      "q272_unk_encode" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |tr AS (SELECT * FROM pd WHERE doc_id % 2 = 0),
           |ho AS (SELECT * FROM pd WHERE doc_id % 2 = 1),
           |${bpeVocab0FallbackFrom("tr")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM ho),
           |tl AS MATERIALIZED (SELECT doc_id,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, toks[i] AS token,
           |    CAST(i AS BIGINT) AS pos
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |j AS (SELECT doc_id, pos,
           |    coalesce(vv.token_id,
           |      (SELECT max(token_id) + 2 FROM vv)) AS tid
           |  FROM tok LEFT JOIN vv USING (token))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN tid =
           |      (SELECT max(token_id) + 2 FROM vv)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           |  md5(string_agg(CAST(tid AS VARCHAR), ','
           |    ORDER BY pos)) AS ids_digest
           |FROM j GROUP BY 1""".stripMargin
      },
      // the q256 pack replica with the curriculum order: the shard
      // window runs over (batch, n_chars, id) instead of
      // (batch, md5, id)
      "q265_curriculum_pack" ->
        """WITH t AS (SELECT doc_id,
          |    string_split_regex(trim(lower(text)), '\s+') AS ws,
          |    CAST(len(string_split_regex(trim(text), '\s+'))
          |      AS BIGINT) AS n_tokens,
          |    n_chars, doc_id % 2 AS b
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY b, n_chars, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t),
          |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
          |      AS shard,
          |    before % 5000 AS off FROM c),
          |cl AS (SELECT * FROM sh
          |  WHERE shard < (SELECT max(shard) FROM sh)),
          |cnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |st AS (SELECT cl.doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, cl.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM cl JOIN cnt ON cl.doc_id = cnt.doc_id),
          |tok AS (SELECT doc_id, ws[i] AS token, CAST(i AS BIGINT)
          |      AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, token, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |p AS (SELECT shard, CAST(gi // 512 AS BIGINT) AS seq,
          |    gi % 512 AS soff, token FROM g)
          |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_tokens,
          |  md5(string_agg(token, ',' ORDER BY soff)) AS tok_digest
          |FROM p GROUP BY 1, 2""".stripMargin,
      // held-out coverage: learn + vocab on the EVEN half, encode the
      // ODD half, LEFT join to the vocab so unseen symbols count as
      // null ids — per-lang fertility + null-id audit
      "q263_heldout_fertility" -> {
        val encChain = (1 to 8).foldLeft(fbSeqExpr("wd")) { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $punctCorpusSql,
           |tr AS (SELECT * FROM pd WHERE doc_id % 2 = 0),
           |ho AS (SELECT * FROM pd WHERE doc_id % 2 = 1),
           |${bpeVocab0FallbackFrom("tr")},
           |$bpeRoundsUni,
           |$bpeVocabIdCtes,
           |vv AS (SELECT token, token_id FROM vbase
           |  UNION ALL SELECT token, token_id FROM vmerge),
           |w AS (SELECT doc_id, lang,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM ho),
           |tl AS MATERIALIZED (SELECT doc_id, lang,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    flatten(list_transform(ws, wd ->
           |      string_split(trim($encChain, '·'), '··'))) AS toks
           |  FROM w $crossMs),
           |tok AS (SELECT doc_id, lang, toks[i] AS token
           |  FROM tl, unnest(range(1, len(toks) + 1)) u(i)),
           |dn AS (SELECT doc_id, lang,
           |    CAST(count(*) AS BIGINT) AS n_tokens,
           |    CAST(sum(CASE WHEN vv.token_id IS NULL THEN 1 ELSE 0
           |      END) AS BIGINT) AS n_null
           |  FROM tok LEFT JOIN vv USING (token)
           |  GROUP BY 1, 2)
           |SELECT dn.lang,
           |  CAST(sum(tl.n_words) AS BIGINT) AS n_words,
           |  CAST(sum(dn.n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(sum(dn.n_null) AS BIGINT) AS n_null_ids,
           |  round(CAST(sum(dn.n_tokens) AS DOUBLE)
           |    / CAST(sum(tl.n_words) AS DOUBLE), 6) AS fertility
           |FROM dn JOIN tl USING (doc_id)
           |GROUP BY 1""".stripMargin
      },
      "q237_bpe_unicode_fertility" -> {
        // the q234 learn+encode chain, unicode word class, grouped
        // per lang over the non-ASCII corpus
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $uniCorpusSql,
           |${bpeVocab0UniFrom("ud")},
           |$bpeRoundsUni,
           |w AS (SELECT doc_id, lang,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+'))
           |      AS wd
           |  FROM ud),
           |tc AS (SELECT doc_id, lang,
           |    CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(CASE
           |      WHEN regexp_matches(wd, '^[\\p{L}\\p{N}]+$$')
           |      THEN len(string_split(trim($encChain, '·'), '··'))
           |      ELSE 1 END) AS BIGINT) AS n_tokens
           |  FROM w $crossMs
           |  GROUP BY 1, 2)
           |SELECT lang,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  round(CAST(sum(n_tokens) AS DOUBLE)
           |    / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
           |FROM tc
           |GROUP BY 1""".stripMargin
      },
      "q241_bpe_unicode_batched" -> {
        // the q226 batched chain with the unicode word class over the
        // non-ASCII corpus; '-' sentinel throughout
        val unions = (for { r <- 1 to 2; k <- 1 to 4 } yield
          s"SELECT $r AS rnd, $k AS k, lhs, rhs, c FROM r${r}m$k")
          .mkString("\nUNION ALL ")
        s"""WITH $uniCorpusSql,
           |${bpeVocab0UniFrom("ud")},
           |bv0 AS MATERIALIZED (SELECT seq, cnt FROM v0),
           |${bpeBatchedRounds(2, 4, "-")}
           |SELECT CAST(row_number() OVER (ORDER BY rnd, k) AS BIGINT)
           |    AS step,
           |  CAST(rnd AS BIGINT) AS round, lhs, rhs,
           |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM ($unions)
           |WHERE c >= 1""".stripMargin
      },
      "q232_bpe_tokenize" -> {
        // per-word token lists (the q213 encode chain split back into
        // pieces) flattened in document order with 1-based positions
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $bpeVocab0,
           |$bpeRounds,
           |w AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS ws
           |  FROM documents),
           |tl AS (SELECT doc_id, flatten(list_transform(ws, wd ->
           |    CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |      THEN string_split(trim($encChain, '·'), '··')
           |      ELSE [wd] END)) AS toks
           |  FROM w $crossMs)
           |SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS token
           |FROM tl, unnest(range(1, len(toks) + 1)) u(i)""".stripMargin
      },
      "q226_bpe_batched" -> {
        // batched learning: 2 rounds x 4 symbol-disjoint greedy picks;
        // step numbering is the running count over real (non-sentinel)
        // picks in (round, pick) order, exactly the engine's counter
        val unions = (for { r <- 1 to 2; k <- 1 to 4 } yield
          s"SELECT $r AS rnd, $k AS k, lhs, rhs, c FROM r${r}m$k")
          .mkString("\nUNION ALL ")
        s"""WITH $bpeVocab0,
           |bv0 AS MATERIALIZED (SELECT seq, cnt FROM v0),
           |${bpeBatchedRounds(2, 4)}
           |SELECT CAST(row_number() OVER (ORDER BY rnd, k) AS BIGINT)
           |    AS step,
           |  CAST(rnd AS BIGINT) AS round, lhs, rhs,
           |  lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM ($unions)
           |WHERE c >= 1""".stripMargin
      },
      "q227_bpe_batched_encode" -> {
        // encode under the batched-learned list: the replace chain in
        // step order (sentinel picks are no-ops, so applying all 8 is
        // the engine's shorter-list encode on degenerate corpora too)
        val aliases = for { r <- 1 to 2; k <- 1 to 4 }
          yield s"r${r}m$k"
        val encChain = aliases.indices.foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m${i + 1}.lhs || '··' || m${i + 1}.rhs " +
            s"|| '·', '·' || m${i + 1}.lhs || m${i + 1}.rhs || '·')"
        }
        val crossMs = aliases.zipWithIndex
          .map { case (a, i) => s"CROSS JOIN $a m${i + 1}" }
          .mkString(" ")
        s"""WITH $bpeVocab0,
           |bv0 AS MATERIALIZED (SELECT seq, cnt FROM v0),
           |${bpeBatchedRounds(2, 4)},
           |w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
           |  FROM documents)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |    THEN len(string_split(trim($encChain, '·'), '··'))
           |    ELSE 1 END) AS BIGINT) AS n_tokens
           |FROM w $crossMs
           |GROUP BY 1""".stripMargin
      },
      "q213_bpe_token_counts" -> {
        // learn (the q212 chain), then encode: the merge chain applies
        // as nested literal replaces in learning order; alphabetic
        // words count their surviving symbols, anything else is one
        // OOV token
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $bpeVocab0,
           |$bpeRounds,
           |w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
           |  FROM documents)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |    THEN len(string_split(trim($encChain, '·'), '··'))
           |    ELSE 1 END) AS BIGINT) AS n_tokens
           |FROM w $crossMs
           |GROUP BY 1""".stripMargin
      },
      "q216_dsir_gate" ->
        """WITH tok AS (SELECT doc_id, (lang = 'en') AS is_t,
          |    string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |uni AS (SELECT doc_id, is_t, unnest(ws) AS w FROM tok),
          |big AS (SELECT doc_id, is_t, ws[i] || ' ' || ws[i + 1] AS w
          |        FROM tok, unnest(range(1, len(ws))) AS r(i)),
          |feat AS (SELECT doc_id, is_t,
          |    CAST('0x' || substring(md5(w || 'graft'), 1, 8) AS BIGINT)
          |      % 1024 AS b
          |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
          |c AS (SELECT b, count(*) AS rc,
          |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
          |      FROM feat GROUP BY 1),
          |t AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt,
          |             CAST(sum(tc) AS DOUBLE) AS tt FROM c),
          |dense AS (SELECT r.b, coalesce(c.rc, 0) AS rc,
          |    coalesce(c.tc, 0) AS tc
          |  FROM range(0, 1024) r(b) LEFT JOIN c USING (b)),
          |lr AS (SELECT b, CAST(round(
          |    (ln((tc + 1.0) / (tt + 1024.0))
          |      - ln((rc + 1.0) / (rt + 1024.0))) * 1000000.0)
          |    AS BIGINT) AS lr_micro
          |  FROM dense CROSS JOIN t)
          |SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS iw_micro
          |FROM feat JOIN lr USING (b)
          |GROUP BY 1
          |HAVING sum(lr_micro) >= 1""".stripMargin,
      // fold-in is EXACT (additive integer counts), so the oracle for
      // the folded model's gate is the unchanged full-corpus replica —
      // passing it IS the append==rebuild proof at bucket granularity
      "q217_dsir_model_fold" ->
        """WITH tok AS (SELECT doc_id, (lang = 'en') AS is_t,
          |    string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |uni AS (SELECT doc_id, is_t, unnest(ws) AS w FROM tok),
          |big AS (SELECT doc_id, is_t, ws[i] || ' ' || ws[i + 1] AS w
          |        FROM tok, unnest(range(1, len(ws))) AS r(i)),
          |feat AS (SELECT doc_id, is_t,
          |    CAST('0x' || substring(md5(w || 'graft'), 1, 8) AS BIGINT)
          |      % 1024 AS b
          |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
          |c AS (SELECT b, count(*) AS rc,
          |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
          |      FROM feat GROUP BY 1),
          |t AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt,
          |             CAST(sum(tc) AS DOUBLE) AS tt FROM c),
          |dense AS (SELECT r.b, coalesce(c.rc, 0) AS rc,
          |    coalesce(c.tc, 0) AS tc
          |  FROM range(0, 1024) r(b) LEFT JOIN c USING (b)),
          |lr AS (SELECT b, CAST(round(
          |    (ln((tc + 1.0) / (tt + 1024.0))
          |      - ln((rc + 1.0) / (rt + 1024.0))) * 1000000.0)
          |    AS BIGINT) AS lr_micro
          |  FROM dense CROSS JOIN t)
          |SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS iw_micro
          |FROM feat JOIN lr USING (b)
          |GROUP BY 1
          |HAVING sum(lr_micro) >= 1""".stripMargin,
      "q215_selection_pipeline" -> selectionPipelineSql,
      "q235_shard_manifest" ->
        s"""WITH sel_out AS (SELECT * FROM ($selectionPipelineSql)),
           |st AS (SELECT doc_id, n_tokens,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
           |  FROM sel_out),
           |sc AS (SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS before
           |  FROM st),
           |a AS (SELECT doc_id, n_tokens,
           |    CAST(before // 800 AS BIGINT) AS shard,
           |    CAST(before % 800 AS BIGINT) AS off
           |  FROM sc)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
           |    ORDER BY off, CAST(doc_id AS VARCHAR))) AS digest
           |FROM a GROUP BY 1""".stripMargin,
      // the landed layout must round-trip to exactly the q225
      // assignment — same oracle, certified against the READ-BACK
      "q228_selection_shard_write" ->
        s"""WITH sel_out AS (SELECT * FROM ($selectionPipelineSql)),
           |st AS (SELECT doc_id, n_tokens,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
           |  FROM sel_out),
           |sc AS (SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS before
           |  FROM st)
           |SELECT doc_id, n_tokens,
           |  CAST(before // 800 AS BIGINT) AS shard,
           |  CAST(before % 800 AS BIGINT) AS "offset"
           |FROM sc""".stripMargin,
      // capstone: the q215 chain's admitted set laid out as
      // deterministic training shards (the q224 layout rule)
      "q225_selection_shards" ->
        s"""WITH sel_out AS (SELECT * FROM ($selectionPipelineSql)),
           |st AS (SELECT doc_id, n_tokens,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
           |  FROM sel_out),
           |sc AS (SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS before
           |  FROM st)
           |SELECT doc_id, n_tokens,
           |  CAST(before // 800 AS BIGINT) AS shard,
           |  CAST(before % 800 AS BIGINT) AS "offset"
           |FROM sc""".stripMargin,
      "q214_token_budget_gate" -> {
        // learn + encode (the q213 chain), then a per-source running
        // sum admits a doc iff tokens admitted BEFORE it are under
        // budget (the crossing doc is admitted, then the gate closes)
        val encChain = (1 to 8).foldLeft(
          "regexp_replace(wd, '(.)', '·\\1·', 'g')") { (e, i) =>
          s"replace($e, '·' || m$i.lhs || '··' || m$i.rhs || '·', " +
            s"'·' || m$i.lhs || m$i.rhs || '·')"
        }
        val crossMs = (1 to 8).map(i => s"CROSS JOIN m$i").mkString(" ")
        s"""WITH $bpeVocab0,
           |$bpeRounds,
           |w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
           |  FROM documents),
           |tc AS (SELECT doc_id,
           |    CAST(sum(CASE WHEN regexp_matches(wd, '^[a-z]+$$')
           |      THEN len(string_split(trim($encChain, '·'), '··'))
           |      ELSE 1 END) AS BIGINT) AS n_tokens
           |  FROM w $crossMs
           |  GROUP BY 1),
           |c AS (SELECT d.doc_id, d.source, tc.n_tokens,
           |    sum(tc.n_tokens) OVER (PARTITION BY d.source
           |      ORDER BY d.doc_id) AS cum
           |  FROM documents d JOIN tc USING (doc_id))
           |SELECT doc_id, source, n_tokens
           |FROM c WHERE cum - n_tokens < 800""".stripMargin
      },
      // the streamed selection capstone: the q215 chain's admitted set
      // split by doc parity into two appends — the (batch, md5, id)
      // running sum over the selection output replays the cumulative
      // layout exactly
      "q240_selection_shard_stream" ->
        s"""WITH sel_out AS (SELECT * FROM ($selectionPipelineSql)),
           |st AS (SELECT doc_id, n_tokens, doc_id % 2 AS b,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
           |  FROM sel_out),
           |sc AS (SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS before
           |  FROM st)
           |SELECT doc_id, n_tokens,
           |  CAST(before // 800 AS BIGINT) AS shard,
           |  CAST(before % 800 AS BIGINT) AS "offset"
           |FROM sc""".stripMargin,
      // the streamed trainer manifest: the q240 (batch, md5, id)
      // running-sum assignment wrapped in the q235 per-shard digest
      // aggregation — ids comma-joined in offset order, md5'd
      "q244_stream_shard_manifest" ->
        s"""WITH sel_out AS (SELECT * FROM ($selectionPipelineSql)),
           |st AS (SELECT doc_id, n_tokens, doc_id % 2 AS b,
           |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
           |  FROM sel_out),
           |sc AS (SELECT doc_id, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS before
           |  FROM st),
           |a AS (SELECT doc_id, n_tokens,
           |    CAST(before // 800 AS BIGINT) AS shard,
           |    CAST(before % 800 AS BIGINT) AS off
           |  FROM sc)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
           |    ORDER BY off, CAST(doc_id AS VARCHAR))) AS digest
           |FROM a GROUP BY 1""".stripMargin,
      // the streamed append's global order is (batch, md5, id): batch
      // 0 is the even docs, batch 1 the odd — one exclusive running
      // sum over that order replays both appends and the read-back
      "q256_stream_pack_closed" -> streamPackClosedSql,
      // q259 is the SAME layout and the SAME pack through the
      // landed-token physical path — one replica certifies both
      "q259_pack_landed" -> streamPackClosedSql,
      // the q256 chain with one '<eos>' appended per doc BEFORE the
      // concat-and-split (the shard assignment keeps the ORIGINAL
      // token weights — separators are injected at pack time), spans
      // per (shard, seq, doc) over the eos-shifted offsets
      "q260_stream_pack_spans" ->
        """WITH t AS (SELECT doc_id,
          |    list_append(string_split_regex(trim(lower(text)),
          |      '\s+'), '<eos>') AS ws,
          |    CAST(len(string_split_regex(trim(text), '\s+'))
          |      AS BIGINT) AS n_tokens,
          |    doc_id % 2 AS b,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t),
          |sh AS (SELECT doc_id, CAST(before // 5000 AS BIGINT)
          |      AS shard,
          |    before % 5000 AS off FROM c),
          |cl AS (SELECT * FROM sh
          |  WHERE shard < (SELECT max(shard) FROM sh)),
          |cnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM t),
          |st AS (SELECT cl.doc_id, shard,
          |    coalesce(sum(n) OVER (PARTITION BY shard
          |      ORDER BY off, cl.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS strt
          |  FROM cl JOIN cnt ON cl.doc_id = cnt.doc_id),
          |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
          |  FROM (SELECT doc_id, ws,
          |      unnest(generate_series(1, len(ws))) AS i FROM t)),
          |g AS (SELECT st.shard, tok.doc_id, strt + pos - 1 AS gi
          |  FROM tok JOIN st ON tok.doc_id = st.doc_id),
          |p AS (SELECT shard, doc_id, CAST(gi // 512 AS BIGINT)
          |      AS seq,
          |    gi % 512 AS soff FROM g)
          |SELECT shard, seq, doc_id,
          |  CAST(min(soff) AS BIGINT) AS start_off,
          |  CAST(count(*) AS BIGINT) AS n_tokens
          |FROM p GROUP BY 1, 2, 3""".stripMargin,
      "q239_stream_shard_append" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens,
          |    doc_id % 2 AS b,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY b, k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t)
          |SELECT doc_id, n_tokens,
          |  CAST(before // 5000 AS BIGINT) AS shard,
          |  CAST(before % 5000 AS BIGINT) AS "offset"
          |FROM c""".stripMargin,
      "q258_curriculum_shards" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens,
          |    n_chars
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY n_chars, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t)
          |SELECT doc_id, n_tokens,
          |  CAST(before // 5000 AS BIGINT) AS shard,
          |  CAST(before % 5000 AS BIGINT) AS "offset"
          |FROM c""".stripMargin,
      "q224_shard_assign" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens,
          |    md5(CAST(doc_id AS VARCHAR) || 'graft') AS k
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS before
          |  FROM t)
          |SELECT doc_id, n_tokens,
          |  CAST(before // 5000 AS BIGINT) AS shard,
          |  CAST(before % 5000 AS BIGINT) AS "offset"
          |FROM c""".stripMargin,
      "q222_label_propagation" ->
        s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
           |    l_partkey * 2 + 1 AS dst FROM lineitem),
           |e AS (SELECT src, dst FROM e0
           |      UNION SELECT dst, src FROM e0),
           |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
           |$lpaRounds
           |SELECT node, lab AS label FROM l4""".stripMargin,
      "q231_lpa_convergence" -> {
        val diffs = (1 to 4).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS round,
             |  CAST(count(*) AS BIGINT) AS n_changed
             |FROM l$i a JOIN l${i - 1} b USING (node)
             |WHERE a.lab <> b.lab""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src,
           |    l_partkey * 2 + 1 AS dst FROM lineitem),
           |e AS (SELECT src, dst FROM e0
           |      UNION SELECT dst, src FROM e0),
           |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
           |$lpaRounds
           |$diffs""".stripMargin
      },
      // near-dup COMMUNITIES: LPA over the exact PPJoin pair graph,
      // reported as a label histogram — the finer-grained sibling of
      // q136's connected-component sizes (LPA splits weakly-bridged
      // chains that CC merges)
      "q223_neardup_communities" ->
        s"""WITH np AS (SELECT a, b FROM (${ngramPairsSql(0.5)})),
           |e AS (SELECT a AS src, b AS dst FROM np
           |      UNION SELECT b, a FROM np),
           |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
           |$lpaRounds
           |SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_members
           |FROM l4 GROUP BY 1""".stripMargin,
      "q144_pagerank" -> {
        // unrolled power iteration: one chained CTE per round, each the
        // same join+agg as the engine's BSP round, in the IDENTICAL
        // int64 fixed-point arithmetic (units of 1e-12, damping 7/8,
        // integer division — no floats anywhere in the loop)
        val rounds = (1 to 10).map { i =>
          s"""r$i AS (
             |  SELECT s.dst AS id, d.deg,
             |    125000000000 + (7 * SUM(r.mu // r.deg)) // 8 AS mu
             |  FROM sym s JOIN r${i - 1} r ON s.src = r.id
             |  JOIN deg d ON s.dst = d.id
             |  GROUP BY s.dst, d.deg)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey * 2 AS BIGINT) AS src,
           |    CAST(l_partkey * 2 + 1 AS BIGINT) AS dst FROM lineitem),
           |sym AS (SELECT src, dst FROM e0
           |  UNION SELECT dst AS src, src AS dst FROM e0),
           |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY 1),
           |r0 AS (SELECT id, deg, CAST(1000000000000 AS BIGINT) AS mu
           |  FROM deg),
           |$rounds
           |SELECT id, mu / 1000000000000.0 AS m FROM r10""".stripMargin
      },
      "q145_weighted_sample" ->
        """SELECT source, doc_id FROM (
          |  SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY ln((CAST('0x' || substring(md5(
          |          CAST(doc_id AS VARCHAR) || 'graft'), 1, 8) AS BIGINT)
          |          + 1.0) / 4294967296.0) / n_chars DESC,
          |        doc_id ASC) AS rn
          |  FROM documents) WHERE rn <= 5""".stripMargin,
      "q146_cms_heavy" ->
        """WITH c AS (SELECT user_id AS key, count(*) AS n_true
          |  FROM events GROUP BY 1),
          |r AS (SELECT key, n_true,
          |    row_number() OVER (ORDER BY n_true DESC, key ASC) AS rn
          |  FROM c)
          |SELECT key, CAST(n_true AS BIGINT) AS n_true, true AS ok
          |FROM r WHERE rn <= 10""".stripMargin,
      "q147_bloom_decon" ->
        """WITH tw AS (
          |  SELECT DISTINCT doc_id, win FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id >= 10 AND length(text) >= 50)),
          |bw AS (
          |  SELECT DISTINCT win FROM (
          |    SELECT unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE doc_id < 10 AND length(text) >= 50))
          |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
          |  CAST(0 AS BIGINT) AS n_missed
          |FROM tw WHERE win IN (SELECT win FROM bw)""".stripMargin,
      "q148_cusum" ->
        s"""WITH RECURSIVE hourly AS (
           |  SELECT event_type, date_trunc('hour', ts) AS hr,
           |    round(${dAvg("value")}, 6) AS v,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY date_trunc('hour', ts)) AS idx
           |  FROM events GROUP BY 1, 2),
           |n AS (SELECT event_type, max(idx) AS mx FROM hourly GROUP BY 1),
           |rec AS (
           |  SELECT event_type, 0 AS i, CAST(0 AS DOUBLE) AS s,
           |    0 AS alarms, CAST(0 AS DOUBLE) AS maxs
           |  FROM n
           |  UNION ALL
           |  SELECT r.event_type, r.i + 1,
           |    round(greatest(CAST(0 AS DOUBLE), r.s + h.v - 60.0), 6),
           |    r.alarms + CASE WHEN
           |      round(greatest(CAST(0 AS DOUBLE), r.s + h.v - 60.0), 6)
           |        > 200.0 THEN 1 ELSE 0 END,
           |    greatest(r.maxs,
           |      round(greatest(CAST(0 AS DOUBLE), r.s + h.v - 60.0), 6))
           |  FROM rec r JOIN hourly h
           |    ON h.event_type = r.event_type AND h.idx = r.i + 1)
           |SELECT r.event_type, CAST(n.mx AS BIGINT) AS n_points,
           |  CAST(r.alarms AS BIGINT) AS n_alarms, r.maxs AS max_cusum
           |FROM rec r JOIN n ON n.event_type = r.event_type
           |WHERE r.i = n.mx""".stripMargin,
      "q149_vocab" ->
        """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
          |  FROM documents),
          |c AS (SELECT tok, count(*) AS cnt FROM toks
          |      WHERE tok <> '' GROUP BY 1),
          |tot AS (SELECT sum(cnt) AS tot FROM c),
          |r AS (SELECT tok, cnt,
          |        row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
          |        sum(cnt) OVER (ORDER BY cnt DESC, tok
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |          AS cum
          |      FROM c)
          |SELECT CAST(rank AS BIGINT) AS rank, tok,
          |  CAST(cnt AS BIGINT) AS cnt,
          |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
          |    AS cum_share
          |FROM r, tot WHERE rank <= 50""".stripMargin,
      "q150_rollup" ->
        s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
           |  coalesce(l_linestatus, 'ALL') AS status,
           |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           |  round(${dSum("l_quantity")}, 6) AS sum_qty,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM lineitem
           |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
      "q151_blocklist" ->
        """SELECT doc_id,
          |  CAST(len(list_filter(string_split(text, ' '),
          |    x -> x IN ('customer', 'key', 'value'))) AS BIGINT)
          |    AS n_hits,
          |  array_to_string(list_transform(string_split(text, ' '),
          |    x -> CASE WHEN x IN ('customer', 'key', 'value')
          |      THEN '<MASK>' ELSE x END), ' ') AS scrubbed
          |FROM documents""".stripMargin,
      "q152_span_dup" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
          |  FROM documents),
          |pos AS (SELECT doc_id, w,
          |        unnest(generate_series(1, len(w) - 4)) AS i
          |      FROM toks WHERE len(w) >= 5),
          |g AS (SELECT DISTINCT doc_id,
          |        array_to_string(w[i:i+4], ' ') AS gram FROM pos),
          |df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
          |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |  round(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
          |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_frac
          |FROM g JOIN df USING (gram) GROUP BY 1""".stripMargin,
      "q189_span_scrub" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
          |  FROM documents),
          |pos AS (SELECT doc_id, w,
          |        unnest(generate_series(1, len(w) - 4)) AS i
          |      FROM toks WHERE len(w) >= 5),
          |g AS (SELECT doc_id, i,
          |        array_to_string(w[i:i+4], ' ') AS gram FROM pos),
          |df AS (SELECT gram, count(DISTINCT doc_id) AS df
          |       FROM g GROUP BY 1),
          |cov AS (SELECT DISTINCT doc_id, tp FROM (
          |  SELECT g.doc_id, unnest(generate_series(g.i, g.i + 4)) AS tp
          |  FROM g JOIN df USING (gram) WHERE df.df >= 2)),
          |tk AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS tp,
          |        w FROM toks)
          |SELECT tk.doc_id,
          |  coalesce(string_agg(
          |    CASE WHEN cov.tp IS NULL THEN tk.w[tk.tp] END,
          |    ' ' ORDER BY tk.tp), '') AS clean_text,
          |  CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN cov.tp IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_removed
          |FROM tk LEFT JOIN cov
          |  ON tk.doc_id = cov.doc_id AND tk.tp = cov.tp
          |GROUP BY 1""".stripMargin,
      "q153_resample_interp" ->
        s"""WITH obs AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
           |    round(${dAvg("value")}, 6) AS v
           |  FROM events GROUP BY 1, 2),
           |b AS (SELECT event_type, date_trunc('hour', min(ts)) AS lo,
           |      date_trunc('hour', max(ts)) AS hi FROM obs GROUP BY 1),
           |g AS (SELECT event_type,
           |      unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
           |    FROM b),
           |u AS (SELECT event_type, ts, v, 1 AS o FROM obs
           |      UNION ALL
           |      SELECT event_type, ts, CAST(NULL AS DOUBLE), 0 FROM g),
           |w AS (SELECT event_type, ts, o,
           |   last_value(CASE WHEN o = 1 THEN v END IGNORE NULLS) OVER
           |     (PARTITION BY event_type ORDER BY ts ASC, o DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           |   last_value(CASE WHEN o = 1 THEN epoch_us(ts) END
           |     IGNORE NULLS) OVER
           |     (PARTITION BY event_type ORDER BY ts ASC, o DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
           |   last_value(CASE WHEN o = 1 THEN v END IGNORE NULLS) OVER
           |     (PARTITION BY event_type ORDER BY ts DESC, o ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
           |   last_value(CASE WHEN o = 1 THEN epoch_us(ts) END
           |     IGNORE NULLS) OVER
           |     (PARTITION BY event_type ORDER BY ts DESC, o ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
           | FROM u)
           |SELECT event_type, ts,
           |  CASE WHEN pt IS NULL THEN NULL
           |       WHEN pt = epoch_us(ts) THEN pv
           |       WHEN nt IS NULL THEN NULL
           |       ELSE round(pv + (nv - pv) *
           |         (CAST(epoch_us(ts) - pt AS DOUBLE)
           |           / CAST(nt - pt AS DOUBLE)), 6) END AS v
           |FROM w WHERE o = 0""".stripMargin,
      "q154_fuzzy_match" ->
        """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
          |b AS (SELECT name, string_split(name, ' ')[-1] AS blk
          |      FROM names)
          |SELECT a.name AS name_a, b2.name AS name_b,
          |  CAST(levenshtein(a.name, b2.name) AS BIGINT) AS dist
          |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
          |WHERE levenshtein(a.name, b2.name) <= 3""".stripMargin,
      "q155_first_seen" ->
        """SELECT user_id, event_type, event_id,
          |  CAST(ts AS TIMESTAMP) AS ts, value
          |FROM (SELECT user_id, event_type, event_id, ts, value,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |          ORDER BY ts, event_id) AS rn
          |      FROM events)
          |WHERE rn = 1""".stripMargin,
      "q156_quantile_gate" ->
        """SELECT event_type, round(quantile_cont(value, 0.5), 6)
          |    AS median,
          |  CAST(1 AS BIGINT) AS sketch_ok
          |FROM events GROUP BY 1""".stripMargin,
      "q157_snapshot_diff" ->
        """SELECT * FROM (
          |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
          |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
          |         WHEN n.o_orderkey IS NULL THEN 'removed'
          |         WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM
          |                   n.o_totalprice) THEN 'changed' END AS change,
          |    o.o_totalprice AS old_o_totalprice,
          |    n.o_totalprice AS new_o_totalprice
          |  FROM (SELECT o_orderkey, o_totalprice FROM orders
          |        WHERE o_orderkey % 97 <> 0) o
          |  FULL OUTER JOIN
          |    (SELECT o_orderkey,
          |       CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
          |            ELSE o_totalprice END AS o_totalprice
          |     FROM orders WHERE o_orderkey % 89 <> 0) n
          |  ON o.o_orderkey = n.o_orderkey)
          |WHERE change IS NOT NULL""".stripMargin,
      "q158_domain_budget" ->
        """WITH r AS (SELECT source, doc_id, n_chars,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id) AS rn,
          |    sum(n_chars) OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(n_chars) OVER (PARTITION BY source) AS tot
          |  FROM documents)
          |SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rank
          |FROM r WHERE rn = 1 OR cum <= tot * 0.5""".stripMargin,
      "q159_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
           |           label AS ql FROM embeddings WHERE vec_id < 10),
           |scored AS (
           |  SELECT query_id, c.vec_id AS neighbor_id,
           |    round(${cos("qv", "c.embedding")}, 6) AS cos_sim
           |  FROM embeddings c CROSS JOIN q
           |  WHERE c.vec_id != query_id AND c.label IS DISTINCT FROM ql),
           |ranked AS (SELECT *, CAST(row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos_sim DESC,
           |    neighbor_id ASC) AS BIGINT) AS rank FROM scored)
           |SELECT query_id, rank, neighbor_id, cos_sim
           |FROM ranked WHERE rank <= 5""".stripMargin,
      "q160_profile" ->
        """SELECT 'l_quantity' AS col_name, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_null,
          |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
          |  CAST(min(l_quantity) AS DOUBLE) AS min_val,
          |  CAST(max(l_quantity) AS DOUBLE) AS max_val
          |FROM lineitem
          |UNION ALL
          |SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
          |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT),
          |  CAST(count(DISTINCT l_extendedprice) AS BIGINT),
          |  CAST(min(l_extendedprice) AS DOUBLE),
          |  CAST(max(l_extendedprice) AS DOUBLE)
          |FROM lineitem
          |UNION ALL
          |SELECT 'l_discount', CAST(count(*) AS BIGINT),
          |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT),
          |  CAST(count(DISTINCT l_discount) AS BIGINT),
          |  CAST(min(l_discount) AS DOUBLE),
          |  CAST(max(l_discount) AS DOUBLE)
          |FROM lineitem""".stripMargin,
      "q161_decompose" ->
        s"""WITH hourly AS (SELECT event_type,
           |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
           |    floor((${dAvg("value")}) * 1e6 + 0.5) / 1e6 AS v
           |  FROM events GROUP BY 1, 2),
           |t AS (SELECT event_type, hr, v,
           |    count(v) OVER w24 AS cnt,
           |    floor((CAST(sum(CAST(v AS DECIMAL(30,6))) OVER w24
           |      AS DOUBLE) / 24) * 1e6 + 0.5) / 1e6 AS trend0
           |  FROM hourly WINDOW w24 AS (PARTITION BY event_type
           |    ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
           |t2 AS (SELECT event_type, hr, v,
           |    CASE WHEN cnt = 24 THEN trend0 END AS trend,
           |    hour(hr) % 24 AS slot FROM t),
           |sm AS (SELECT event_type, slot,
           |    floor((${dAvg("floor((v - trend) * 1e6 + 0.5) / 1e6")})
           |      * 1e6 + 0.5) / 1e6 AS smean
           |  FROM t2 WHERE trend IS NOT NULL GROUP BY 1, 2),
           |sb AS (SELECT event_type,
           |    floor((CAST(sum(CAST(smean AS DECIMAL(30,6))) AS DOUBLE)
           |      / count(*)) * 1e6 + 0.5) / 1e6 AS sbar
           |  FROM sm GROUP BY 1),
           |se AS (SELECT sm.event_type, slot,
           |    floor((smean - sbar) * 1e6 + 0.5) / 1e6 AS seasonal
           |  FROM sm JOIN sb USING (event_type))
           |SELECT t2.event_type, hr, v, trend,
           |  CASE WHEN trend IS NOT NULL THEN seasonal END AS seasonal,
           |  CASE WHEN trend IS NOT NULL
           |    THEN floor((v - trend - seasonal) * 1e6 + 0.5) / 1e6
           |    END AS resid
           |FROM t2 LEFT JOIN se
           |  ON se.event_type = t2.event_type AND se.slot = t2.slot"""
          .stripMargin,
      "q162_entity_clusters" ->
        """WITH RECURSIVE names AS (
          |  SELECT DISTINCT p_name AS name FROM part),
          |bl AS (SELECT name, string_split(name, ' ')[-1] AS blk
          |       FROM names),
          |np AS (SELECT a.name AS a, b2.name AS b
          |       FROM bl a JOIN bl b2
          |         ON a.blk = b2.blk AND a.name < b2.name
          |       WHERE levenshtein(a.name, b2.name) <= 3),
          |edges AS (SELECT a, b FROM np
          |          UNION SELECT b AS a, a AS b FROM np),
          |reach(src, dst) AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
          |comp AS (SELECT src AS name, least(src, min(dst)) AS cluster
          |         FROM reach GROUP BY src)
          |SELECT n.name, coalesce(c.cluster, n.name) AS cluster
          |FROM names n LEFT JOIN comp c USING (name)""".stripMargin,
      "q164_winsorize" ->
        """WITH b AS (SELECT event_type,
          |    floor(quantile_cont(value, 0.05) * 1e6 + 0.5) / 1e6 AS lo,
          |    floor(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS hi
          |  FROM events GROUP BY 1)
          |SELECT event_id, e.event_type, value,
          |  least(greatest(value, lo), hi) AS clipped
          |FROM events e JOIN b USING (event_type)""".stripMargin,
      "q165_transitions" ->
        """WITH p AS (SELECT user_id, event_type,
          |    lag(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS from_state
          |  FROM events),
          |c AS (SELECT from_state, event_type AS to_state,
          |      count(*) AS n FROM p
          |    WHERE from_state IS NOT NULL GROUP BY 1, 2)
          |SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
          |  floor((CAST(n AS DOUBLE) /
          |    CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE))
          |    * 1e6 + 0.5) / 1e6 AS p
          |FROM c""".stripMargin,
      "q166_changepoint" ->
        s"""WITH hourly AS (SELECT event_type,
           |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
           |    floor((${dAvg("value")}) * 1e6 + 0.5) / 1e6 AS v
           |  FROM events GROUP BY 1, 2),
           |s AS (SELECT event_type, hr,
           |    count(*) OVER wc AS t,
           |    CAST(sum(CAST(v AS DECIMAL(30,6))) OVER wc AS DOUBLE) AS s,
           |    count(*) OVER wa AS n,
           |    CAST(sum(CAST(v AS DECIMAL(30,6))) OVER wa AS DOUBLE)
           |      AS tot
           |  FROM hourly WINDOW
           |    wc AS (PARTITION BY event_type ORDER BY hr
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |    wa AS (PARTITION BY event_type)),
           |gaps AS (SELECT event_type, t, n,
           |    floor(abs(s / t - (tot - s) / (n - t)) * 1e6 + 0.5) / 1e6
           |      AS gap
           |  FROM s WHERE t < n),
           |best AS (SELECT event_type, gap AS mean_gap,
           |    t AS split_at, n AS n_points,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY gap DESC, t ASC) AS rk FROM gaps)
           |SELECT event_type, mean_gap, CAST(split_at AS BIGINT)
           |    AS split_at,
           |  CAST(n_points AS BIGINT) AS n_points
           |FROM best WHERE rk = 1""".stripMargin,
      "q167_weighted_median" ->
        """WITH s AS (SELECT l_returnflag, l_extendedprice AS v,
          |    sum(CAST(l_quantity AS DECIMAL(30,6))) OVER
          |      (PARTITION BY l_returnflag
          |       ORDER BY l_extendedprice, l_orderkey, l_linenumber
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
          |    sum(CAST(l_quantity AS DECIMAL(30,6))) OVER
          |      (PARTITION BY l_returnflag) AS tw
          |  FROM lineitem)
          |SELECT l_returnflag, min(v) AS w_median
          |FROM s WHERE cw * 2 >= tw GROUP BY 1""".stripMargin,
      "q168_pca_gate" ->
        """SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(max(len(embedding)) AS BIGINT) AS dim,
          |  CAST(1 AS BIGINT) AS trace_ok,
          |  CAST(1 AS BIGINT) AS monotone_ok
          |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,
      "q169_attribution" ->
        """WITH p AS (SELECT event_id, user_id,
          |    CAST(ts AS TIMESTAMP) AS ts
          |  FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          |    max(event_id) AS click_id
          |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
          |SELECT p.event_id, p.user_id, p.ts,
          |  CASE WHEN c.ts >= p.ts - INTERVAL 7 DAY THEN c.click_id END
          |    AS attributed_click
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
      "q170_cohorts" ->
        """WITH uw AS (SELECT DISTINCT user_id,
          |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
          |      AS wk
          |  FROM events),
          |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1)
          |SELECT cohort_wk,
          |  CAST(datediff('day', cohort_wk, wk) // 7 AS BIGINT)
          |    AS wk_offset,
          |  CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_users
          |FROM uw JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,
      "q171_jaro_winkler" ->
        """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
          |b AS (SELECT name, string_split(name, ' ')[-1] AS blk
          |      FROM names)
          |SELECT * FROM (
          |  SELECT a.name AS name_a, b2.name AS name_b,
          |    round(jaro_winkler_similarity(a.name, b2.name), 6) AS jw
          |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name)
          |WHERE jw >= 0.8""".stripMargin,
      "q172_native_topk" ->
        """SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
          |FROM (SELECT event_type, event_id, value,
          |        row_number() OVER (PARTITION BY event_type
          |          ORDER BY value DESC, event_id) AS rn
          |      FROM events)
          |WHERE rn <= 10""".stripMargin,
      "q173_grouping_sets" ->
        s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
           |  coalesce(l_linestatus, 'ALL') AS status,
           |  round(${dSum("l_quantity")}, 6) AS sum_qty,
           |  CAST(count(1) AS BIGINT) AS n
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
          .stripMargin,
      "q174_pct_rank" ->
        """SELECT event_id, event_type,
          |  floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
          |  floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume
          |FROM events
          |WINDOW w AS (PARTITION BY event_type
          |  ORDER BY value ASC, event_id ASC)""".stripMargin,
      "q175_longest_streak" ->
        """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          |  FROM events),
          |g AS (SELECT user_id, day,
          |    datediff('day', DATE '1970-01-01', day) -
          |    row_number() OVER (PARTITION BY user_id ORDER BY day)
          |      AS grp
          |  FROM d),
          |s AS (SELECT user_id, grp, count(*) AS len FROM g
          |      GROUP BY 1, 2)
          |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak
          |FROM s GROUP BY 1""".stripMargin,
      "q176_mode" ->
        """WITH c AS (SELECT user_id, event_type, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT user_id, event_type, n,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY n DESC, event_type) AS rn FROM c)
          |SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT)
          |    AS n
          |FROM r WHERE rn = 1""".stripMargin,
      "q177_agg_callable" ->
        """SELECT make_timestamp(2024, month(ts), day(ts), 0, 0, 0)
          |     + to_minutes(CAST(hour(ts)*60 AS BIGINT)) AS ts,
          |  max(value) - min(value) AS value_spread
          |FROM events GROUP BY 1""".stripMargin,
      "q163_star_revenue" ->
        s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
           |  round(${dSum("l_extendedprice * (1.0 - l_discount)")}, 6)
           |    AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY 1, 2""".stripMargin,
      "q126_upsert_merge" ->
        """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice,
          |      o_orderstatus FROM orders),
          |u AS (
          |  SELECT o_orderkey, o_custkey,
          |    round(o_totalprice * 1.1, 6) AS o_totalprice,
          |    'R' AS o_orderstatus
          |  FROM b WHERE o_orderkey % 10 = 0
          |  UNION ALL
          |  SELECT -o_orderkey, o_custkey, o_totalprice, 'N'
          |  FROM b WHERE o_orderkey % 17 = 0)
          |SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
          |  coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
          |  coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
          |  coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
          |  CAST(u.o_orderkey IS NOT NULL AS BIGINT) AS was_upserted
          |FROM b FULL OUTER JOIN u ON b.o_orderkey = u.o_orderkey""".stripMargin,
      "q127_triangles" ->
        """WITH w AS (
          |  SELECT DISTINCT doc_id, win FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE length(text) >= 50)),
          |elig AS (SELECT win FROM w GROUP BY win
          |         HAVING count(*) BETWEEN 2 AND 1000),
          |e AS (
          |  SELECT l.doc_id AS a, r.doc_id AS b
          |  FROM w l JOIN w r ON l.win = r.win AND l.doc_id < r.doc_id
          |  WHERE l.win IN (SELECT win FROM elig)
          |  GROUP BY 1, 2)
          |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
          |  CAST((SELECT count(*) FROM e e1
          |    JOIN e e2 ON e1.b = e2.a
          |    JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b) AS BIGINT)
          |    AS n_triangles""".stripMargin,
      "q128_dim_quantiles" -> {
        s"""SELECT CAST(i AS BIGINT) AS dim,
           |  round(quantile_cont(CAST(v AS DOUBLE), 0.5), 6) AS p50,
           |  round(CAST(min(v) AS DOUBLE), 6) AS vmin,
           |  round(CAST(max(v) AS DOUBLE), 6) AS vmax,
           |  round(${dAvg("CAST(v AS DOUBLE)")}, 6) AS vmean
           |FROM (SELECT unnest(embedding) AS v,
           |        generate_subscripts(embedding, 1) AS i
           |      FROM embeddings)
           |GROUP BY 1""".stripMargin
      },
      "q129_stream_latest" ->
        """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          |  event_id, value
          |FROM (SELECT user_id, ts, event_id, value,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1""".stripMargin,
      "q130_label_separation" -> {
        s"""WITH d AS (SELECT vec_id, label,
           |    generate_subscripts(embedding, 1) AS i,
           |    CAST(unnest(embedding) AS DOUBLE) AS v
           |  FROM embeddings),
           |c AS (SELECT label, i, ${dAvg("v")} AS c FROM d GROUP BY 1, 2),
           |d2 AS (SELECT vec_id, d.label,
           |    ${dSum("(v - c) * (v - c)")} AS d2
           |  FROM d JOIN c USING (label, i) GROUP BY 1, 2)
           |SELECT label, CAST(count(*) AS BIGINT) AS n,
           |  round(${dAvg("sqrt(d2)")}, 6) AS mean_dist
           |FROM d2 GROUP BY 1""".stripMargin
      },
      "q131_window_distinct" ->
        """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
          |  event_type,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(1 AS BIGINT) AS within_tol
          |FROM events GROUP BY 1, 2""".stripMargin,
      "q132_energy_pipeline" -> {
        // CASE mirrors EnergySeries.normalize's hi == lo -> 0.0 guard
        s"""WITH m AS (SELECT time_bucket(INTERVAL '1 day', ts) AS ts,
           |    ${dAvg("value")} AS value
           |  FROM events GROUP BY 1),
           |b AS (SELECT min(value) AS mn, max(value) AS mx FROM m)
           |SELECT ts, CASE WHEN mx = mn THEN 0.0
           |  ELSE (value - mn) / (mx - mn) END AS value
           |FROM m CROSS JOIN b""".stripMargin
      },
      "q133_rolling_corr" -> {
        val both = "x IS NOT NULL AND y IS NOT NULL"
        def dsumw(e: String) =
          s"CAST(SUM(CAST(CASE WHEN $both THEN $e END AS DECIMAL(30,6))) OVER w AS DOUBLE)"
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts,
           |    ${dSum("CASE WHEN event_type = 'click' THEN value END")}
           |      / COUNT(CASE WHEN event_type = 'click' THEN value END) AS x,
           |    ${dSum("CASE WHEN event_type = 'view' THEN value END")}
           |      / COUNT(CASE WHEN event_type = 'view' THEN value END) AS y
           |  FROM events GROUP BY 1),
           |s AS (SELECT ts,
           |    CAST(count(CASE WHEN $both THEN 1 END) OVER w AS DOUBLE) AS n,
           |    ${dsumw("x")} AS sx, ${dsumw("y")} AS sy,
           |    ${dsumw("x * y")} AS sxy, ${dsumw("x * x")} AS sxx,
           |    ${dsumw("y * y")} AS syy
           |  FROM h
           |  WINDOW w AS (ORDER BY ts
           |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
           |SELECT ts,
           |  round(CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0.0
           |      AND (n * syy - sy * sy) > 0.0
           |    THEN (n * sxy - sx * sy)
           |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
           |    END, 6) AS roll_corr
           |FROM s""".stripMargin
      },
      "q134_xcorr" -> {
        val leads = Seq(0, 1, 2, 3)
        def pair(k: Int) = s"x IS NOT NULL AND l$k IS NOT NULL"
        def stats(k: Int) = Seq(
          s"count(CASE WHEN ${pair(k)} THEN 1 END) AS n$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN x END")} AS sx$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN l$k END")} AS sy$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN x * l$k END")} AS sxy$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN x * x END")} AS sxx$k",
          s"${dSum(s"CASE WHEN ${pair(k)} THEN l$k * l$k END")} AS syy$k")
        def xc(k: Int) = {
          val n = s"CAST(n$k AS DOUBLE)"
          val cov = s"($n * sxy$k - sx$k * sy$k)"
          val vx = s"($n * sxx$k - sx$k * sx$k)"
          val vy = s"($n * syy$k - sy$k * sy$k)"
          s"round(CASE WHEN n$k >= 2 AND $vx > 0.0 AND $vy > 0.0 " +
            s"THEN $cov / sqrt($vx * $vy) END, 6) AS xcorr_$k"
        }
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts,
           |    ${dSum("CASE WHEN event_type = 'click' THEN value END")}
           |      / COUNT(CASE WHEN event_type = 'click' THEN value END) AS x,
           |    ${dSum("CASE WHEN event_type = 'view' THEN value END")}
           |      / COUNT(CASE WHEN event_type = 'view' THEN value END) AS y
           |  FROM events GROUP BY 1),
           |l AS (SELECT x,
           |    ${leads.map(k => s"lead(y, $k) OVER (ORDER BY ts) AS l$k").mkString(",\n    ")}
           |  FROM h),
           |a AS (SELECT
           |    ${leads.flatMap(stats).mkString(",\n    ")}
           |  FROM l)
           |SELECT ${leads.map(xc).mkString(",\n  ")}
           |FROM a""".stripMargin
      },
      "q135_rolling_median" ->
        """SELECT event_id, event_type,
          |  round(quantile_cont(value, 0.5) OVER (
          |    PARTITION BY event_type ORDER BY ts, event_id
          |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6)
          |    AS roll_median
          |FROM events""".stripMargin,
      "q136_component_sizes" ->
        s"""WITH RECURSIVE np AS (${ngramPairsSql(0.5)}),
           |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src),
           |f AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
           |      FROM documents d LEFT JOIN comp c USING (doc_id)),
           |sz AS (SELECT component, count(*) AS size FROM f GROUP BY 1)
           |SELECT CAST(size AS BIGINT) AS size,
           |  CAST(count(*) AS BIGINT) AS n_components
           |FROM sz GROUP BY 1""".stripMargin,
      "q137_best_rep" ->
        s"""WITH RECURSIVE np AS (${ngramPairsSql(0.5)}),
           |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src),
           |qc AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS DOUBLE) AS nc,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
           |    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS nd,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
           |  FROM documents),
           |q AS (SELECT doc_id,
           |  round(least(CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
           |                   ELSE nc / 10000.0 + 0.01 END, 1.0) * 0.25
           |    + (alpha / greatest(nc, 1.0)) * 0.25
           |    + (CASE WHEN alpha / greatest(nw, 1.0) >= 3
           |             AND alpha / greatest(nw, 1.0) <= 10
           |            THEN 1.0 ELSE 0.5 END) * 0.25
           |    + (nd / greatest(nw, 1.0)) * 0.25, 6) AS quality
           |  FROM qc),
           |f AS (SELECT d.doc_id,
           |    COALESCE(c.component, d.doc_id) AS component, q.quality
           |  FROM documents d LEFT JOIN comp c USING (doc_id)
           |  JOIN q USING (doc_id)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY component
           |    ORDER BY quality DESC, doc_id ASC) AS rn FROM f)
           |SELECT component, doc_id, quality FROM r WHERE rn = 1""".stripMargin,
      "q138_aqp_sample" -> {
        val inBand =
          "CAST('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'aqp'), 1, 8) AS BIGINT) % 100 < 10"
        s"""SELECT
           |  CAST(count(CASE WHEN $inBand THEN 1 END) AS BIGINT) AS n_sample,
           |  round(${dSum(s"CASE WHEN $inBand THEN value END")}
           |    / COUNT(CASE WHEN $inBand THEN value END), 6) AS est_mean,
           |  round(${dAvg("value")}, 6) AS exact_mean
           |FROM events""".stripMargin
      },
      "q139_journey" ->
        """SELECT user_id,
          |  string_agg(event_type, ' '
          |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
          |    AS journey,
          |  CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY 1""".stripMargin,
      "q140_retention" ->
        """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
          |      FROM events),
          |days AS (SELECT DISTINCT day FROM du),
          |wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
          |        FROM days d JOIN du u
          |          ON u.day BETWEEN d.day - 6 AND d.day
          |        GROUP BY 1),
          |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1)
          |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
          |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6)
          |    AS stickiness
          |FROM dau JOIN wau USING (day)""".stripMargin,
      "q103_stream_anomaly" ->
        """WITH x AS (
          |  SELECT event_id, value,
          |    CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
          |    CAST(SUM(CAST(value * value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s2,
          |    count(value) OVER w AS cnt
          |  FROM events
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |y AS (
          |  SELECT event_id, value,
          |    CASE WHEN cnt >= 12 THEN s1 / cnt END AS mu,
          |    CASE WHEN cnt >= 12 THEN (s2 - s1 * s1 / cnt) / (cnt - 1) END AS var
          |  FROM x),
          |z AS (
          |  SELECT event_id, value,
          |    round((value - mu) / (CASE WHEN var > 0 THEN sqrt(var) END), 6)
          |      AS zscore
          |  FROM y)
          |SELECT event_id, value, zscore,
          |  CAST(abs(zscore) > 3.0 AS BIGINT) AS is_anomaly
          |FROM z""".stripMargin,
      "q102_winnow_pairs" ->
        """WITH g AS (
          |  SELECT doc_id, list_transform(
          |    generate_series(1, greatest(length(text) - 15, 0)),
          |    i -> md5(substr(text, CAST(i AS INTEGER), 16))) AS grams
          |  FROM documents),
          |f AS (
          |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
          |    generate_series(1, len(grams) - 7),
          |    j -> list_min(grams[j:j+7])))) AS fp
          |  FROM g WHERE len(grams) >= 8),
          |elig AS (SELECT fp FROM f GROUP BY fp
          |         HAVING count(*) BETWEEN 2 AND 1000),
          |pairs AS (
          |  SELECT l.doc_id AS a, r.doc_id AS b,
          |    CAST(count(*) AS BIGINT) AS n_shared
          |  FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
          |  WHERE l.fp IN (SELECT fp FROM elig)
          |  GROUP BY 1, 2)
          |SELECT a, b, n_shared FROM pairs WHERE n_shared >= 1""".stripMargin,
      "q100_frame_corr" -> {
        def cell(typ: String) =
          s"${dSum(s"CASE WHEN event_type = '$typ' THEN value END")} / COUNT(CASE WHEN event_type = '$typ' THEN value END) AS $typ"
        def pairSel(p: (String, String)) = {
          val (a, b) = p
          val both = s"$a IS NOT NULL AND $b IS NOT NULL"
          s"""SELECT '$a' AS col_a, '$b' AS col_b,
             |  round((n * p - sa * sb) /
             |    sqrt((n * qa - sa * sa) * (n * qb - sb * sb)), 6) AS corr
             |FROM (SELECT
             |  CAST(count(CASE WHEN $both THEN 1 END) AS DOUBLE) AS n,
             |  ${dSum(s"CASE WHEN $both THEN $a END")} AS sa,
             |  ${dSum(s"CASE WHEN $both THEN $b END")} AS sb,
             |  ${dSum(s"CASE WHEN $both THEN $a * $a END")} AS qa,
             |  ${dSum(s"CASE WHEN $both THEN $b * $b END")} AS qb,
             |  ${dSum(s"CASE WHEN $both THEN $a * $b END")} AS p
             |FROM h)""".stripMargin
        }
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts,
           |    ${cell("click")}, ${cell("view")}, ${cell("purchase")}
           |  FROM events GROUP BY 1)
           |""".stripMargin +
          Seq(("click", "view"), ("click", "purchase"), ("view", "purchase"))
            .map(pairSel).mkString("\nUNION ALL\n")
      },
      "q101_group_regression" ->
        s"""WITH a AS (SELECT event_type,
           |    count(CASE WHEN hour(ts) IS NOT NULL AND value IS NOT NULL
           |               THEN 1 END) AS n,
           |    ${dSum("CASE WHEN hour(ts) IS NOT NULL AND value IS NOT NULL THEN CAST(hour(ts) AS DOUBLE) END")} AS sx,
           |    ${dSum("CASE WHEN hour(ts) IS NOT NULL AND value IS NOT NULL THEN value END")} AS sy,
           |    ${dSum("CASE WHEN hour(ts) IS NOT NULL AND value IS NOT NULL THEN CAST(hour(ts) AS DOUBLE) * value END")} AS sxy,
           |    ${dSum("CASE WHEN hour(ts) IS NOT NULL AND value IS NOT NULL THEN CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE) END")} AS sxx
           |  FROM events GROUP BY 1),
           |b AS (SELECT event_type, n,
           |    CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
           |         THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           |    sx, sy FROM a)
           |SELECT event_type, CAST(n AS BIGINT) AS n, round(slope, 6) AS slope,
           |  round((sy - slope * sx) / n, 6) AS intercept
           |FROM b""".stripMargin,
      "q98_cc_star" ->
        s"""WITH RECURSIVE np AS (${ngramPairsSql(0.5)}),
           |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src)
           |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
           |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin,
      "q99_jaccard_prefix" ->
        """WITH docs AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(words) - 2, 0)),
          |    i -> array_to_string(words[i:i+2], ' '))) AS sh
          |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
          |ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
          |pairs AS (
          |  SELECT l.doc_id AS a, r.doc_id AS b, l.n_sh AS na, r.n_sh AS nb,
          |    count(*) AS n_inter
          |  FROM ex l JOIN ex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
          |  GROUP BY 1, 2, 3, 4)
          |SELECT a, b, jaccard FROM (
          |  SELECT a, b, n_inter / (na + nb - n_inter) AS jaccard FROM pairs)
          |WHERE jaccard >= 0.5""".stripMargin,
      "q96_ewm" -> {
        val terms = (0 until 16).map { k =>
          val wt = d17(math.pow(1 - 0.35, k))
          val x = if (k == 0) "value" else s"lag(value, $k) OVER w"
          (s"coalesce($x * $wt, 0.0)",
            s"coalesce(CASE WHEN $x IS NOT NULL THEN $wt END, 0.0)")
        }
        // left-associated + chains — same order as the engine's reduceLeft
        val num = terms.map(_._1).mkString(" + ")
        val den = terms.map(_._2).mkString(" + ")
        s"""SELECT event_id, value, round(($num) / ($den), 6) AS ewm
           |FROM events
           |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin
      },
      "q97_pack_budget" ->
        """WITH c AS (
          |  SELECT source, n_chars,
          |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |  FROM documents)
          |SELECT source, CAST(cum // 16000 AS BIGINT) AS bin,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_tokens
          |FROM c GROUP BY 1, 2""".stripMargin,
      "q92_pattern_profile" -> {
        val cells = ProfilePatterns.map { case (n, re) =>
          s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$n"
        }.mkString(",\n  ")
        s"SELECT doc_id,\n  $cells\nFROM documents"
      },
      "q93_stratified_split" ->
        """WITH b AS (
          |  SELECT source, n_chars,
          |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'graft'),
          |      1, 8) AS BIGINT) % 100 AS bucket
          |  FROM documents)
          |SELECT source,
          |  CASE WHEN bucket < 80 THEN 'train'
          |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM b GROUP BY 1, 2""".stripMargin,
      "q94_anomaly_zscore" -> zscoreSql,
      "q183_zscore_chunked" -> zscoreSql,
      "q90_embed_centroid" ->
        s"""SELECT label, i AS dim,
           |  round(${dAvg("CAST(embedding[i] AS DOUBLE)")}, 6) AS centroid
           |FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
           |GROUP BY 1, 2""".stripMargin,
      "q91_l2_normalize" ->
        """WITH n AS (
          |  SELECT vec_id, embedding::DOUBLE[] AS e,
          |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          |  FROM embeddings),
          |nv AS (SELECT vec_id, nrm, list_transform(e, x -> x / nrm) AS v
          |       FROM n)
          |SELECT vec_id, round(v[1], 6) AS c1,
          |  round(sqrt(list_dot_product(v, v)), 6) AS unit_norm
          |FROM nv""".stripMargin,
      "q95_eqfreq_bins" ->
        s"""WITH r AS (
           |  SELECT l_extendedprice AS v,
           |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
           |      l_linenumber) - 1 AS rn,
           |    count(*) OVER () AS n
           |  FROM lineitem)
           |SELECT (rn * 10) // n AS bin, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(v) AS bin_min, max(v) AS bin_max, ${dSum("v")} AS bin_sum
           |FROM r GROUP BY 1""".stripMargin,
      "q80_approx_quantile" ->
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
          |  CAST(1 AS BIGINT) AS within_tol
          |FROM lineitem GROUP BY 1""".stripMargin,
      "q78_shared_substring" ->
        """WITH w AS (
          |  SELECT DISTINCT doc_id, win FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(
          |        generate_series(1, greatest(length(text) - 49, 0)),
          |        i -> substr(text, CAST(i AS INTEGER), 50))) AS win
          |    FROM documents WHERE length(text) >= 50)),
          |elig AS (SELECT win FROM w GROUP BY win
          |         HAVING count(*) BETWEEN 2 AND 1000),
          |pairs AS (
          |  SELECT l.doc_id AS a, r.doc_id AS b,
          |    CAST(count(*) AS BIGINT) AS n_shared
          |  FROM w l JOIN w r ON l.win = r.win AND l.doc_id < r.doc_id
          |  WHERE l.win IN (SELECT win FROM elig)
          |  GROUP BY 1, 2)
          |SELECT a, b, n_shared FROM pairs WHERE n_shared >= 1""".stripMargin,
      "q76_salted_join" ->
        s"""SELECT o_custkey,
           |  ${dSum("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1""".stripMargin,
      "q77_multimodal_resize" ->
        """WITH f AS (SELECT doc_id,
          |    CAST(least(8 + doc_id % 8, octet_length(encode(text)) // 3)
          |      AS INTEGER) AS width,
          |    CAST((octet_length(encode(text)) // 3)
          |      // least(8 + doc_id % 8, octet_length(encode(text)) // 3)
          |      AS INTEGER) AS height
          |  FROM documents),
          |s AS (SELECT *, CASE WHEN greatest(width, height) <= 256 THEN 1.0
          |        ELSE 256.0 / greatest(width, height) END AS scale FROM f)
          |SELECT doc_id, width, height, scale,
          |  CAST(ceil(width * scale) AS INTEGER) AS out_width,
          |  CAST(ceil(height * scale) AS INTEGER) AS out_height
          |FROM s""".stripMargin,
      "q74_frame_resample" -> {
        def cell(typ: String) =
          s"${dSum(s"CASE WHEN event_type = '$typ' THEN value END")} / COUNT(CASE WHEN event_type = '$typ' THEN value END)"
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS ts,
           |    ${cell("click")} AS click, ${cell("view")} AS view
           |  FROM events GROUP BY 1)
           |SELECT time_bucket(INTERVAL '1 day', ts) AS ts,
           |  ${dAvg("click")} AS click, ${dAvg("view")} AS view
           |FROM h GROUP BY 1""".stripMargin
      },
      "q75_frame_monthly" ->
        s"""SELECT last_day(CAST(l_shipdate AS DATE)) AS ts,
           |  ${dAvg("l_quantity")} AS l_quantity,
           |  ${dAvg("l_extendedprice")} AS l_extendedprice
           |FROM lineitem GROUP BY 1""".stripMargin,
      "q73_weighted_mix" ->
        """SELECT source, doc_id FROM (
          |  SELECT source, doc_id,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
          |  WHEN 'src2' THEN 8 WHEN 'src3' THEN 4 ELSE 0 END""".stripMargin,
      "q56_setops_intersect" ->
        """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          |INTERSECT
          |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
      "q57_day_hour_by_type" -> {
        val cells = (0 until 24).map(h =>
          s"${dSum(s"CASE WHEN hour(ts) = $h THEN value END")} / COUNT(CASE WHEN hour(ts) = $h THEN value END) AS h$h")
          .mkString(",\n  ")
        s"SELECT event_type, CAST(ts AS DATE) AS period_date,\n  $cells\nFROM events GROUP BY 1, 2"
      },
      "q46_range_overlap" ->
        """WITH x AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |y AS (SELECT *, SUM(new_sess) OVER (
          |        PARTITION BY user_id ORDER BY ts
          |        ROWS UNBOUNDED PRECEDING) AS sess FROM x),
          |sessions AS (
          |  SELECT user_id, min(ts) AS s, max(ts) + INTERVAL 5 MINUTE AS e
          |  FROM y GROUP BY user_id, sess)
          |SELECT a.user_id AS a_user_id, b.user_id AS b_user_id,
          |  CAST(count(*) AS BIGINT) AS n_overlaps
          |FROM sessions a JOIN sessions b
          |  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
          |GROUP BY 1, 2""".stripMargin,
      "q47_stateful_sessions" ->
        s"""WITH x AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |y AS (SELECT *, SUM(new_sess) OVER (
           |        PARTITION BY user_id ORDER BY ts
           |        ROWS UNBOUNDED PRECEDING) AS sess FROM x)
           |SELECT min(ts) AS session_start,
           |  max(ts) + INTERVAL 5 MINUTE AS session_end, user_id,
           |  CAST(count(*) AS BIGINT) AS n_events, ${dSum("value")} AS total
           |FROM y GROUP BY user_id, sess""".stripMargin
    )
  }
}
