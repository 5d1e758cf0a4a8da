package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Curation, Dedup, DriverPool, LakeRead, Lineage,
  Similarity, TextOps}

/** STREAMING LAKE INGEST — the full incremental curation contract
  * (decontamination → exact dedup → near-dup dedup → semantic dedup →
  * quality filters, the q207 stage chain) as a `foreachBatch` loop
  * whose ONLY state is the batch lake artifacts on storage.
  *
  * This is the third and most deployable of the engine's streaming
  * dedup shapes, and the one that keeps the LAKE current:
  *  - [[StreamNearDup]]/[[StreamSemDedup]] hold state in the state
  *    store (per-arrival latency, bounded by executor memory/RocksDB);
  *  - their `streamingFromLake` variants SEED that state from the lake
  *    once at query start — but admissions never flow back to the
  *    artifacts, so batch consumers fall behind the stream;
  *  - THIS shape holds no keyed state at all: each micro-batch runs
  *    the fused lake steps against the artifacts and folds its
  *    survivors back in, so the artifacts ARE the admitted corpus at
  *    every batch boundary, shared with every batch job, unbounded by
  *    any store, and restart-safe by construction.
  *
  * Lake layout under `lakeRoot` (every per-batch write goes to a
  * directory derived from the micro-batch id, in Overwrite mode):
  * {{{
  *   bench_windows/         immutable decon artifact (writeBenchWindows)
  *   hashes/base/           exact-dedup lake: initial corpus hashes
  *   hashes/inc_b<id>/      ... plus one subdir per micro-batch
  *   sigs/base/             near-dup lake: banded minhash signatures
  *   sigs/inc_b<id>/
  *   sem/codebook/          immutable IVF geometry (fixed at init)
  *   sem/keepers/           semantic lake: initial keeper snapshot
  *   sem/keepers_b<id>/     ... versioned snapshot per micro-batch
  * }}}
  * The hash/signature lakes grow by O(increment) subdirs; the keeper
  * table is a capped rank-merge REWRITE (O(nlist × keeperCap) rows,
  * corpus-independent), so it is versioned whole — one snapshot per
  * batch, superseded snapshots pruned as soon as no replay can read
  * them.
  *
  * EXACTLY-ONCE: Structured Streaming re-executes a failed micro-batch
  * with the SAME batch id. Every write here is to a batch-id-derived
  * location in Overwrite mode, and every read assembles the lake
  * EXCLUDING the current batch's own contributions — so a replay sees
  * exactly the state the first attempt saw and rewrites exactly the
  * files the first attempt wrote. No transaction log, no ledger; the
  * idempotency lives in the layout. (The flat-directory batch cycles
  * q198/q200/q201 instead rely on single-writer append ordering — fine
  * for a driven batch job, not for a crash-replayed stream.)
  *
  * Removal semantics per batch (matching q207's incremental rule):
  * history always outranks the increment; within the increment the
  * fused steps keep the first occurrence (min id for exact, enrolled-
  * first for near-dup/semantic). Quality filtering happens AFTER the
  * fold-ins: the lake represents everything that survived dedup — the
  * dedup ground truth — while the admitted output is the filtered
  * corpus (same contract as q207, whose history side is unfiltered).
  */
object StreamLakeIngest {

  /** Thresholds/geometry for the whole chain; must be held constant
    * across the lake's lifetime (store beside the lake in production —
    * the same contract as every FromArtifacts operator). */
  case class Params(
      windowLen: Int = 50,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.35,
      bucketCap: Int = 2000,
      semThreshold: Double = 0.4,
      nlist: Int = 8,
      nassign: Int = 3,
      keeperCap: Int = 1000,
      minQuality: Double = 0.5,
      maxTopBigramFrac: Double = 0.2,
      lang: String = "en")

  /** Build the lake from the already-admitted history corpus and the
    * benchmark set — the streaming analog of the three write-artifact
    * jobs plus the decon artifact. `hist` must carry (idCol, textCol,
    * vecCol); `bench` needs (idCol, textCol). */
  def initLake(hist: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, vecCol: String, lakeRoot: String,
      p: Params = Params()): Unit =
    // the four base artifacts are INDEPENDENT (each reads only its own
    // input, each writes its own directory) — run them as overlapping
    // jobs from a small driver pool (guide §2.6): while one write's
    // task tail drains, the next artifact's tasks back-fill the idle
    // executors. Results identical to the sequential form; failures
    // propagate through the awaited futures.
    DriverPool.all[Unit](Seq(
      () => Dedup.writeBenchWindows(bench, textCol, idCol,
        s"$lakeRoot/bench_windows", p.windowLen),
      () => Dedup.writeContentHashes(hist, textCol,
        s"$lakeRoot/hashes/base"),
      () => Dedup.writeBandedSignatures(hist, textCol, idCol,
        s"$lakeRoot/sigs/base", p.shingleLen, p.bands, p.rowsPerBand,
        p.bucketCap),
      () => Similarity.writeSemDedupArtifacts(
        hist.select(col(idCol), col(vecCol)), idCol, vecCol,
        s"$lakeRoot/sem", nlist = p.nlist, keeperCap = p.keeperCap,
        nassign = p.nassign)))

  /** Union of the lake's live directories except the current batch's
    * own `inc_b<batchId>` — the visible lake state for this batch
    * ([[LakeDir.live]]: pointer-resolved once [[compactIsolated]] has
    * run, listing mode before). */
  private def visibleIncrements(spark: SparkSession, dir: String,
      batchId: Long): DataFrame = {
    val path = new Path(dir)
    val subs = LakeDir.live(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration), path,
      except = Some(batchId))
    require(subs.nonEmpty, s"$dir holds no lake state — run initLake")
    LakeRead.parquet(spark, subs: _*)
  }

  /** Maintenance compaction for the directory-of-increments columns
    * `hashes/` and `sigs/`: the inc-subdir layout buys replay
    * idempotency at the cost of one directory per micro-batch, so at
    * thousands of batches the per-batch listing becomes the creeping
    * cost, and a periodic compaction between batches is part of the
    * deployment contract, as in any log-structured store. Each column
    * folds through the reader-isolated `_live_v<k>` pointer protocol
    * ([[LakeDir.compact]]): readers holding the old pointer keep a
    * consistent lake for a whole compaction interval, and the newest
    * increment stays live (it may belong to a replayable batch). The
    * keeper column needs no compaction: it is already one pruned
    * snapshot. */
  def compactIsolated(spark: SparkSession, lakeRoot: String): Unit =
    Seq(s"$lakeRoot/hashes", s"$lakeRoot/sigs").foreach(
      LakeDir.compact(spark, _,
        dirs => LakeRead.parquet(spark, dirs: _*),
        (df, path) => df.write.mode("overwrite").parquet(path)))

  /** The latest keeper snapshot OLDER than this batch: `keepers_b<k>`
    * with the largest k < batchId, else the init snapshot `keepers`
    * (the one versioned-snapshot family whose init name predates the
    * `_init` convention). */
  private def keepersBefore(spark: SparkSession, semDir: String,
      batchId: Long): String =
    LakeDir.versionBefore(spark, semDir, "keepers", batchId,
      initName = "keepers")

  /** One micro-batch through the five-stage chain. Pure function of
    * (batch rows, lake state visible to `batchId`) with all writes
    * going to `batchId`-derived directories — replay-idempotent, the
    * property the spec pins. Returns the admitted (filtered) rows,
    * eagerly materialized; also writes them to
    * `admittedDir/inc_b<batchId>` so the admitted corpus is itself a
    * directory-of-increments parquet table. The caller owns the
    * returned frame's [[Lineage.free]] and the operators'
    * `releaseIntermediates` (the [[ingest]] loop does both). */
  def curateIncrement(batch: DataFrame, lakeRoot: String,
      admittedDir: String, textCol: String, idCol: String,
      vecCol: String, batchId: Long, p: Params = Params()): DataFrame = {
    val admitted = fiveStages(batch, lakeRoot, textCol, idCol, vecCol,
      batchId, p)
    admitted.write.mode("overwrite")
      .parquet(LakeDir.inc(admittedDir, batchId))
    admitted
  }

  /** Stages 1-5 without the admitted write — the shared core of
    * [[curateIncrement]] and [[curateIncrementFull]].
    *
    * FOLD-IN OVERLAP (round 20, guide §2.6): each stage's lake fold-in
    * write (hash increment, signature increment, keeper snapshot) only
    * feeds the NEXT BATCH — this batch's later stages never read it —
    * so the write runs on a driver side thread while the next stage's
    * survivors materialize on the main thread, and is awaited exactly
    * before the blocks it reads are freed. Failure semantics are the
    * crash-replay ones the layout already guarantees: a fold-in that
    * fails after a later stage started leaves only batch-id-derived
    * Overwrite directories behind, which the replayed batch rewrites
    * verbatim. When a stage throws, every fold-in already started is
    * drained before the exception escapes, so a caller that replays
    * the batch never races a still-running fold over the same
    * directories. Results are byte-identical to the sequential form. */
  private def fiveStages(batch: DataFrame, lakeRoot: String,
      textCol: String, idCol: String, vecCol: String, batchId: Long,
      p: Params): DataFrame = {
    val spark = batch.sparkSession
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      // 1. decontamination — stateless probe of the immutable artifact
      val contaminated = Dedup.contaminatedDocsFromArtifact(batch,
          LakeRead.parquet(spark, s"$lakeRoot/bench_windows"), textCol, idCol,
          p.windowLen)
        .select(col("id").as(idCol))
      val s1 = batch.join(contaminated, Seq(idCol), "left_anti")
      // 2. exact dedup vs the hash lake, fold survivors' hashes in
      val (s2, fold2) = Dedup.exactLakeStepDeferred(s1,
        visibleIncrements(spark, s"$lakeRoot/hashes", batchId),
        textCol, idCol, LakeDir.inc(s"$lakeRoot/hashes", batchId))
      val f2 = Future(fold2())
      // 3. near-dup dedup vs the signature lake, fold signatures in
      val (s3, fold3) = Dedup.minhashLshLakeStepDeferred(s2,
        visibleIncrements(spark, s"$lakeRoot/sigs", batchId),
        textCol, idCol, LakeDir.inc(s"$lakeRoot/sigs", batchId),
        SaveMode.Overwrite, p.shingleLen, p.bands, p.rowsPerBand,
        p.minEstJaccard, p.bucketCap, dedupWithinIncrement = true)
      Await.result(f2, Duration.Inf) // fold2 reads s2's blocks
      Lineage.free(s2)
      val f3 = Future(fold3())
      // 4. semantic dedup vs the latest keeper snapshot, rewrite a new
      // one (a FRESH versioned snapshot dir — the deferred form's
      // requirement)
      val semDir = s"$lakeRoot/sem"
      val (s4, fold4) = Similarity.semDedupLakeStepDeferred(s3, idCol,
        vecCol, Similarity.readSemCodebook(spark, semDir),
        LakeRead.parquet(spark, keepersBefore(spark, semDir, batchId)),
        s"$semDir/keepers_b$batchId", p.semThreshold,
        keeperCap = p.keeperCap, nassign = p.nassign,
        dedupWithinIncrement = true)
      Await.result(f3, Duration.Inf) // fold3 reads s3's blocks
      Lineage.free(s3)
      val f4 = Future(fold4())
      // 5. quality filters — stateless, AFTER the fold-ins (see scaladoc)
      val admitted = Lineage.cut(s4
        .withColumn("__r", TextOps.repetitionScores(col(textCol)))
        .withColumn("__q", TextOps.qualityScore(col(textCol)))
        .where(col("__q") >= p.minQuality &&
          col("__r")("top_bigram_frac") <= p.maxTopBigramFrac &&
          TextOps.langId(col(textCol)) === p.lang)
        .drop("__r", "__q"))
      Await.result(f4, Duration.Inf) // fold4 reads s4's blocks
      Lineage.free(s4)
      admitted
    } finally DriverPool.drain(pool)
  }

  /** Drive a stream of (idCol, textCol, vecCol) rows through the
    * chain: one [[curateIncrement]] per micro-batch. The checkpoint
    * carries only source offsets — all data state is in the lake, so
    * the query restarts from any crash with nothing to rebuild. */
  def ingest(stream: DataFrame, lakeRoot: String, admittedDir: String,
      checkpointDir: String, textCol: String, idCol: String,
      vecCol: String, p: Params = Params()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = curateIncrement(batch, lakeRoot, admittedDir,
          textCol, idCol, vecCol, batchId, p)
        Lineage.free(admitted)
        Dedup.releaseIntermediates()
      }
      .start()

  // ------------------------------------------------------------------
  // The FULL SELECTION chain: stages 6-7 (model-based DSIR admission +
  // per-source token-budget admission) composed onto the five-stage
  // curation loop — the streamed twin of the q215 selection contract.
  // Both new stages keep the lake-as-only-state discipline:
  //  - the DSIR model is a VERSIONED artifact column (`dsir/model_init`
  //    + `model_b<k>` written by the between-batches fold-in job, the
  //    compactIsolated-style maintenance hook): each batch reads the newest
  //    snapshot OLDER than itself, so a replay scores against exactly
  //    the model its first attempt saw, and a fold-in takes effect from
  //    the next batch on with no gate restart;
  //  - the budget state is one (source, tokens-admitted) row per source,
  //    versioned per batch (`budget/used_b<k>`) exactly like the keeper
  //    snapshots: read newest-older-than-this-batch, write own, prune
  //    unreachable. Admission follows StreamTokenBudget's rule — a
  //    source's docs admit in doc_id order while tokens admitted BEFORE
  //    the doc (all prior batches + earlier docs this batch) are under
  //    budget; the crossing doc is admitted, then the gate closes.
  // Stage order: quality (5) before DSIR (6) before budget (7) — a doc
  // that fails the cheap filters must not consume model scoring or
  // budget, and budget is last so it meters exactly what would land.
  // ------------------------------------------------------------------

  /** Stage-6/7 knobs for the full chain. `isTarget` is the DSIR
    * target-domain predicate evaluated over the HISTORY/fold-in rows
    * (e.g. `col("lang") === "en"`). `merges` non-empty switches the
    * budget's token accounting from whitespace counts to the LEARNED
    * tokenizer (the native `bpe_token_count` expression — budgets are
    * usually stated in model tokens, not words); `unicodeBpe` must
    * match the mode the merge list was LEARNED under
    * ([[graft.operators.Tokenizer]]'s `unicode` flag) — like every
    * lake threshold, both are held constant for the lake's lifetime. */
  case class SelectParams(
      dsirBuckets: Int = 1024,
      dsirSalt: String = "graft",
      minMicro: Long = 1L,
      tokenBudget: Long = 1000L,
      merges: Seq[(String, String)] = Nil,
      unicodeBpe: Boolean = false)

  /** [[initLake]] plus the stage-6/7 artifacts: the initial DSIR model
    * (`dsir/model_init`, fit on the history with `isTarget`) and the
    * empty budget ledger (`budget/used_init`). */
  def initLakeFull(hist: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, vecCol: String, isTarget: Column, lakeRoot: String,
      p: Params = Params(), sp: SelectParams = SelectParams()): Unit = {
    // the stage-6/7 artifacts are independent of the five-stage base
    // artifacts AND of each other — overlap all three groups (§2.6)
    DriverPool.all[Unit](Seq(
      () => initLake(hist, bench, textCol, idCol, vecCol, lakeRoot, p),
      () => Curation.writeDsirModel(hist, textCol, isTarget,
        sp.dsirBuckets, sp.dsirSalt, s"$lakeRoot/dsir/model_init"),
      () => writeEmptyLedger(hist.sparkSession,
        s"$lakeRoot/budget/used_init")))
  }

  /** The budget ledger's schema in one place: (source, tokens). Public
    * so probe tooling initializes ledgers the gate can actually read. */
  def writeEmptyLedger(spark: SparkSession, path: String): Unit =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tokens",
          org.apache.spark.sql.types.LongType))))
      .repartition(1)
      .write.mode("overwrite").parquet(path)

  /** Between-batches MAINTENANCE (the compactIsolated sibling): fold an
    * increment's rows into the DSIR model as a NEW versioned snapshot
    * `dsir/model_b<batchId>` — bucket counts are additive integers, so
    * the folded model is bit-identical to a from-scratch rebuild over
    * history ∪ increments (the q217 contract). Batches > batchId pick
    * it up automatically; replays of ≤ batchId keep reading the older
    * snapshot they saw first. */
  def foldDsirModel(incDf: DataFrame, textCol: String, isTarget: Column,
      lakeRoot: String, batchId: Long,
      sp: SelectParams = SelectParams()): Unit = {
    val spark = incDf.sparkSession
    // source = newest snapshot STRICTLY OLDER than batchId — never
    // this fold's own output: a crashed-and-rerun fold for the same
    // batchId must re-read the true predecessor (and overwrite its
    // torn first attempt), not fold the increment in a second time
    // from a possibly-corrupt model_b<batchId>
    val src = LakeDir.versionBefore(spark, s"$lakeRoot/dsir", "model",
      batchId)
    Curation.appendDsirModelAt(incDf, textCol, isTarget, sp.dsirSalt,
      src, s"$lakeRoot/dsir/model_b$batchId")
  }

  /** One micro-batch through the SEVEN-stage chain: the five-stage
    * [[curateIncrement]] core, then the frozen-model DSIR gate (6) and
    * the per-source token-budget gate (7). Writes the admitted rows —
    * now carrying (iw_micro, n_tokens) — to `admittedDir/inc_b<id>`
    * and the updated budget ledger to `budget/used_b<id>`; replay-
    * idempotent for the same reasons as the core (every read excludes
    * this batch's own writes, every write is batch-id-derived). `batch`
    * must carry `sourceCol` for the budget key. */
  def curateIncrementFull(batch: DataFrame, lakeRoot: String,
      admittedDir: String, textCol: String, idCol: String,
      vecCol: String, sourceCol: String, batchId: Long,
      p: Params = Params(), sp: SelectParams = SelectParams())
      : DataFrame = {
    val spark = batch.sparkSession
    val s5 = fiveStages(batch, lakeRoot, textCol, idCol, vecCol,
      batchId, p)
    // 6. DSIR gate against the newest model snapshot this batch may see
    val modelPath = LakeDir.versionBefore(spark, s"$lakeRoot/dsir",
      "model", batchId)
    val model = LakeRead.parquet(spark, modelPath)
      .select(col("b"), col("lr_micro")).orderBy("b").collect()
    require(model.length == sp.dsirBuckets &&
      model.head.getLong(0) == 0L,
      s"$modelPath is not a dense ${sp.dsirBuckets}-bucket DSIR model")
    val lr = model.map(_.getLong(1))
    val s6 = s5.withColumn("iw_micro",
        Curation.dsirScoreMicro(col(textCol), lr, sp.dsirSalt))
      .where(col("iw_micro") >= sp.minMicro)
    // 7. token-budget gate: prior ledger + within-batch running sum in
    // doc_id order per source (bounded: increment-sized window, ledger
    // is one row per source and broadcasts)
    val prior = LakeRead.parquet(spark,
      LakeDir.versionBefore(spark, s"$lakeRoot/budget", "used", batchId))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col(idCol))
    val tokCount =
      if (sp.merges.isEmpty) TextOps.tokenCount(col(textCol))
        .cast("long")
      else org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.functions.BpeTokenCount(
          org.apache.spark.sql.graftshim.ColumnShim
            .expression(col(textCol)), sp.merges, sp.unicodeBpe))
    val metered = s6
      .withColumn("n_tokens", tokCount)
      .join(broadcast(prior
        .select(col("source").as(sourceCol), col("tokens"))),
        Seq(sourceCol), "left")
      .withColumn("__prior", coalesce(col("tokens"), lit(0L)))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .where(col("__prior") + col("__cum") - col("n_tokens") <
        sp.tokenBudget)
      .drop("tokens")
    val admitted = Lineage.cut(metered.drop("__prior", "__cum"))
    Lineage.free(s5)
    // new ledger = prior ∪ this batch's admissions, summed per source
    val ledger = prior.select(col("source"), col("tokens"))
      .unionByName(admitted.groupBy(col(sourceCol).as("source"))
        .agg(sum(col("n_tokens")).as("tokens")))
      .groupBy("source").agg(sum(col("tokens")).as("tokens"))
    // both final writes read the materialized `admitted` cut and land
    // in independent directories — overlapped (round 20, guide §2.6)
    DriverPool.both(
      ledger.repartition(1).write.mode("overwrite")
        .parquet(s"$lakeRoot/budget/used_b$batchId"),
      admitted.write.mode("overwrite")
        .parquet(LakeDir.inc(admittedDir, batchId)))
    admitted
  }

  /** The 7-stage loop: one [[curateIncrementFull]] per micro-batch. */
  def ingestFull(stream: DataFrame, lakeRoot: String,
      admittedDir: String, checkpointDir: String, textCol: String,
      idCol: String, vecCol: String, sourceCol: String,
      p: Params = Params(), sp: SelectParams = SelectParams())
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = curateIncrementFull(batch, lakeRoot, admittedDir,
          textCol, idCol, vecCol, sourceCol, batchId, p, sp)
        Lineage.free(admitted)
        Dedup.releaseIntermediates()
      }
      .start()

  /** The COMPLETE streamed corpus→trainer loop: each micro-batch runs
    * the seven-stage selection AND lands its admissions in the
    * training-shard layout ([[StreamShardLayout.appendIncrement]],
    * weights = the stage-7 `n_tokens`) — raw stream in, loader-ready
    * `shard=N/` directories out, one `foreachBatch`. Every piece of
    * state on both sides is a batch-id-versioned lake artifact and
    * every write is batch-id-derived Overwrite, so the two loops'
    * replay guarantees COMPOSE: a re-executed batch re-reads exactly
    * the snapshots+cursor its first attempt saw and rewrites exactly
    * the same admitted dir, ledger, layout increment, and cursor. */
  def ingestFullToShards(stream: DataFrame, lakeRoot: String,
      admittedDir: String, checkpointDir: String, layoutRoot: String,
      textCol: String, idCol: String, vecCol: String,
      sourceCol: String, shardWeight: Long, p: Params = Params(),
      sp: SelectParams = SelectParams()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = curateIncrementFull(batch, lakeRoot, admittedDir,
          textCol, idCol, vecCol, sourceCol, batchId, p, sp)
        val landed = StreamShardLayout.appendIncrement(
          admitted.select(col(idCol), col("n_tokens")), layoutRoot,
          idCol, "n_tokens", shardWeight, batchId)
        Lineage.free(landed)
        Lineage.free(admitted)
        Dedup.releaseIntermediates()
      }
      .start()
}
