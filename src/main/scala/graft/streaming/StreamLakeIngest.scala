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
    parallelInits(hist.sparkSession, Seq(
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

  /** Run independent one-shot artifact builders as concurrent driver
    * jobs (bounded pool; Spark's scheduler interleaves their tasks —
    * the idle-tail back-fill of guide §2.6). Every job is awaited to
    * COMPLETION before the first failure rethrows (round 20, the r19
    * ADVICE finding: rethrowing while sibling artifact jobs still run
    * would let a caller's catch-and-retry race still-writing stale
    * jobs over the same lakeRoot) — [[graft.operators.DriverPool]]
    * owns that contract. */
  private def parallelInits(spark: SparkSession,
      jobs: Seq[() => Unit]): Unit = {
    DriverPool.all[Unit](jobs)
    ()
  }

  /** Union of every subdirectory of `dir` except the current batch's
    * own `inc_b<batchId>` — the visible lake state for this batch.
    * On a lake maintained by [[compactIsolated]] the visible set is
    * POINTER-RESOLVED instead of listed: the newest `_live_v<k>`
    * names the base generation and the max folded inc id, and the
    * reader takes that base plus every newer increment — so a
    * mid-promote listing race cannot exist (the pointer swap is one
    * file creation, and retired dirs survive a full compaction
    * interval for readers still holding the old pointer). */
  private def visibleIncrements(spark: SparkSession, dir: String,
      batchId: Long): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subs = readLivePointer(fs, path) match {
      case Some(lp) =>
        (s"$dir/${lp.base}" +: listIncIds(fs, path)
          .filter(k => k > lp.maxFolded && k != batchId)
          .map(k => s"$dir/inc_b$k")).sorted
      case None =>
        // base_v* excluded: a pointer generation is visible through
        // its pointer ONLY, so a listing reader racing the FIRST
        // isolated compaction (base_v1 renamed in, _live_v1 not yet
        // created, nothing deleted) never double-counts it — see the
        // compactDirIsolatedWith migration note
        fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
          .filter { p =>
            val n = p.getName
            n != s"inc_b$batchId" && !n.startsWith("_") &&
              !n.startsWith(".") && !n.startsWith("base_v")
          }
          .map(_.toString).sorted.toSeq
    }
    require(subs.nonEmpty, s"$dir holds no lake state — run initLake")
    LakeRead.parquet(spark, subs.toIndexedSeq: _*)
  }

  /** The reader-isolation pointer: `_live_v<version>` (newest version
    * wins) naming the live base generation and the largest inc batch
    * id folded into it. */
  private[streaming] case class LivePointer(version: Long, base: String,
      maxFolded: Long)

  private def listIncIds(fs: org.apache.hadoop.fs.FileSystem,
      path: Path): Seq[Long] =
    fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s if s.startsWith("inc_b") =>
        s.stripPrefix("inc_b").toLong }.toSeq

  private[streaming] def readLivePointer(
      fs: org.apache.hadoop.fs.FileSystem,
      path: Path): Option[LivePointer] = {
    if (!fs.exists(path)) return None
    val versions = fs.listStatus(path).map(_.getPath.getName)
      .collect { case s if s.startsWith("_live_v") =>
        s.stripPrefix("_live_v").toLong }
    if (versions.isEmpty) None
    else {
      val v = versions.max
      val in = fs.open(new Path(path, s"_live_v$v"))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      require(lines.length >= 2,
        s"$path/_live_v$v is not a (base, maxFolded) pointer")
      Some(LivePointer(v, lines.head.trim, lines(1).trim.toLong))
    }
  }

  /** Maintenance compaction for the directory-of-increments columns:
    * rewrite `hashes/` and `sigs/` each into a single fresh `base`
    * subdirectory. The inc-subdir layout buys replay idempotency at
    * the cost of one directory per micro-batch — at thousands of
    * batches, file LISTING (a per-batch driver-side O(#dirs) metadata
    * pass) becomes the creeping cost, so a periodic compaction between
    * batches is part of the deployment contract, exactly like any
    * log-structured store. Run it BETWEEN batches (same single-
    * maintainer assumption as the batch lake cycles — there is one
    * ingest query per lake by construction; its checkpoint serializes
    * batches). Restart-safe: the staged rewrite lives in a hidden
    * `_compact` directory (ignored by [[curateIncrement]]'s listing
    * and by Spark's file index) and carries a MANIFEST of exactly the
    * directories it compacted (`_compacted_dirs`, written only after
    * the rewrite completes — it is the promote-enable marker). A rerun
    * after a crash resolves against the manifest:
    *  - no manifest → the rewrite never completed; restart it (the
    *    live dirs are untouched);
    *  - manifest present, every recorded dir still live, but NEW dirs
    *    exist beside them (the ingest committed more micro-batches
    *    between the crash and the rerun) → the staging is STALE;
    *    discard it and rewrite over the current live set. (Safe either
    *    way — the promote deletes exactly the manifest-recorded dirs,
    *    so the newer increments would survive a promote as live
    *    increments beside the new base; the discard-and-rewrite is a
    *    FRESHNESS choice, folding them into this compaction instead of
    *    leaving them for the next one.)
    *  - manifest present and some recorded dir already deleted → a
    *    promote was interrupted; the staging is now the ONLY copy of
    *    the deleted dirs' rows, so the promote MUST complete (delete
    *    the remaining recorded dirs, swap staging in); any unrecorded
    *    dirs beside it stay live as increments. The NEWEST increment
    * directory is always left out of the compaction: if the ingest
    * crashed mid-batch, that batch will be replayed, and its
    * visible-state assembly excludes its own subdirectory by name —
    * folding it into `base` would make the replay collide with its
    * own first attempt. The keeper column needs no compaction: it is
    * already one pruned snapshot. */
  def compact(spark: SparkSession, lakeRoot: String): Unit =
    Seq(s"$lakeRoot/hashes", s"$lakeRoot/sigs")
      .foreach(compactDir(spark, _))

  /** Reader-isolated compaction — the `_live` POINTER protocol, for
    * lakes with CONCURRENT readers outside the single-maintainer loop
    * (the default [[compact]]'s promote deletes-then-renames, so a
    * listing reader racing it can see a partial directory set for a
    * moment; with the pointer that window does not exist):
    *
    *  - the staged rewrite promotes by RENAME into a fresh base
    *    GENERATION (`base_v<k+1>`) beside the old dirs, then one file
    *    creation (`_live_v<k+1>`, naming the generation and the max
    *    folded inc id) swaps readers over atomically;
    *  - RETIRED dirs (the old generation + folded increments) are not
    *    deleted at promote — they are reaped at the START of the NEXT
    *    compaction, so a reader that resolved the old pointer keeps a
    *    fully consistent lake for one whole compaction interval (the
    *    snapshot-retention contract of every log-structured table
    *    format);
    *  - visibility is BY BATCH ID, not by listing: readers take the
    *    pointer's base plus every `inc_b<k>` with k > maxFolded, so
    *    increments landing during (or after) a staged rewrite are
    *    never hidden and a recovered staging is never stale — the
    *    crash-resume rules collapse to "finish the promote".
    *
    * Once a lake has a pointer, ALL its engine readers resolve it
    * ([[visibleIncrements]]) and the plain [[compact]] refuses to run
    * (mixing modes would fold retired generations back in). */
  def compactIsolated(spark: SparkSession, lakeRoot: String): Unit =
    Seq(s"$lakeRoot/hashes", s"$lakeRoot/sigs")
      .foreach(compactDirIsolated(spark, _))

  private def compactDirIsolated(spark: SparkSession,
      dir: String): Unit =
    compactDirIsolatedWith(spark, dir,
      dirs => LakeRead.parquet(spark, dirs: _*),
      (df, path) => df.write.mode("overwrite").parquet(path))

  /** [[compactDirIsolated]] with pluggable read/union and write — the
    * PARTITIONED shard layout's reader-isolated compaction
    * ([[StreamShardLayout.compactLayoutIsolated]]: per-dir reads
    * unioned so partition discovery sees each root's `shard=N` dirs,
    * `partitionBy` write) reuses the exact pointer-generation
    * protocol (staging manifest, deferred reap, resumable promote)
    * the hash/sig lakes spec'd, the same sharing discipline as
    * [[compactDirWith]].
    *
    * MIGRATION NOTE (the one residual race): the FIRST isolated
    * compaction of a legacy listing-mode directory renames staging to
    * `base_v1` before `_live_v1` exists. A concurrent reader (no
    * pointer yet, so listing mode) must not double-count `base_v1`
    * beside the still-live folded dirs — every engine listing-mode
    * reader ([[visibleIncrements]], [[StreamShardLayout.readLayout]])
    * therefore EXCLUDES `base_v*` names: those are visible through
    * the pointer only. With that exclusion the migration run is safe
    * under concurrent readers too (nothing is deleted at promote;
    * retired dirs survive until the next run's reap). */
  private[streaming] def compactDirIsolatedWith(spark: SparkSession,
      dir: String,
      readDirs: Seq[String] => DataFrame,
      writeTo: (DataFrame, String) => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path, "_compact")
    val manifest = new Path(staging, "_compacted_dirs")
    val prior = readLivePointer(fs, path)
    // 1. REAP what the previous promote retired: every visible dir
    // that is neither the live base nor a newer-than-folded increment,
    // plus superseded pointer files. Idempotent; a crash mid-reap just
    // leaves some retired dirs for the next run.
    prior.foreach { lp =>
      fs.listStatus(path).map(_.getPath).foreach { p =>
        val n = p.getName
        val retiredDir = !n.startsWith("_") && !n.startsWith(".") &&
          n != lp.base &&
          !(n.startsWith("inc_b") &&
            n.stripPrefix("inc_b").toLong > lp.maxFolded)
        val oldPointer = n.startsWith("_live_v") &&
          n.stripPrefix("_live_v").toLong < lp.version
        if (retiredDir || oldPointer)
          try fs.delete(p, true)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // 2. STAGE (unless a completed rewrite is already waiting, in
    // _compact OR already renamed to the next generation — a crash
    // between the rename and the pointer creation leaves an ORPHANED
    // base_v<k> whose manifest rode along in the rename; re-staging
    // over it would abandon that generation while the new pointer's
    // maxFolded claimed its incs, losing them from visibility. The
    // orphan IS the completed rewrite: resume by pointer creation
    // alone): fold the live set except the newest increment (it may
    // belong to a replayable batch — the default protocol's rule)
    val nextV = prior.map(_.version + 1).getOrElse(1L)
    val target = new Path(path, s"base_v$nextV")
    def readLines(p: Path): Option[Seq[String]] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList)
        finally in.close()
      }
    def readManifest(): Option[Seq[String]] =
      readLines(new Path(target, "_compacted_dirs"))
        .orElse(readLines(manifest))
    if (readManifest().isEmpty) {
      fs.delete(staging, true)
      val incIds = listIncIds(fs, path)
      val foldIncs = prior match {
        case Some(lp) => incIds.filter(_ > lp.maxFolded)
        case None     => incIds
      }
      val keepOut = if (foldIncs.isEmpty) None else Some(foldIncs.max)
      val folded = (prior.map(_.base).toSeq ++
        (prior match {
          case None => fs.listStatus(path).filter(_.isDirectory)
            .map(_.getPath.getName)
            .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
              !n.startsWith("inc_b") && !n.startsWith("base_v")).toSeq
          case Some(_) => Nil
        }) ++
        foldIncs.filterNot(keepOut.contains).map(k => s"inc_b$k")
          .sorted).distinct
      require(folded.nonEmpty, s"$dir holds no lake state")
      // nothing new to fold (only the live base would be rewritten):
      // a no-op, not base->base churn
      if (prior.nonEmpty && folded == prior.map(_.base).toSeq) return
      writeTo(readDirs(folded.map(n => s"$dir/$n").toIndexedSeq),
        staging.toString)
      val out = fs.create(manifest, true)
      try out.write((folded.sorted.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      finally out.close()
    }
    // 3. PROMOTE: rename the staging to the next generation (skipped
    // when resuming an orphaned one), then one pointer-file creation
    // swaps readers. Both steps are idempotent on a crash-rerun
    // (exists-checks), and nothing is deleted here.
    val recorded = readManifest().get
    if (!fs.exists(target))
      require(fs.rename(staging, target),
        s"isolated compaction swap failed for $dir — staging left at " +
          staging)
    val maxFolded = (recorded.collect {
      case n if n.startsWith("inc_b") => n.stripPrefix("inc_b").toLong
    } ++ prior.map(_.maxFolded) :+ -1L).max
    val pointer = new Path(path, s"_live_v$nextV")
    if (!fs.exists(pointer)) {
      val out = fs.create(pointer, true)
      try out.write(s"base_v$nextV\n$maxFolded\n".getBytes("UTF-8"))
      finally out.close()
    }
  }

  private def compactDir(spark: SparkSession, dir: String): Unit =
    compactDirWith(spark, dir,
      dirs => LakeRead.parquet(spark, dirs: _*),
      (df, path) => df.write.mode("overwrite").parquet(path))

  /** The generic listing-protocol compaction (staging manifest,
    * stale-discard, resumable promote) with pluggable read/union and
    * write — so the PARTITIONED shard layout ([[StreamShardLayout
    * .compactLayout]]: per-dir reads unioned, `partitionBy` write)
    * reuses the exact crash-resume rules the hash/sig lakes spec'd
    * instead of growing a drifting copy. */
  private[streaming] def compactDirWith(spark: SparkSession,
      dir: String,
      readDirs: Seq[String] => DataFrame,
      writeTo: (DataFrame, String) => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(readLivePointer(fs, path).isEmpty,
      s"$dir is maintained by compactIsolated (a _live pointer " +
        "exists) — the default compact would fold retired " +
        "generations back in; keep using compactIsolated")
    val staging = new Path(path, "_compact")
    val manifest = new Path(staging, "_compacted_dirs")
    // live = compactable dirs: every visible subdir EXCEPT the newest
    // increment (see scaladoc — it may belong to a replayable batch)
    def live: Array[Path] = {
      val all = fs.listStatus(path).filter(_.isDirectory)
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      val incIds = all.map(_.getName)
        .collect { case s if s.startsWith("inc_b") =>
          s.stripPrefix("inc_b").toLong }
      if (incIds.isEmpty) all
      else all.filter(_.getName != s"inc_b${incIds.max}")
    }
    def readManifest(): Option[Seq[String]] =
      if (!fs.exists(manifest)) None
      else {
        val in = fs.open(manifest)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList)
        finally in.close()
      }
    val liveNames = live.map(_.getName).toSet
    val recorded = readManifest()
    // nothing staged and fewer than two foldable dirs: a no-op, not a
    // rewrite (base->base churn for the lakes; for the shard layout,
    // one-increment roots are the normal state right after batch 0
    // and must not fail loudly). A pending manifest still promotes.
    if (recorded.isEmpty && live.length < 2) return
    val missing = recorded.map(_.toSet -- liveNames).getOrElse(Set.empty)
    val extra = recorded.map(liveNames -- _.toSet).getOrElse(Set.empty)
    if (recorded.isEmpty || (missing.isEmpty && extra.nonEmpty)) {
      // no completed rewrite, or a STALE one (new increments landed
      // after it was staged and before any promote delete): discard
      // and rewrite over the current live set
      fs.delete(staging, true)
      val dirs = live
      require(dirs.nonEmpty, s"$dir holds no lake state")
      writeTo(readDirs(dirs.map(_.toString).toIndexedSeq),
        staging.toString)
      val out = fs.create(manifest, true)
      try out.write(
        (dirs.map(_.getName).sorted.mkString("\n") + "\n")
          .getBytes("UTF-8"))
      finally out.close()
    }
    // promote: delete EXACTLY the manifest's dirs (on a resumed
    // half-promote the staging is the only copy of the already-deleted
    // ones, so this must run to completion), then swap staging in.
    // The manifest is removed ONLY AFTER the rename lands: deleting it
    // first would open a crash window where the staging — by then the
    // only copy of the compacted rows — reads as "rewrite never
    // completed" and gets discarded on resume. A crash between rename
    // and the manifest delete merely leaves an underscore-prefixed
    // file inside base/ (invisible to every parquet reader and to the
    // next compaction's staging check, which looks under _compact/).
    readManifest().get.foreach(n => fs.delete(new Path(path, n), true))
    val base = new Path(path, "base")
    require(fs.rename(staging, base),
      s"compaction swap failed for $dir — staging left at $staging")
    try fs.delete(new Path(base, "_compacted_dirs"), false)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The latest keeper snapshot OLDER than this batch: `keepers_b<k>`
    * with the largest k < batchId, else the init snapshot `keepers`
    * (the one versioned-snapshot family whose init name predates the
    * `_init` convention). */
  private def keepersBefore(spark: SparkSession, semDir: String,
      batchId: Long): String =
    versionBefore(spark, semDir, "keepers", batchId,
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
      .parquet(s"$admittedDir/inc_b$batchId")
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
        textCol, idCol, s"$lakeRoot/hashes/inc_b$batchId")
      val f2 = Future(fold2())
      // 3. near-dup dedup vs the signature lake, fold signatures in
      val (s3, fold3) = Dedup.minhashLshLakeStepDeferred(s2,
        visibleIncrements(spark, s"$lakeRoot/sigs", batchId),
        textCol, idCol, s"$lakeRoot/sigs/inc_b$batchId",
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
  //    compact()-style maintenance hook): each batch reads the newest
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
    parallelInits(hist.sparkSession, Seq(
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

  /** Newest `<prefix>_b<k>` subdir of `dir` with k < batchId, else
    * the init snapshot `<initName>`; prunes versions older than the
    * returned one, plus the init snapshot once any version exists (a
    * replay is only ever of THIS batch or later, and those read the
    * returned snapshot or newer, so everything older is unreachable).
    * The one snapshot-selection rule for all FOUR versioned families
    * — keepers, DSIR models, budget ledgers, and the shard layout's
    * weight cursor ([[StreamShardLayout]]). */
  private[streaming] def versionBefore(spark: SparkSession, dir: String,
      prefix: String, batchId: Long, initName: String = null): String = {
    val init = Option(initName).getOrElse(s"${prefix}_init")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith(s"${prefix}_b") =>
        s.stripPrefix(s"${prefix}_b").toLong }
      .filter(_ < batchId)
    val chosen =
      if (versions.isEmpty) s"$dir/$init"
      else s"$dir/${prefix}_b${versions.max}"
    if (versions.nonEmpty) {
      versions.filter(_ < versions.max).foreach { k =>
        try fs.delete(new Path(s"$dir/${prefix}_b$k"), true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      try fs.delete(new Path(s"$dir/$init"), true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    chosen
  }

  /** Between-batches MAINTENANCE (the compact() sibling): fold an
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
    val src = versionBefore(spark, s"$lakeRoot/dsir", "model", batchId)
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
    val modelPath = versionBefore(spark, s"$lakeRoot/dsir", "model",
      batchId)
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
      versionBefore(spark, s"$lakeRoot/budget", "used", batchId))
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
        .parquet(s"$admittedDir/inc_b$batchId"))
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
