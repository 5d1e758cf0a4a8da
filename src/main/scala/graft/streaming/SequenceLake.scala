package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{LakeRead, Sampling}

/** The SEQUENCE LAKE — versioned landings of the trainer-batch
  * artifact ([[graft.operators.Sampling.writeSequences]]) across a
  * live trainer's polls, with the same `_live_v<k>` pointer-isolated
  * compaction the layout/manifest/tokens families ride.
  *
  * A trainer polling [[StreamShardLayout.packLandedShards]] lands one
  * `sequences/` artifact per poll; without compaction those poll
  * directories accumulate forever — the exact listing-cost curve the
  * layout compaction was built to kill, one directory over (a year of
  * hourly polls is ~9k artifact directories, each a separate parquet
  * read). [[appendSequences]] names each poll's artifact
  * `inc_b<pollId>` so the shared [[LakeDir]] pointer protocol
  * applies verbatim:
  *
  *  - [[readSequenceLake]] resolves the live pointer (base + newer
  *    increments) and verifies EVERY live artifact against its own
  *    meta row before unioning — torn or tampered landings refuse at
  *    read, exactly like a single artifact.
  *  - [[compactSequenceLake]] folds closed polls into a fresh
  *    `base_v<k+1>` generation beside the live dirs. The folded
  *    generation's meta is RE-ATTESTED from the written rows AND
  *    required equal to the commutative FOLD of the source metas
  *    (counts and id totals sum; the DECIMAL(38) digest fold sums —
  *    commutative by design, see DEVIATIONS #19) — so a corruption
  *    introduced BY the fold itself is caught at compaction time, not
  *    at some later read. The newest increment always stays out (it
  *    may belong to a replayable poll); retired dirs survive until
  *    the next run's reap, so a reader holding the old pointer stays
  *    consistent for a whole compaction interval.
  *
  * Key discipline: each poll packs DISJOINT closed shards
  * ([fromShard, open) advances monotonically), so (shard, seq) keys
  * never collide across increments and the lake union is exactly the
  * one artifact a batch pack of the same corpus would land.
  */
object SequenceLake {

  /** Land one poll's [[graft.operators.Sampling.packSequences]] rows
    * as increment `inc_b<pollId>` — poll-id-derived Overwrite, so a
    * replayed poll rewrites exactly what it wrote (the lake
    * idempotency rule). The caller must skip empty polls
    * (writeSequences refuses them — nothing newly closed means
    * nothing to land).
    *
    * DE-COMMIT FIRST: when the increment already exists (a replayed
    * poll re-overwriting itself), its committed meta is deleted
    * BEFORE the rewrite starts. writeSequences rewrites `sequences/`
    * first and lands the meta last, so without this a crash mid-
    * rewrite would leave PARTIAL shard directories under the OLD
    * still-committed meta — [[pollLandedShards]]' watermark would
    * count those dirs and advance past a torn increment it can never
    * return to (stuck refusing at read, no automated heal). With the
    * meta gone up front the entire rewrite window is uncommitted: the
    * watermark ignores the increment and the next poll re-lands it
    * under the same id — the torn-landing self-heal rule now covers
    * the replay-overwrite window too. (A reader racing the rewrite
    * refuses loudly at the missing meta, exactly as it would mid-
    * first-landing.) */
  def appendSequences(seqs: DataFrame, root: String, pollId: Long,
      groupCol: Option[String] = None): Unit = {
    val inc = LakeDir.inc(root, pollId)
    val metaP = new Path(s"$inc/sequences_meta")
    val fs = metaP.getFileSystem(
      seqs.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(metaP)) fs.delete(metaP, true)
    Sampling.writeSequences(seqs, inc, groupCol)
  }

  /** Every live landed sequence — pointer-resolved (base + newer
    * increments), each artifact verified against its own meta row
    * ([[graft.operators.Sampling.readSequences]]'s count + digest
    * re-check) before the union. O(1 + polls-since-compaction)
    * parquet roots at any lake age. */
  def readSequenceLake(spark: SparkSession, root: String): DataFrame =
    readLive(spark, root, None).rows

  /** [[readSequenceLake]], plus the lake's live `shard` set when
    * `shardCol` names it. The per-artifact meta checks run as ONE
    * Spark job across the whole live set: at bench scale the per-job
    * fixed cost of the verification jobs was the dominant term of
    * every lake read (guide §1.2). */
  private def readLive(spark: SparkSession, root: String,
      shardCol: Option[String]): Sampling.VerifiedSequences = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = LakeDir.live(fs, rootP)
    require(dirs.nonEmpty,
      s"$root holds no landed sequence artifacts — land one with " +
        "appendSequences")
    Sampling.readSequencesBatched(spark, dirs, shardCol)
  }

  /** One SELF-CONTAINED trainer poll, restartable with NO side
    * state: pack the newly closed layout shards and land them as the
    * next lake increment. The poll WATERMARK is derived from the
    * lake itself — (max shard already landed) + 1, read from
    * `shard=N` partition-directory NAMES under the live increments
    * (pure filesystem metadata) — so there is no cursor file to
    * persist, tear, or lose: the artifact IS the state, and a
    * trainer process restarting cold resumes exactly where the lake
    * ends. The increment id is the watermark (`inc_b<fromShard>`),
    * so a crash-replay of the same poll OVERWRITES the same
    * increment and converges (if more shards closed in between, the
    * replay lands the wider range under the same id — still exactly
    * the rows a fresh poll would land). Returns Some((fromShard,
    * open)) when something landed, None when no shard closed since
    * the last poll (nothing is written — the empty-increment rule).
    * Compose with [[consume]] for the read side and
    * [[compactSequenceLake]] for maintenance; the watermark
    * derivation resolves the compaction pointer like every other
    * lake read. */
  def pollLandedShards(spark: SparkSession, layoutRoot: String,
      seqRoot: String, seqLen: Long, sep: Option[String] = None,
      idCol: String = "doc_id", posCol: String = "pos",
      tokenCol: String = "token",
      verifyCoverage: Boolean = true): Option[(Long, Long)] = {
    val layout = new Path(s"$layoutRoot/layout")
    val layoutDirs = LakeDir.live(
      layout.getFileSystem(spark.sparkContext.hadoopConfiguration), layout)
    require(layoutDirs.nonEmpty,
      s"$layoutRoot/layout holds no increments — run appendIncrement")
    pollLive(spark, layoutRoot, layoutDirs, seqRoot, seqLen, sep,
      idCol, posCol, tokenCol, verifyCoverage)
  }

  /** [[pollLandedShards]] over the layout's already-resolved live
    * increments `layoutDirs` (non-empty). */
  private[streaming] def pollLive(spark: SparkSession,
      layoutRoot: String, layoutDirs: Seq[String], seqRoot: String,
      seqLen: Long, sep: Option[String], idCol: String, posCol: String,
      tokenCol: String, verifyCoverage: Boolean): Option[(Long, Long)] = {
    val seqRootP = new Path(seqRoot)
    val fs = seqRootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // watermark = max shard landed in the lake + 1 (0 on a fresh
    // lake) — shard= names under each increment's sequences/ table.
    // Only increments whose META write COMMITTED count (_SUCCESS —
    // writeSequences lands sequences first, meta last): a poll that
    // crashed mid-landing left no committed meta, so its partial
    // increment does NOT advance the watermark and the replay
    // OVERWRITES it under the same id — self-healing, no skipped
    // shards, no cursor file to tear.
    val landedShards = LakeDir.shards(fs, LakeDir.live(fs, seqRootP)
      .filter(d => fs.exists(new Path(s"$d/sequences_meta/_SUCCESS")) &&
        fs.exists(new Path(s"$d/sequences")))
      .map(d => s"$d/sequences"))
    val from = if (landedShards.isEmpty) 0L else landedShards.max + 1
    // open shard of the LAYOUT (same metadata-only read)
    val open = StreamShardLayout.openShard(fs, layoutDirs)
    if (open <= from) None
    else {
      val packed = StreamShardLayout.packLandedShards(spark,
        layoutRoot, seqLen, idCol, posCol, tokenCol,
        fromShard = from, sep = sep, verifyCoverage = verifyCoverage)
      appendSequences(
        Sampling.packSequences(packed, docIdCol = idCol,
          tokenCol = tokenCol, groupCol = Some("shard")),
        seqRoot, from, groupCol = Some("shard"))
      Some((from, open))
    }
  }

  /** The complete LOADER ENTRY POINT: the lake read (every live
    * artifact digest-verified) composed with the deterministic epoch
    * schedule and the resumable cursor
    * ([[graft.operators.Sampling.consumeEpoch]]) — what a trainer's
    * data loader actually calls each epoch. Returns the sequence rows
    * (ids, spans, n_ids, digest) annotated with (epoch, shard_rank,
    * seq_rank), strictly after `cursor`, to be read in
    * (shard_rank, seq_rank) order — whole shards sequentially. The
    * partition-discovered `shard` column is normalized to long so the
    * schedule keys and any persisted cursor agree across readers.
    *
    * A LIVE lake (this engine's own design point — polls keep landing
    * shards while the trainer runs) must consume under a PINNED epoch
    * manifest ([[pinEpoch]] at epoch start, passed as `pinned`):
    * without it the schedule ranks the CURRENT shard set, so a poll
    * landing between a cursor checkpoint and the resume shifts every
    * md5 rank and the cursor silently re-reads/skips whole shards.
    * Pinned, the epoch covers exactly the manifest's shards — growth
    * joins the NEXT epoch — and a resume is exactly-once no matter
    * what landed in between (spec'd across a mid-epoch poll).
    *
    * The pin is checked against the shard set the verify pass
    * observes, and the shards are ranked on the driver, so the read
    * runs no distinct job. */
  def consume(spark: SparkSession, root: String, epoch: Long,
      cursor: Option[Sampling.LoaderCursor] = None,
      salt: String = "graft",
      pinned: Option[Sampling.EpochManifest] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lake = readLive(spark, root, Some("shard"))
    Sampling.consumeEpochOver(
      lake.rows.withColumn("shard", col("shard").cast("long")),
      lake.shards, epoch, cursor, salt, "shard", "seq", pinned)
  }

  /** Pin THIS epoch's shard set from the live lake — the shard set
    * the digest-verified lake read observes, persisted at
    * `manifestPath` ([[graft.operators.Sampling.writeEpochManifest]])
    * — the epoch-start step of the growth-safe loader protocol: pin,
    * then consume every (re)start of the epoch under the SAME
    * manifest ([[graft.operators.Sampling.readEpochManifest]] on
    * restart), checkpointing cursors as usual. */
  def pinEpoch(spark: SparkSession, root: String, manifestPath: String,
      epoch: Long, salt: String = "graft"): Sampling.EpochManifest =
    Sampling.writeEpochManifest(spark, manifestPath,
      Sampling.EpochManifest(epoch, salt, Sampling.ScheduleAlgo,
        readLive(spark, root, Some("shard")).shards.get))

  /** READER-ISOLATED compaction of closed poll artifacts — the
    * [[LakeDir.compact]] `_live_v<k>` staged-fold protocol, with the
    * sequence artifact's TWO-TABLE shape threaded through the
    * callbacks: the fold unions the source `sequences/`
    * tables, and the staged generation's `sequences_meta` is written
    * by re-attesting the folded rows AND required equal to the
    * commutative fold of the source metas — a mismatch means the fold
    * itself corrupted data and the compaction refuses before the
    * pointer ever swaps. Run between polls (the single-maintainer
    * contract the other lakes carry); readers holding either pointer
    * generation stay consistent throughout. A lake with a single live
    * poll has nothing to fold and is left as it is. */
  def compactSequenceLake(spark: SparkSession, root: String,
      groupCol: Option[String] = None): Unit = {
    // the reader callback runs before the writer inside ONE protocol
    // invocation — capturing its dir list is how the writer learns
    // which source metas to fold
    var srcDirs: Seq[String] = Seq.empty
    LakeDir.compact(spark, root,
      dirs => {
        srcDirs = dirs
        dirs.map(d => LakeRead.parquet(spark, s"$d/sequences"))
          .reduce(_.unionByName(_))
      },
      (df, path) => {
        // source metas: one-row tables, read on the driver (no job)
        val metas = srcDirs.map { d =>
          val rows = LakeRead.rows(spark, s"$d/sequences_meta")
          require(rows.length == 1,
            s"$d/sequences_meta must hold exactly one row " +
              s"(got ${rows.length})")
          rows.head
        }
        metas.foreach { m =>
          val algo = Sampling.foldAlgoOf(m)
          require(algo == Sampling.FoldAlgo,
            s"sequence-lake fold: increment attested with fold " +
              s"'$algo' but this engine folds " +
              s"'${Sampling.FoldAlgo}' — format version mismatch")
        }
        val expN = metas.map(_.getAs[Long]("n_sequences")).sum
        val expIds = metas.map(_.getAs[Long]("n_ids")).sum
        val expD = metas.map(m => BigInt(m.getAs[String]("digest")))
          .sum.toString
        // land the folded generation; writeSequences re-attests its
        // meta from the MATERIALIZED fold rows (one aggregate over its
        // lineage cut — a torn write of the files themselves is caught
        // by the per-artifact verify at the next lake read) and
        // RETURNS the attested values, so the fold check no longer
        // re-reads the artifact it just wrote (round 20, guide §1.2)
        val m = Sampling.writeSequences(df, path, groupCol)
        require(m.nSequences == expN && m.nIds == expIds &&
          m.digest == expD,
          s"sequence-lake fold corrupted data: folded source metas " +
            s"say (n=$expN, ids=$expIds, digest=$expD) but the " +
            s"staged generation re-attests (n=${m.nSequences}, " +
            s"ids=${m.nIds}, digest=${m.digest}) — refusing before " +
            "the pointer swap")
      })
  }
}
