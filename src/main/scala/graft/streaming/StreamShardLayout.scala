package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{LakeRead, Lineage, Sampling}

/** STREAMING SHARD LAYOUT — the incremental twin of the batch
  * corpus→shards arc ([[graft.operators.Sampling.shardAssign]] +
  * `writeShards`): each micro-batch of admitted documents APPENDS to
  * the training-shard layout instead of re-laying the corpus out.
  *
  * The only state is a RUNNING-WEIGHT CURSOR, one long versioned per
  * batch in the lake (`cursor/cursor_b<k>`, init `cursor/cursor_init`
  * — the [[StreamLakeIngest]] versioned-snapshot discipline, same
  * newest-older-than-this-batch selection and pruning rule). A batch
  * lays its rows out in the deterministic within-batch order
  * (md5-of-id, then id — the shardAssign order), continues the
  * running weight FROM the cursor, and lands them under its own
  * `layout/inc_b<batchId>/shard=N/` directories:
  *
  *  - NEW SHARDS ONLY: a batch's first shard index is
  *    ⌊cursor / shardWeight⌋ — it may APPEND files to the one shard
  *    left open by the previous batch (a second file in that shard's
  *    directory set, ordered by `offset`, never a rewrite) and
  *    otherwise creates strictly newer shard directories. Closed
  *    shards' files are never touched, so a trainer can stream shard
  *    k the moment shard k+1 exists.
  *  - EXACTLY-ONCE on replay: the cursor read excludes the batch's
  *    own version, and both writes (the inc layout dir and the new
  *    cursor) are batch-id-derived Overwrite — a replayed batch sees
  *    exactly what its first attempt saw and rewrites exactly what it
  *    wrote.
  *  - The global layout order is (batch, md5(id), id): readers union
  *    the `inc_b*` roots; a shard spanning a batch boundary holds
  *    files from two inc dirs with `offset` carrying the intra-shard
  *    order, so file order never matters (the writeShards contract).
  *
  * At 100 TB the per-batch cost is the increment's metadata-only sort
  * plus task-local directory fan-out — the corpus never re-shuffles,
  * and the layout grows by O(increment) files per batch (compactable
  * per closed shard, offline, without moving open ones).
  */
object StreamShardLayout {

  /** Create an empty layout: the zero cursor snapshot. */
  def initLayout(spark: SparkSession, layoutRoot: String): Unit =
    writeCursor(spark, s"$layoutRoot/cursor/cursor_init", 0L)

  private def writeCursor(spark: SparkSession, path: String,
      total: Long): Unit = {
    import spark.implicits._
    Seq(total).toDF("total_weight").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readCursor(spark: SparkSession, path: String): Long = {
    val rows = LakeRead.rows(spark, path)
    require(rows.length == 1,
      s"$path is not a one-row cursor snapshot (${rows.length} rows)")
    rows.head.getAs[Long]("total_weight")
  }

  /** One micro-batch appended to the layout. Pure function of (batch
    * rows, the cursor visible to `batchId`); writes
    * `layout/inc_b<batchId>/shard=N/`, a per-batch TRAINER MANIFEST
    * row set under `manifest/inc_b<batchId>`, and
    * `cursor/cursor_b<batchId>`, all Overwrite — replay-idempotent.
    * An EMPTY batch (or one whose upstream selection admitted zero
    * docs — routine when everything dedups) writes the cursor only:
    * a rows-free `layout/inc_b<k>` would hold no parquet data files
    * and brick every later schema inference over the directory set.
    * Returns the batch's assignment (idCol, weightCol, shard,
    * offset), already landed.
    *
    * The manifest is what a live trainer CONSUMES instead of listing
    * directories: one row per (shard, batch) with the doc count, the
    * weight sum, the increment directory name (shard `s`'s files for
    * this batch live under `layout/<inc>/shard=s/`), and the batch's
    * id segment in offset order — [[readShardManifest]] folds the
    * segments into exactly [[Sampling.shardManifest]]'s per-shard
    * order-sensitive digest, so the q235 attestation contract extends
    * to the streamed arc without touching a data file. */
  def appendIncrement(batch: DataFrame, layoutRoot: String,
      idCol: String, weightCol: String, shardWeight: Long,
      batchId: Long, salt: String = "graft"): DataFrame =
    landIncrement(batch, layoutRoot, idCol, weightCol, batchId,
      start => Sampling.shardAssignCounted(batch, idCol, weightCol,
        shardWeight, salt, startWeight = start))

  /** The CURRICULUM twin of [[appendIncrement]]: the batch lays out
    * in explicit ([[orderCol]], id) order
    * ([[Sampling.shardAssignOrdered]]'s contract) instead of the md5
    * decorrelation, continuing the running weight from the same
    * versioned cursor. The global layout order is therefore
    * (batch, orderCol, id) — each increment is curriculum-ordered
    * WITHIN itself; a retroactive global re-sort is impossible by
    * construction (an increment cannot know scores that haven't
    * arrived), which is the honest streamed-curriculum contract: a
    * trainer that needs a strict global schedule lays out in batch.
    * Everything else (cursor protocol, manifest rows, replay
    * idempotency, compaction) is shared code with the hash form. */
  def appendIncrementOrdered(batch: DataFrame, layoutRoot: String,
      idCol: String, weightCol: String, orderCol: String,
      shardWeight: Long, batchId: Long): DataFrame =
    landIncrement(batch, layoutRoot, idCol, weightCol, batchId,
      start => Sampling.shardAssignOrderedCounted(batch, idCol,
        weightCol, orderCol, shardWeight, startWeight = start))

  /** The shared landing tail of both append forms: cursor read,
    * assignment, layout + manifest increment writes, cursor write —
    * all batch-id-derived Overwrite (replay-idempotent).
    *
    * Precondition: `batch` is deterministic. `nRows` and `batchWeight`
    * (the emptiness test and the next cursor) come from the pass
    * inside `assign`, which runs before `Lineage.cut(asg)` evaluates
    * the plan again to land the rows; the two agree only when both
    * evaluations see the same rows. Every caller passes such a batch:
    * a `foreachBatch` frame of a replayable source. */
  private def landIncrement(batch: DataFrame, layoutRoot: String,
      idCol: String, weightCol: String, batchId: Long,
      assign: Long => (DataFrame, Long, Long)): DataFrame = {
    val spark = batch.sparkSession
    val cursorPath = LakeDir.versionBefore(spark, s"$layoutRoot/cursor",
      "cursor", batchId)
    val start = readCursor(spark, cursorPath)
    // the batch's row count and weight ride the running sum's bounded
    // per-partition pass (round 20) — the separate stats aggregate
    // this landing used to run per batch is gone (guide §1.2)
    val (asg, nRows, batchWeight) = assign(start)
    val assigned = Lineage.cut(asg)
    if (nRows > 0L) {
      // layout and manifest writes both read the materialized cut and
      // write INDEPENDENT directories — overlapped (guide §2.6), so
      // one write's task tail back-fills with the other's tasks. The
      // cursor still lands strictly AFTER both (commit order
      // unchanged: a crash before the cursor leaves the batch
      // uncommitted and the replay overwrites both increments).
      graft.operators.DriverPool.both(
        // the assignment is range-ordered by the layout key, so this
        // write fans out task-locally with ZERO shuffle (the
        // writeShards shape)
        assigned.write.mode("overwrite").partitionBy("shard")
          .parquet(LakeDir.inc(s"$layoutRoot/layout", batchId)),
        assigned.groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col(weightCol)).as(weightCol),
            array_join(transform(
              array_sort(collect_list(struct(col("offset"),
                col(idCol).cast("string").as("__id")))),
              s => s.getField("__id")), ",").as("ids"))
          .withColumn("batch", lit(batchId))
          .withColumn("inc", lit(LakeDir.incName(batchId)))
          .write.mode("overwrite")
          .parquet(LakeDir.inc(s"$layoutRoot/manifest", batchId)))
    }
    writeCursor(spark, s"$layoutRoot/cursor/cursor_b$batchId",
      start + batchWeight)
    assigned
  }

  /** Land the batch's TOKEN (or token-id) stream BESIDE its layout
    * increment — `tokens/inc_b<batchId>/shard=N/`, one row per
    * (idCol, posCol, tokenCol) carrying the document's (shard,
    * offset) — so the incremental trainer pack
    * ([[packLandedShards]]) reads BOTH join sides out of
    * shard-pruned partitions and its steady-state cost is O(newly
    * closed shards), never O(corpus) (the round-16 residue: the
    * corpus-stream form's token side re-scanned everything per poll).
    *
    * `tokens` must hold exactly the batch's documents' streams
    * (what the upstream tokenize emitted for this increment);
    * `assigned` is the SAME batch's [[appendIncrement]] /
    * [[appendIncrementOrdered]] return. One doc-keyed join scoped to
    * the increment, one partitioned Overwrite write — replayed
    * batches rewrite exactly what they wrote. An empty batch writes
    * nothing (the empty-increment rule). At 100 TB the extra landing
    * cost per batch is one increment-sized shuffle — and it buys the
    * trainer loop's token side back from O(corpus) per poll. */
  def appendTokens(tokens: DataFrame, assigned: DataFrame,
      layoutRoot: String, batchId: Long, idCol: String = "doc_id",
      posCol: String = "pos", tokenCol: String = "token"): Unit = {
    // emptiness and the coverage denominator are ONE cached-scan count
    // over the ASSIGNED side (lineage-cut by landIncrement; an empty
    // batch ⇒ an empty token stream) — round 20 merged the previous
    // separate isEmpty probe into this count (guide §1.2). Probing the
    // joined result would execute the doc-keyed join twice, doubling
    // the one increment-sized shuffle this landing budgets for.
    val nAssigned = assigned.count()
    if (nAssigned > 0L) {
      // per-batch coverage, validated AT INGEST where the failure is
      // still remediable (replay the batch with the right stream) and
      // both sides are in hand, increment-sized: every assigned
      // document must contribute >= 1 token row, else its tokens
      // would silently vanish from every later pack. A caller whose
      // token stream legitimately drops whole documents (e.g. an
      // id-encode null-filter under a frozen vocabulary) must drop
      // them from the LAYOUT batch too — that is the correct fix, and
      // this is the moment it's cheap to apply.
      //
      // the token stream is evaluated ONCE: a kept PERSIST whose
      // cache the coverage aggregate below populates while it runs —
      // the upstream tokenize (a full BPE id-encode in the trainer
      // arc, measured at bench scale as the dominant term of this
      // call, SCALE.md round 19) runs once, and the landing join
      // reads the cached blocks. Round 20 swapped the previous EAGER
      // lineage cut for this lazy persist: same single evaluation,
      // one fewer full pass + driver job per landing (the cut's
      // standalone materialization — guide §1.2/§5).
      val toksCut = Lineage.keep(
        tokens.select(col(idCol), col(posCol), col(tokenCol)))
      try {
        // BOTH directions in one pass over the distinct token-doc set
        // (a left join to the cached assignment, then matched vs total
        // counts): (a) every assigned doc has token rows — else its
        // tokens silently vanish from every pack; (b) every token doc
        // IS assigned — else a mis-scoped token stream (tokens from the
        // wrong micro-batch) would partially land, the extras silently
        // discarded by the landing join below
        val tokDocs = toksCut.select(col(idCol)).distinct()
          .join(assigned.select(col(idCol), lit(1).as("__a")),
            Seq(idCol), "left")
        val cov = tokDocs.agg(count(lit(1)).as("n_tok"),
          count(col("__a")).as("n_match")).collect().head
        val (nTokenDocs, nWithTokens) = (cov.getLong(0), cov.getLong(1))
        require(nWithTokens == nAssigned,
          s"appendTokens batch $batchId: only $nWithTokens of " +
            s"$nAssigned assigned documents have token rows — a " +
            "document with zero tokens must be dropped from the layout " +
            "batch too (its weight would shift offsets while its " +
            "content vanishes from every pack)")
        if (nTokenDocs != nWithTokens) {
          // failure path only: name a few of the extras
          val extras = tokDocs.where(col("__a").isNull)
            .select(col(idCol).cast("string")).limit(5).collect()
            .map(_.getString(0)).mkString(", ")
          throw new IllegalArgumentException(
            s"requirement failed: appendTokens batch $batchId: the " +
              s"token stream holds ${nTokenDocs - nWithTokens} " +
              s"document(s) NOT in the assigned batch (e.g. $extras) " +
              "— a mis-scoped token stream (wrong micro-batch?); the " +
              "landing join would silently discard their rows")
        }
        // cluster the landing by its partition column before the
        // partitioned write (guide §6): each shard's rows land from
        // ONE task, so the increment holds one file per shard dir
        // instead of one per (task × shard) — shards are weight-capped,
        // so the per-file size stays bounded at any scale, and every
        // later shard-pruned read (the poll loop's pack) opens half
        // the files
        toksCut
          .join(assigned.select(col(idCol),
            col("shard").cast("long").as("shard"), col("offset")),
            Seq(idCol))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(LakeDir.inc(s"$layoutRoot/tokens", batchId))
      } finally Lineage.free(toksCut)
    }
  }

  /** The trainer's view of the streamed layout — the cumulative
    * per-shard manifest assembled from the per-batch manifest rows
    * alone (metadata, no data-file listing or scan): shard k's id
    * segments concatenate in batch order (within a shard the global
    * order IS (batch, md5, id) — each batch's segment is already in
    * offset order, and offsets only grow across batches), giving the
    * SAME (shard, n_docs, weight, order-sensitive digest) rows
    * [[Sampling.shardManifest]] computes from the assignment itself
    * (spec'd equal). A trainer polls this to learn which shards are
    * complete and which files hold them, immune to in-flight promote
    * windows and partial directory listings. */
  def readShardManifest(spark: SparkSession, layoutRoot: String,
      weightCol: String): DataFrame = {
    val root = new Path(s"$layoutRoot/manifest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pointer-resolved when compactLayoutIsolated has folded closed
    // batches' manifest rows into a base generation (same _live_v<k>
    // protocol as layout/): base + newer incs, so the metadata read
    // stays O(1 + new batches) instead of one parquet read per batch
    // forever — the listing curve the layout compaction kills, one
    // directory over
    val incs = LakeDir.live(fs, root)
    require(incs.nonEmpty,
      s"$layoutRoot/manifest holds no increments — run appendIncrement")
    incs.map(LakeRead.parquet(spark, _)).reduce(_.unionByName(_))
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col(weightCol)).as(weightCol),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("batch"), col("ids")))),
          s => s.getField("ids")), ",")).as("digest"))
      .select(col("shard"), col("n_docs"), col(weightCol),
        col("digest"))
  }

  /** Per-dir read + union (partition discovery needs each root's
    * shard=N layout on its own — a multi-root read can't see through
    * the non-partition inc_b<k> segment), skipping any directory with
    * no parquet data files: a rows-free legacy increment (written by
    * appendIncrement before the empty-batch skip) holds only _SUCCESS
    * and would fail schema inference for every later read. */
  private def readLayoutDirs(spark: SparkSession,
      dirs: Seq[String]): DataFrame = {
    val live = dirs.flatMap(LakeRead.ifData(spark, _))
    require(live.nonEmpty,
      s"no parquet data under any of: ${dirs.mkString(", ")}")
    live.reduce(_.unionByName(_))
  }

  /** The OPEN (still-receiving-weight) shard id of a layout — the
    * maximum shard across the live increment directories, read from
    * the `shard=N` partition-directory NAMES alone: pure filesystem
    * metadata, no data file opened, no scan job. Loud on an empty or
    * never-appended layout (the silent NPE the agg-based max threw). */
  private[streaming] def openShard(fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[String]): Long = {
    val shards = LakeDir.shards(fs, dirs)
    require(shards.nonEmpty,
      s"no shard=N directories under any of: ${dirs.mkString(", ")}" +
        " — the layout holds no appended rows yet")
    shards.max
  }

  /** READER-ISOLATED compaction of the layout — the `_live_v<k>`
    * pointer-generation protocol ([[LakeDir.compact]]), because the
    * layout's natural consumer is a live trainer streaming shards WHILE
    * ingest runs: the staged fold renames into a fresh `base_v<k+1>`
    * generation beside the live dirs, one pointer-file creation swaps
    * readers atomically, and retired dirs survive until the NEXT
    * compaction's reap — so a trainer that resolved the old pointer
    * keeps a fully consistent layout for a whole compaction interval,
    * and one that resolves the new pointer sees every closed shard
    * exactly once. The newest increment always stays out (it may
    * belong to a replayable batch); the open shard's rows may split
    * between the generation and that increment — `offset` carries the
    * order, so readers never notice. Run it between batches.
    *
    * All three families fold, each through its own pointer: `layout/`,
    * the MANIFEST increments (readShardManifest otherwise unions one
    * parquet read per batch forever; the rows keep their `batch`
    * column, so the per-shard order-sensitive digest is unchanged —
    * spec'd equal before/after), and the LANDED TOKENS
    * ([[appendTokens]]; the pack reads them per closed shard). A family
    * with fewer than two live dirs, or none yet, is left as it is. */
  def compactLayoutIsolated(spark: SparkSession,
      layoutRoot: String): Unit = {
    val fs = new Path(layoutRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned: (DataFrame, String) => Unit = (df, path) =>
      df.write.mode("overwrite").partitionBy("shard").parquet(path)
    val flat: (DataFrame, String) => Unit = (df, path) =>
      df.write.mode("overwrite").parquet(path)
    Seq("layout" -> partitioned, "manifest" -> flat,
        "tokens" -> partitioned)
      .foreach { case (family, write) =>
        val dir = s"$layoutRoot/$family"
        if (fs.exists(new Path(dir)))
          LakeDir.compact(spark, dir, readLayoutDirs(spark, _), write)
      }
  }

  /** The cumulative layout: every batch's landed assignment, with the
    * partition-discovered `shard` column. A shard spanning batches
    * reads back from several inc roots; (shard, offset) is the total
    * order. POINTER-RESOLVED when a `_live_v<k>` generation exists
    * (the [[compactLayoutIsolated]] protocol: the pointer's base plus
    * every newer increment — a mid-promote race cannot exist);
    * listing-mode otherwise, where `base_v*` names are EXCLUDED (a
    * generation is visible through its pointer only, so the first
    * isolated compaction's rename-then-point window never
    * double-counts). */
  def readLayout(spark: SparkSession, layoutRoot: String): DataFrame = {
    val root = new Path(s"$layoutRoot/layout")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incs = LakeDir.live(fs, root)
    require(incs.nonEmpty,
      s"$layoutRoot/layout holds no increments — run appendIncrement")
    // one read per increment root, unioned. The plan grows by one
    // scan per batch — the same listing cost curve as the hash/sig
    // lakes, and the same remedy: periodic compaction of CLOSED
    // shards into a base generation, offline, never moving the open
    // one.
    readLayoutDirs(spark, incs)
  }

  /** Pack the CLOSED shards of a streamed layout into fixed-length
    * training sequences — the live trainer's consumption step. A
    * shard is immutable once the running weight has moved past it
    * (closed = every shard below the layout's current maximum; the
    * max shard is still receiving weight and is excluded), so packing
    * is EMBARRASSINGLY INCREMENTAL: each closed shard packs exactly
    * once, independently, while ingest keeps landing newer shards —
    * re-running after more batches only adds newly closed shards'
    * sequences, never changes earlier ones (spec'd). `tokens` is the
    * corpus piece stream ([[graft.operators.Tokenizer.bpeTokenize]]
    * or a whitespace posexplode); the layout contributes order only.
    * One layout read + one doc-keyed join + the grouped
    * [[graft.operators.Sampling.packTokens]] (shard-bounded window,
    * no global barrier).
    *
    * `fromShard` is the trainer's WATERMARK: pass the open-shard id
    * the previous call reported (or track packed shards yourself) and
    * only shards in [fromShard, open) are read and packed — the shard
    * filter prunes the layout's `shard=N/` partitions at scan time,
    * so an incremental call's LAYOUT cost is O(newly closed shards)
    * (spec'd: the watermarked run equals the full run's new rows
    * exactly).
    *
    * COST SHAPE CAVEAT: `tokens` is the caller's full corpus piece
    * stream, and the doc-keyed join scans ALL of it every call — this
    * form is the FIRST-ATTACH path (or the one-off pack of a layout
    * whose tokens were never landed). A live trainer polling for
    * newly closed shards must use [[appendTokens]] at ingest time +
    * [[packLandedShards]], whose token side reads the same pruned
    * `shard=N/` partitions as the layout side — O(new) on BOTH join
    * sides (measured: SCALE.md round 17, the incremental pack at 100×). Calling
    * THIS form with a watermark (`fromShard > 0` — the poll-loop
    * shape) on a layout that HAS landed tokens is therefore always a
    * mistake (the caller pays O(corpus) per poll for nothing) and is
    * REFUSED with a pointer at the landed pack.
    * `sep`, when set, appends one separator token per document
    * (ridden through (id, shard, offset) keys) before packing. */
  def packClosedShards(spark: SparkSession, layoutRoot: String,
      tokens: DataFrame, seqLen: Long,
      idCol: String = "doc_id", posCol: String = "pos",
      tokenCol: String = "token", fromShard: Long = 0L,
      sep: Option[String] = None): DataFrame = {
    val root = new Path(s"$layoutRoot/layout")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokensRoot = new Path(s"$layoutRoot/tokens")
    if (fromShard > 0L && fs.exists(tokensRoot) &&
        fs.listStatus(tokensRoot).exists(_.isDirectory))
      throw new IllegalArgumentException(
        "requirement failed: packClosedShards(fromShard = " +
          s"$fromShard) on a layout WITH landed tokens — the " +
          "watermark form is the steady-state poll loop, and this " +
          "corpus-stream pack re-scans the caller's FULL token " +
          "stream every poll (O(corpus)); use packLandedShards, " +
          "whose token side reads the same shard-pruned partitions " +
          "as the layout side (O(newly closed shards))")
    val dirs = LakeDir.live(fs, root)
    require(dirs.nonEmpty,
      s"$layoutRoot/layout holds no increments — run appendIncrement")
    val open = openShard(fs, dirs)
    val closed = readLayoutDirs(spark, dirs)
      .select(col(idCol), col("shard").cast("long").as("shard"),
        col("offset"))
      .where(col("shard") >= fromShard && col("shard") < open)
    packShardTokens(tokens.join(closed, Seq(idCol)), seqLen,
      idCol, posCol, tokenCol, sep)
  }

  /** The O(new)-on-BOTH-sides incremental trainer pack: the steady-
    * state twin of [[packClosedShards]] over tokens LANDED beside the
    * layout by [[appendTokens]]. The landed rows already carry
    * (shard, offset), so there is NO corpus-stream join at all — the
    * shard watermark filter prunes `tokens/…/shard=N/` partitions at
    * scan time and the whole call reads, separates, and packs only
    * [fromShard, open): a trainer polling for newly closed shards
    * pays O(newly closed shards) per poll at any corpus size. The
    * open shard comes from partition-directory NAMES (metadata-only).
    *
    * Loud contract: every layout increment must have had its tokens
    * landed — a shard directory present under `layout/` but absent
    * under `tokens/` means an ingest batch skipped [[appendTokens]],
    * and packing would silently drop its documents; checked from
    * directory names alone and refused. */
  def packLandedShards(spark: SparkSession, layoutRoot: String,
      seqLen: Long, idCol: String = "doc_id", posCol: String = "pos",
      tokenCol: String = "token", fromShard: Long = 0L,
      sep: Option[String] = None,
      verifyCoverage: Boolean = true): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val layoutRootP = new Path(s"$layoutRoot/layout")
    val tokensRootP = new Path(s"$layoutRoot/tokens")
    val fs = layoutRootP.getFileSystem(conf)
    val layoutDirs = LakeDir.live(fs, layoutRootP)
    val tokenDirs = LakeDir.live(fs, tokensRootP)
    require(layoutDirs.nonEmpty,
      s"$layoutRoot/layout holds no increments — run appendIncrement")
    require(tokenDirs.nonEmpty,
      s"$layoutRoot/tokens holds no landed token increments — land " +
        "them with appendTokens at ingest time (or use the " +
        "first-attach packClosedShards with a corpus token stream)")
    val open = openShard(fs, layoutDirs)
    // loud contract, two layers. (1) metadata fast-fail: a shard
    // directory present under layout/ but absent under tokens/ means
    // a whole-shard token gap — caught from directory NAMES alone.
    val wanted = LakeDir.shards(fs, layoutDirs).toSet
      .filter(s => s >= fromShard && s < open)
    val landed = LakeDir.shards(fs, tokenDirs).toSet
    val missing = wanted -- landed
    require(missing.isEmpty,
      s"layout shards ${missing.toSeq.sorted.mkString(",")} have no " +
        "landed tokens — an ingest batch skipped appendTokens; " +
        "packing would silently drop their documents")
    val toksRaw = readLayoutDirs(spark, tokenDirs)
      .select(col(idCol), col(posCol), col(tokenCol),
        col("shard").cast("long").as("shard"), col("offset"))
      .where(col("shard") >= fromShard && col("shard") < open)
    // the pruned token stream is scanned ONCE: when coverage
    // verification is on, both the (doc, shard) distinct count below
    // and the pack itself would otherwise each read every pruned
    // token partition — the verify was measured at ~40% of the whole
    // pack call at bench scale (SCALE.md round 19). A PERSIST (not a
    // lineage cut): the verify count populates the cache in a single
    // sequential job before the pack consumes it, and the cached plan
    // keeps the parquet scan — with its shard PartitionFilters —
    // visible in the pack's executed plan (the O(new) claim stays
    // plan-checkable, LayoutSpec pins it). The cache is increment-
    // bounded (O(newly closed shards) in the steady-state poll) and
    // belongs to the caller's Lineage scope.
    val toks =
      if (verifyCoverage) Lineage.keep(toksRaw)
      else toksRaw
    // (2) exact per-document coverage (opt-out via verifyCoverage —
    // e.g. a poll loop that trusts the appendTokens-time per-batch
    // require, which is where the gap is actually created AND still
    // remediable): a batch that only EXTENDED an already-token-bearing
    // shard could have skipped appendTokens without creating a new
    // shard directory, so the name check alone would pass while its
    // documents silently vanish from the stream. The LAYOUT side
    // comes from the trainer MANIFEST (per-shard n_docs — metadata
    // the appends already landed, no layout-data scan); the TOKEN
    // side is one distinct (doc, shard) count over the SAME pruned
    // partitions the pack is about to read (column-pruned — cheaper
    // than the pack itself). Equality holds because appendTokens
    // refuses a batch with token-less documents, document ids are
    // unique per landing (the platform-wide id contract), and a
    // zero-weight doc never enters the layout.
    if (verifyCoverage) {
      val manDirs = LakeDir.live(fs, new Path(s"$layoutRoot/manifest"))
      val nLayoutDocs =
        if (manDirs.nonEmpty)
          manDirs.map(LakeRead.parquet(spark, _)).reduce(_.unionByName(_))
            .where(col("shard").cast("long") >= fromShard &&
              col("shard").cast("long") < open)
            .agg(coalesce(sum(col("n_docs")), lit(0L)))
            .collect().head.getLong(0)
        else // legacy layout without manifests: count the layout data
          readLayoutDirs(spark, layoutDirs)
            .select(col(idCol), col("shard").cast("long").as("shard"))
            .where(col("shard") >= fromShard && col("shard") < open)
            .count()
      val nTokenDocs = toks.select(col(idCol), col("shard"))
        .distinct().count()
      require(nTokenDocs == nLayoutDocs,
        s"landed tokens cover $nTokenDocs (doc, shard) landings but " +
          s"the layout holds $nLayoutDocs in shards [$fromShard, " +
          s"$open) — an ingest batch skipped appendTokens for " +
          "documents that extended an existing shard; packing would " +
          "silently drop them")
    }
    packShardTokens(toks, seqLen, idCol, posCol, tokenCol, sep)
  }

  /** Shared pack tail: optional per-document separator injection
    * (the [[graft.operators.Sampling.appendDocSeparator]] EOS
    * discipline, keys = (id, shard, offset) so the boundary rows ride
    * the layout columns), then the grouped concat-and-split. */
  private def packShardTokens(toks: DataFrame, seqLen: Long,
      idCol: String, posCol: String, tokenCol: String,
      sep: Option[String]): DataFrame = {
    val withSep = sep.fold(toks)(s =>
      graft.operators.Sampling.appendDocSeparator(toks, s, posCol,
        tokenCol, keys = Seq(idCol, "shard", "offset")))
    graft.operators.Sampling.packTokens(withSep, seqLen,
      docIdCol = idCol, posCol = posCol, tokenCol = tokenCol,
      groupCol = Some("shard"), orderCol = Some("offset"))
  }

  /** Drive a stream of (idCol, weightCol) rows through the append
    * loop — the landing half of the streamed corpus→trainer arc
    * (compose after [[StreamLakeIngest.ingestFull]], whose admitted
    * increments carry `n_tokens`). Checkpoint holds only source
    * offsets; all layout state is the lake cursor. NOTE: a layout
    * ingested through THIS form has no landed tokens, so its trainer
    * must pack via the first-attach [[packClosedShards]] at O(corpus)
    * per poll — a LIVE trainer loop should ingest through
    * [[ingestWithTokens]] and poll [[packLandedShards]] (O(newly
    * closed shards), the steady-state reader). */
  def ingest(stream: DataFrame, layoutRoot: String,
      checkpointDir: String, idCol: String, weightCol: String,
      shardWeight: Long, salt: String = "graft"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Lineage.scope(appendIncrement(batch, layoutRoot, idCol,
          weightCol, shardWeight, batchId, salt))
      }
      .start()

  /** [[ingest]] with the LANDED-TOKEN contract built in: each batch
    * appends its layout increment AND lands its token stream beside
    * it (`tokenize` derives the batch's (idCol, posCol, tokenCol)
    * rows — e.g. a [[graft.operators.Tokenizer.bpeTokenize]] under a
    * persisted model, or a whitespace posexplode), so a live trainer
    * polls [[packLandedShards]] at O(newly closed shards) with no
    * side channel. Both writes are batch-id-derived Overwrite inside
    * ONE foreachBatch — the replay guarantees compose exactly as the
    * lake ingests' do. */
  def ingestWithTokens(stream: DataFrame, layoutRoot: String,
      checkpointDir: String, idCol: String, weightCol: String,
      shardWeight: Long, tokenize: DataFrame => DataFrame,
      salt: String = "graft", posCol: String = "pos",
      tokenCol: String = "token"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Lineage.scope {
          val assigned = appendIncrement(batch, layoutRoot, idCol,
            weightCol, shardWeight, batchId, salt)
          appendTokens(tokenize(batch), assigned, layoutRoot, batchId,
            idCol, posCol, tokenCol)
        }
      }
      .start()

  /** The COMPLETE streamed trainer arc as ONE query: each micro-batch
    * lands its layout increment AND its token stream (the
    * [[ingestWithTokens]] pair), and every `pollEvery` batches the
    * trainer POLL runs in the same foreachBatch —
    * [[SequenceLake.pollLandedShards]] packs the newly closed shards
    * into the sequence lake, with the poll watermark derived FROM the
    * lake (no state anywhere but the artifacts: source offsets in the
    * checkpoint, running weight in the versioned cursor, poll
    * position in the lake's own shard directories). Replay-safe by
    * composition: layout/token writes are batch-id-derived Overwrite,
    * and a replayed poll either no-ops (its increment already
    * committed) or overwrites the same increment (the torn-landing
    * self-healing rule). The token stream must be id-castable when
    * the lake feeds [[graft.operators.Sampling.packSequences]] —
    * i.e. `tokenize` should emit token IDS (a
    * [[graft.operators.Tokenizer.bpeEncodeIds]] under a persisted
    * model/vocab, with the registered eos as `sep`).
    *
    * `compactEvery = N > 0` folds the MAINTENANCE into the arc: every
    * Nth poll, [[compactLayoutIsolated]] (layout + manifest + tokens)
    * and [[SequenceLake.compactSequenceLake]] run inside the same
    * foreachBatch, right after the poll — which satisfies the
    * single-maintainer "between polls" contract TRIVIALLY (the arc IS
    * the poller; an out-of-band maintainer can never know when
    * "between polls" is). Without it the arc's own measured listing
    * curve creeps ~2x per 24 batches (SCALE.md round 18) and grows
    * without bound — a year-long unattended run NEEDS this on. Both
    * compactions are the reader-isolated `_live_v<k>` pointer
    * protocol, so a trainer consuming either lake concurrently stays
    * consistent through every fold. Default 0 (off) preserves the
    * round-18 behavior for callers running maintenance themselves. */
  def ingestTrainerArc(stream: DataFrame, layoutRoot: String,
      seqRoot: String, checkpointDir: String, idCol: String,
      weightCol: String, shardWeight: Long,
      tokenize: DataFrame => DataFrame, seqLen: Long,
      pollEvery: Int = 1, sep: Option[String] = None,
      salt: String = "graft", posCol: String = "pos",
      tokenCol: String = "token",
      compactEvery: Int = 0): StreamingQuery = {
    require(pollEvery >= 1, s"pollEvery must be >= 1 (got $pollEvery)")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (got $compactEvery; 0 = no " +
        "in-arc maintenance)")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Lineage.scope {
          val assigned = appendIncrement(batch, layoutRoot, idCol,
            weightCol, shardWeight, batchId, salt)
          appendTokens(tokenize(batch), assigned, layoutRoot, batchId,
            idCol, posCol, tokenCol)
          val conf = spark.sparkContext.hadoopConfiguration
          if ((batchId + 1) % pollEvery == 0) {
            // skip the poll while the layout holds no increments yet
            // (a leading run of empty batches) — pollLandedShards
            // refuses an increment-less layout loudly, which is right
            // for a direct call but routine here
            val root = new Path(s"$layoutRoot/layout")
            val layoutDirs = LakeDir.live(root.getFileSystem(conf), root)
            if (layoutDirs.nonEmpty)
              SequenceLake.pollLive(spark, layoutRoot,
                layoutDirs, seqRoot, seqLen, sep, idCol, posCol,
                tokenCol, verifyCoverage = true)
          }
          if (compactEvery > 0 &&
              (batchId + 1) % (pollEvery.toLong * compactEvery) == 0) {
            compactLayoutIsolated(spark, layoutRoot)
            // no sequence lake before the first poll that landed shards
            val seqP = new Path(seqRoot)
            if (seqP.getFileSystem(conf).exists(seqP))
              SequenceLake.compactSequenceLake(spark, seqRoot,
                groupCol = Some("shard"))
          }
        }
      }
      .start()
  }
}
