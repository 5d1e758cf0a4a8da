package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale text corpora.
  *
  * Beyond the reference's surface (energy-pandas has no dedup), these are
  * the standard LLM-training-data cleaning passes, each expressed as
  * declarative Column pipelines — no Scala UDFs, everything stays inside
  * whole-stage codegen, and every shuffle is on an explicit key so the
  * plan scales: at 100 TB the exact/minhash/simhash paths are single
  * hash-partitioned shuffles on (hash) / (band, signature); nothing is
  * ever collected to the driver.
  */
object Dedup {

  /** Free every intermediate registered outside any open
    * [[Lineage.scope]] (the root scope) — Bench/Verify and long-lived
    * sessions call it between queries; leaving entries cached is never
    * required for correctness. */
  def releaseIntermediates(): Unit = Lineage.releaseRoot()

  /** Aggregation-partition count from plan-stats bytes: one task per
    * ~4 MB of source, clamped to [defaultParts, 4096]. Pure so both
    * bounds are spec-pinned (OperatorsSpec): `sizeInBytes` on DERIVED
    * inputs (joins/filters multiply stats) can exceed Long range, and a
    * bare `BigInt.toLong` WRAPS — possibly to a negative value —
    * silently collapsing the sizing back to defaultParts exactly when
    * the input is largest. Clamping in BigInt space first makes huge or
    * missing stats (`defaultSizeInBytes` = Long.MaxValue) saturate at
    * the 4096 cap instead. */
  private[graft] def aggPartsFor(statBytes: BigInt, defaultParts: Int): Int =
    math.max(defaultParts, (statBytes / (4L << 20)).min(BigInt(4096)).toInt)

  /** Size the pair-generation stage of a posting-list pair stream by
    * the EXACT number of pairs it will emit. The explode that turns a
    * posting list of m docs into its m·(m−1)/2 pair rows amplifies
    * INSIDE the task, after AQE has already sized reducers by their
    * compact pre-explode input bytes — the 100x probe measured 7.4 GB
    * of hash-agg spill (and a 15x time ratio on a 10x corpus) on the
    * shared-substring family from exactly this blind spot. One
    * single-row action on the (kept, tiny) per-key document-
    * frequency aggregate buys the true fan-out, and the postings are
    * re-bucketed so each task emits roughly `PairTaskBytes` of pairs.
    * Returns the postings unchanged when the session default already
    * suffices (small corpora: no plan churn, no extra exchange). */
  private val PairTaskBytes = 64L << 20
  private def pairStreamParts(eligibleDf: DataFrame,
      dfCol: String): Option[Int] = {
    val twoPairs = Option(eligibleDf
      .agg(sum(col(dfCol) * (col(dfCol) - lit(1)))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val nPairs = twoPairs / 2
    val defaultParts =
      eligibleDf.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.min(4096L, nPairs * 32L / PairTaskBytes).toInt
    if (parts > defaultParts) Some(parts) else None
  }
  private def sizedForPairStream(postings: DataFrame,
      eligibleDf: DataFrame, dfCol: String): DataFrame =
    pairStreamParts(eligibleDf, dfCol)
      .map(postings.repartition(_)).getOrElse(postings)

  /** Exact dedup via content hash: one row per distinct text, keeping the
    * lowest id (deterministic winner). One shuffle keyed by the md5 —
    * uniform 128-bit keys, no skew; map-side partial min/count. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles of `textCol` as an array column — ONE native
    * codegen'd pass over the string's bytes
    * ([[graft.functions.WordShingles]]; each shingle a zero-copy byte
    * slice), replacing the split → transform(sequence) → slice →
    * array_join higher-order pipeline whose per-shingle array copies
    * were the largest slice of the PPJoin wall at bench scale
    * (round-19 profile: shingle materialization ~2.7–4.5 s of a ~9 s
    * operator at sf0.1). Output is bit-identical to the HOF form
    * ([[wordShinglesHof]], kept below and spec-pinned equal). */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftshim.ColumnShim.expression(text),
        n, distinct = false))

  /** [[wordShingles]] with the in-document `array_distinct` folded
    * into the same native pass (first-occurrence order — exactly the
    * `array_distinct(wordShingles(...))` the dedup operators apply). */
  private[graft] def wordShinglesDistinct(text: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftshim.ColumnShim.expression(text),
        n, distinct = true))

  /** The pure-SQL higher-order-function formulation (kept as the
    * portability fallback and the equality oracle for the native
    * kernel's spec). slice+array_join per shingle beats n element_at
    * lookups fused by concat_ws ~2× (measured on the 100-word test
    * docs — the array ops are tight copies, the per-element form pays
    * null checks per word); the native kernel above beats both. */
  private[graft] def wordShinglesHof(text: Column, n: Int): Column = {
    val words = split(text, " ")
    // index i -> words[i..i+n) joined; sequence is empty when too short
    filter(
      transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => when(i + n <= size(words),
          array_join(slice(words, i + 1, lit(n)), " "))),
      x => x.isNotNull)
  }

  /** MinHash signature: for each of `numHashes` seeded permutations, the
    * min of xxhash64(shingle, seed) over the document's shingle set.
    * Computed per-row with higher-order functions — no explode, no
    * shuffle; the signature is an array<long> column. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), seed =>
      array_min(transform(array_distinct(shingles),
        s => xxhash64(s, seed))))

  /** MinHash + LSH banding near-dup candidate pairs: split the signature
    * into `bands` bands of `rowsPerBand`, hash each band, and join
    * documents sharing any band bucket. The band-bucket join is the only
    * shuffle and is keyed by (band, bucket) — at 100 TB this is the
    * textbook banded-LSH layout. Returns candidate pairs (a < b) with the
    * exact signature-agreement fraction (a MinHash estimate of Jaccard).
    *
    * `bucketCap` is the skew guard that keeps the self-join linear in
    * the face of degenerate buckets: a bucket of b docs emits ~b²/2
    * candidate pairs, and a boilerplate passage cloned into millions of
    * documents (or a ubiquitous shingle whose hash is globally minimal
    * for a seed) funnels arbitrarily many docs into ONE bucket — b²
    * with no ceiling. Buckets past the cap are dropped whole: their
    * co-members agree on one 2-row band (J² odds on background
    * similarity), while TRUE near-dups agree on most minima and re-meet
    * in the other bands — the recall gate (q25) stays 1.0 with the cap
    * in place, and the 100x probe corpus (500k docs) measured max
    * bucket 393 / 5.5M total candidates, so the cap is pure insurance
    * there (SCALE.md). Same trade and rationale as `docFreqCap` on the
    * inverted-index paths. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5, bucketCap: Int = 2000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Materialize the banded signatures once: both sides of the candidate
    // self-join read them, and Spark would otherwise recompute the whole
    // scan→shingle→signature pipeline per side (no exchange reuse across a
    // broadcast side). At cluster scale this is "write signatures out,
    // then join" — here persist() is the single-job equivalent (columnar
    // cache; measured 6× faster than localCheckpoint's row-serialized
    // blocks). Released with the caller's Lineage scope after the pairs
    // are consumed.
    // skew guard: window-count per bucket (one shuffle on the join key,
    // whose partitioning the self-join below then reuses) and drop
    // oversized buckets before they can go quadratic
    val banded = Lineage.keep(bandedSignatures(df, textCol, idCol, shingleLen,
      bands, rowsPerBand, Some(bucketCap)))
    val l = banded.select(col("band"), col("bucket"),
      col("id").as("a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("id").as("b"), col("sig").as("sig_b"))
    val pairs = l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          x === y), c => c)) / lit(numHashes.toDouble)).as("est_jaccard"))
      .distinct()
    pairs.where(col("est_jaccard") >= minEstJaccard)
  }

  /** Banded MinHash signatures of a corpus: one row per (doc, band)
    * with the doc's full signature and the band's bucket hash.
    * Signature via explode + ONE hash-aggregate keyed by doc id: the
    * shingle array is built once per doc, and the numHashes mins are
    * codegen'd partial aggregates (the per-row higher-order-function
    * variant recomputes the shingle pipeline per seed — 10× slower).
    * `bucketCap` (when set) drops oversized buckets whole via a
    * window count on the (band, bucket) key the downstream join
    * reuses. */
  private[operators] def bandedSignatures(df: DataFrame, textCol: String,
      idCol: String, shingleLen: Int, bands: Int, rowsPerBand: Int,
      bucketCap: Option[Int]): DataFrame = {
    val numHashes = bands * rowsPerBand
    val exploded = df.select(col(idCol).as("id"),
      explode(wordShinglesDistinct(col(textCol), shingleLen))
        .as("shingle"))
    val sig = exploded.groupBy("id").agg(
      array((0 until numHashes).map(i =>
        min(xxhash64(col("shingle"), lit(i)))): _*).as("sig"))
    val bandedAll = sig.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(array_join(slice(col("sig"),
            b * rowsPerBand + 1, lit(rowsPerBand)), ",")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bucketCap match {
      case None => bandedAll
      case Some(cap) =>
        val bw = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")
        bandedAll.withColumn("__n", count(lit(1)).over(bw))
          .where(col("__n") <= cap).drop("__n")
    }
  }

  /** CROSS-corpus MinHash-LSH near-dup pairs — the incremental-dedup
    * primitive: candidates are (new doc, reference doc) band
    * collisions ONLY, so deduplicating a daily crawl increment against
    * an already-deduplicated data lake costs |new| + |ref| signature
    * passes and a new×ref bucket join — never the ref×ref pair stream
    * that re-running [[minhashLsh]] over the union would pay (the
    * lake's internal near-dups were already resolved; re-pairing them
    * is the quadratic-in-history cost this operator exists to avoid).
    * At 100 TB the ref side's banded signatures are written to a table
    * once and reused every increment; the in-job `kept` persist of
    * the ref side is that contract's single-job equivalent.
    *
    * `bucketCap` bounds the REFERENCE side per (band, bucket) — the
    * same enroll-cap semantics as [[graft.streaming.StreamNearDup]]
    * (store the first cap entries, every new arrival still probes):
    * a boilerplate mega-bucket in the lake caps its stored members,
    * while no new-side doc is ever dropped from probing. Pairs are
    * canonicalized to (a, b) = (min, max) with the same
    * signature-agreement estimate as the self-join operator, so the
    * output is directly comparable to [[minhashLsh]]'s filtered to
    * cross-side pairs. */
  def minhashLshCross(newDf: DataFrame, refDf: DataFrame,
      textCol: String, idCol: String, shingleLen: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5, bucketCap: Int = 2000): DataFrame =
    // the ref side's banded signatures feed exactly ONE consumer (the
    // bucket join) — no persist: caching a single-use frame is pure
    // serialization overhead (measured 14% of this operator's wall at
    // sf0.1, SCALE.md round 13). Cross-increment reuse is the artifact
    // path's job ([[writeBandedSignatures]]), not an in-job cache's.
    crossJoinTail(newDf, bandedSignatures(refDf, textCol, idCol,
        shingleLen, bands, rowsPerBand, Some(bucketCap)),
      textCol, idCol, shingleLen, bands, rowsPerBand, minEstJaccard)

  /** Persist the lake side of the incremental-dedup contract: the
    * reference corpus's banded, bucket-capped MinHash signatures as a
    * parquet table at `path` — job 1 of the two-job shape every
    * [[minhashLshCross]] scaladoc promises ("signatures written to a
    * table once and reused every increment"). Columns (id, sig, band,
    * bucket); the cap is applied AT WRITE (the lake's mega-buckets are
    * truncated once, not per increment). At cluster scale, partition/
    * bucket the output by (band, bucket) so each increment's probe is
    * layout-pruned; a plain parquet write is the single-box contract. */
  def writeBandedSignatures(refDf: DataFrame, textCol: String,
      idCol: String, path: String, shingleLen: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 2, bucketCap: Int = 2000): Unit =
    bandedSignatures(refDf, textCol, idCol, shingleLen, bands,
      rowsPerBand, Some(bucketCap))
      .write.mode("overwrite").parquet(path)

  /** Job 3 of the incremental-dedup contract: fold an increment's
    * SURVIVORS into the signature lake, so the next increment dedups
    * against everything admitted so far — the banded-signature sibling
    * of [[appendContentHashes]], completing the build→dedup→append
    * cycle for the near-dup column. Only the survivors are signed
    * (O(increment) — the lake's text is never touched); the write is
    * an append of new parquet files, no lake-sized compaction.
    *
    * The one thing a blind append would break is `bucketCap`: the cap
    * is the enroll-cap guard against boilerplate mega-buckets going
    * quadratic in the probe join, and it must hold across the lake's
    * LIFETIME, not per batch — cap-per-append grows a mega-bucket by
    * up to `bucketCap` every increment. So the append is count-aware:
    * it reads the lake's per-(band, bucket) occupancy (a
    * column-pruned scan of two int columns — strictly cheaper than
    * the full-artifact probe join every job 2 already pays) and
    * enrolls only the first `bucketCap − stored` survivors per bucket
    * (id ASC — the deterministic analog of
    * [[graft.streaming.StreamNearDup]]'s first-cap-arrivals rule).
    * Capped-out survivors are admitted to the corpus but not
    * enrolled, exactly the streaming gate's semantics. The capped
    * increment is materialized eagerly BEFORE the append because its
    * plan reads `path` (the q198 read-then-write ordering discipline:
    * Spark guards overwrite-into-read but not append-into-read).
    * Parameters must match the write, as for
    * [[minhashLshCrossFromArtifacts]]. */
  def appendBandedSignatures(survivors: DataFrame, textCol: String,
      idCol: String, path: String, shingleLen: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 2, bucketCap: Int = 2000): Unit = {
    val cut = Lineage.cut(cappedAppendSignatures(survivors, textCol,
      idCol, LakeRead.parquet(survivors.sparkSession, path), shingleLen,
      bands, rowsPerBand, bucketCap))
    cut.write.mode("append").parquet(path)
    Lineage.free(cut)
  }

  /** The append's enrollment plan, exposed for the plan-shape spec:
    * the lake contributes ONLY a per-(band, bucket) occupancy count —
    * the spec pins that its scan is column-pruned to those two int
    * columns (never id/sig, and never any text source). */
  private[graft] def cappedAppendSignatures(survivors: DataFrame,
      textCol: String, idCol: String, storedSigs: DataFrame,
      shingleLen: Int, bands: Int, rowsPerBand: Int,
      bucketCap: Int): DataFrame = {
    val stored = storedSigs.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__stored"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy(col("id").asc)
    bandedSignatures(survivors, textCol, idCol, shingleLen,
        bands, rowsPerBand, None)
      .join(stored, Seq("band", "bucket"), "left")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= lit(bucketCap.toLong) -
        coalesce(col("__stored"), lit(0L)))
      .select(col("id"), col("sig"), col("band"), col("bucket"))
  }

  /** Jobs 2+3 of the near-dup lake contract FUSED — the steady-state
    * increment step: sign the increment ONCE, dedup it against the
    * lake artifact, fold the survivors' already-computed signatures
    * back in, and return the survivors. The two-job composition
    * ([[minhashLshCrossFromArtifacts]] then
    * [[appendBandedSignatures]]) signs every increment twice — once to
    * probe, once to append — which the 100× lake fold-in cycle
    * (SCALE.md round 13) measured at ~40% of the append's wall; here
    * the banded rows are persisted across both consumers (a justified
    * multi-consumer persist, unlike the single-use ones round 13
    * removed). Results
    * are spec-pinned identical to the two-job path: same survivors,
    * same lake contents, same lifetime `bucketCap` accounting.
    * SIDE-EFFECTING (the append); the returned survivors frame is
    * eagerly materialized, as it must be — its plan reads the
    * directory the append writes into (the q198 ordering discipline).
    * Removal rule: a new doc is removed iff it band-collides with any
    * lake member at `minEstJaccard` signature agreement — exactly the
    * new-side pair set of job 2. */
  def minhashLshLakeStep(newDf: DataFrame, textCol: String,
      idCol: String, path: String, shingleLen: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 2, minEstJaccard: Double = 0.5,
      bucketCap: Int = 2000): DataFrame = {
    val (survivors, fold) = minhashLshLakeStepDeferred(newDf,
      LakeRead.parquet(newDf.sparkSession, path), textCol, idCol, path,
      org.apache.spark.sql.SaveMode.Append, shingleLen, bands,
      rowsPerBand, minEstJaccard, bucketCap)
    fold()
    survivors
  }

  /** The fused step against an EXPLICIT visible-state frame, folding
    * into an EXPLICIT target directory, with the signature fold-in
    * returned as a deferred thunk — the micro-batch form used by
    * [[graft.streaming.StreamLakeIngest]], where the signature lake is
    * a directory of per-increment subdirectories: the caller passes
    * the union of every increment EXCEPT the current one as `refSigs`
    * and this batch's own subdirectory as `writePath` with Overwrite,
    * so replaying a failed micro-batch recomputes from the same
    * visible state and rewrites its own contribution instead of
    * appending a duplicate (exactly-once without a transaction log).
    * [[minhashLshLakeStep]] runs it with (flat read of `path`, `path`,
    * Append) and folds at once. The thunk reads the survivors' cut
    * blocks and the step's kept banded rows, so both must stay live
    * until it completes — they belong to the caller's
    * [[Lineage.scope]]; see [[exactLakeStepDeferred]].
    *
    * `dedupWithinIncrement` additionally removes WITHIN-increment
    * near-dups (larger id of every banded pair at `minEstJaccard` —
    * pair-based, so a removed doc still removes its own later dups,
    * the q207 chain rule) from the SAME banded rows — no second
    * signing pass. The cross-only default matches the batch cycles
    * (q200/q203), whose increments are pre-deduped corpus thirds; a
    * micro-batch from a live stream has no such guarantee. */
  private[graft] def minhashLshLakeStepDeferred(newDf: DataFrame,
      refSigs: DataFrame, textCol: String, idCol: String,
      writePath: String, writeMode: org.apache.spark.sql.SaveMode,
      shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5, bucketCap: Int = 2000,
      dedupWithinIncrement: Boolean = false)
      : (DataFrame, () => Unit) = {
    require(refSigs.columns.toSet == Set("id", "sig", "band", "bucket"),
      "refSigs must hold a writeBandedSignatures table " +
        s"(id, sig, band, bucket); got ${refSigs.columns.mkString(",")}")
    val numHashes = bands * rowsPerBand
    val bn = Lineage.keep(bandedSignatures(newDf, textCol, idCol, shingleLen,
      bands, rowsPerBand, None))
    val crossRemoved = bandedCrossRaw(bn, refSigs, numHashes)
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("n_id").as(idCol)).distinct()
    val removed =
      if (!dedupWithinIncrement) crossRemoved
      else crossRemoved.unionByName(
        bn.select(col("band"), col("bucket"), col("id").as("wa"),
            col("sig").as("sa"))
          .join(bn.select(col("band"), col("bucket"),
            col("id").as("wb"), col("sig").as("sb")),
            Seq("band", "bucket"))
          .where(col("wa") < col("wb"))
          .where(size(filter(zip_with(col("sa"), col("sb"),
              (x, y) => x === y), c => c)) / lit(numHashes.toDouble)
            >= minEstJaccard)
          .select(col("wb").as(idCol)).distinct()).distinct()
    val survivors = Lineage.cut(
      newDf.join(removed, Seq(idCol), "left_anti"))
    // fold-in from the SAME banded rows: semi-join to survivors, then
    // the appendBandedSignatures occupancy accounting verbatim
    val stored = refSigs.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__stored"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy(col("id").asc)
    val capped = bn
      .join(survivors.select(col(idCol).as("id")), Seq("id"),
        "left_semi")
      .join(stored, Seq("band", "bucket"), "left")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= lit(bucketCap.toLong) -
        coalesce(col("__stored"), lit(0L)))
      .select(col("id"), col("sig"), col("band"), col("bucket"))
    (survivors, () => {
      val cut = Lineage.cut(capped)
      cut.write.mode(writeMode).parquet(writePath)
      Lineage.free(cut)
    })
  }

  /** Job 2 of the incremental-dedup contract: dedup an increment
    * against a PRE-BUILT signature table ([[writeBandedSignatures]]'s
    * output, loaded by the caller) — the lake is never re-shingled or
    * re-signed; only the increment pays a signature pass, and the
    * candidate join reads the artifact directly. `bands`/`rowsPerBand`/
    * `shingleLen` must match the write — a mismatch changes bucket
    * hashes and the increment probes nothing (store the parameters
    * beside the table in production). Output and semantics identical
    * to [[minhashLshCross]] with the same parameters. */
  def minhashLshCrossFromArtifacts(newDf: DataFrame, refSigs: DataFrame,
      textCol: String, idCol: String, shingleLen: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(refSigs.columns.toSet == Set("id", "sig", "band", "bucket"),
      "refSigs must be a writeBandedSignatures table " +
        s"(id, sig, band, bucket); got ${refSigs.columns.mkString(",")}")
    crossJoinTail(newDf, refSigs, textCol, idCol, shingleLen, bands,
      rowsPerBand, minEstJaccard)
  }

  /** Shared tail of the cross-corpus joins: sign the increment, probe
    * the (band, bucket) index, estimate Jaccard from full-signature
    * agreement, canonicalize pairs. */
  private[operators] def crossJoinTail(newDf: DataFrame, refBanded: DataFrame,
      textCol: String, idCol: String, shingleLen: Int, bands: Int,
      rowsPerBand: Int, minEstJaccard: Double): DataFrame = {
    val bn = bandedSignatures(newDf, textCol, idCol, shingleLen, bands,
      rowsPerBand, None)
    bandedCrossRaw(bn, refBanded, bands * rowsPerBand)
      .select(least(col("n_id"), col("r_id")).as("a"),
        greatest(col("n_id"), col("r_id")).as("b"), col("est_jaccard"))
      .distinct()
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** The probe join on an ALREADY-banded new side, sides kept apart
    * ((n_id, r_id), not canonicalized) — shared by [[crossJoinTail]]
    * and the fused [[minhashLshLakeStep]], which needs the new-side
    * ids and reuses the banded rows for the fold-in. */
  private[operators] def bandedCrossRaw(bn: DataFrame,
      refBanded: DataFrame, numHashes: Int): DataFrame =
    bn.select(col("band"), col("bucket"), col("id").as("n_id"),
        col("sig").as("sig_n"))
      .join(refBanded.select(col("band"), col("bucket"),
        col("id").as("r_id"), col("sig").as("sig_r")),
        Seq("band", "bucket"))
      .where(col("n_id") =!= col("r_id"))
      .select(col("n_id"), col("r_id"),
        (size(filter(zip_with(col("sig_n"), col("sig_r"), (x, y) =>
          x === y), c => c)) / lit(numHashes.toDouble)).as("est_jaccard"))

  /** Job 1 of the EXACT-dedup lake contract: write the distinct content
    * hashes of the reference corpus as the lake artifact. One 16-byte
    * md5 per distinct document is the cheapest possible dedup state —
    * a 100-billion-doc lake is ~3 TB of hashes, a routine parquet
    * table — built with one map-side-combinable distinct and never
    * rebuilt per increment. The exact sibling of
    * [[writeBandedSignatures]] (near-dup) and
    * `Similarity.writeSemDedupArtifacts` (semantic), completing the
    * incremental-dedup matrix's exact column. */
  def writeContentHashes(refDf: DataFrame, textCol: String,
      path: String): Unit =
    refDf.select(md5(col(textCol)).as("h")).distinct()
      .write.mode("overwrite").parquet(path)

  /** Append an increment's surviving content hashes to the lake —
    * job 3 of the cycle (build lake → dedup increment → fold survivors
    * in), so the NEXT increment dedups against everything admitted so
    * far. Duplicate hashes across append batches are harmless (the
    * probe is an anti-join; multiplicity never changes its result), so
    * appends need no read-modify-write — a blind O(increment) write
    * with no lake-sized compaction on the ingest path. */
  def appendContentHashes(survivors: DataFrame, textCol: String,
      path: String): Unit =
    survivors.select(md5(col(textCol)).as("h")).distinct()
      .write.mode("append").parquet(path)

  /** Job 2 of the EXACT-dedup lake contract: exact-dedup an increment
    * against the lake artifact — keep the first occurrence by id of
    * each content hash WITHIN the increment, minus anything whose hash
    * is already in the lake. Returns the increment's surviving rows
    * with their original schema. Two hash-keyed linear shuffles (a
    * min-id aggregate and an anti join, both on the 16-byte hash); the
    * lake side is hashes only and is never re-read as text. The exact
    * twin of [[minhashLshCrossFromArtifacts]]. */
  def exactCrossFromArtifacts(newDf: DataFrame, refHashes: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    require(refHashes.columns.toSet == Set("h"),
      "refHashes must be a writeContentHashes table (h); " +
        s"got ${refHashes.columns.mkString(",")}")
    val withH = newDf.withColumn("__h", md5(col(textCol)))
    val keep = withH.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__keep_id"))
      .join(refHashes.select(col("h").as("__h")), Seq("__h"),
        "left_anti")
    withH.join(keep, Seq("__h"))
      .where(col(idCol) === col("__keep_id"))
      .drop("__h", "__keep_id")
  }

  /** Jobs 2+3 of the EXACT lake contract fused for the micro-batch
    * layout: dedup the increment against the caller-assembled visible
    * hash lake and return the survivors eagerly materialized, with the
    * write of the SURVIVORS' hashes to `foldDir` (Overwrite — an
    * increment-owned subdirectory, so replaying the same micro-batch
    * rewrites its own contribution; see [[minhashLshLakeStepDeferred]]
    * for the exactly-once argument) returned as a DEFERRED thunk — the
    * streamed chain overlaps it with the next stage's compute (guide
    * §2.6). The thunk reads the returned survivors' materialized
    * blocks: it MUST complete before the caller frees them. */
  private[graft] def exactLakeStepDeferred(newDf: DataFrame,
      refHashes: DataFrame, textCol: String, idCol: String,
      foldDir: String): (DataFrame, () => Unit) = {
    val survivors = Lineage.cut(
      exactCrossFromArtifacts(newDf, refHashes, textCol, idCol))
    (survivors,
      () => survivors.select(md5(col(textCol)).as("h")).distinct()
        .write.mode("overwrite").parquet(foldDir))
  }

  /** SimHash fingerprint: 64-bit signature where bit i is the sign of the
    * sum over shingles of (+1 if bit i of xxhash64(shingle) set else -1).
    * Expressed with aggregate/transform over the shingle array — per-row,
    * shuffle-free. */
  def simhash(shingles: Column): Column = {
    // shiftleft/shiftright take a literal Int in the Scala DSL; the SQL
    // builtins accept a column shift amount, reached via call_function
    def shr(x: Column, n: Column) = call_function("shiftright", x, n)
    def shl(x: Column, n: Column) = call_function("shiftleft", x, n)
    val bitVotes = aggregate(
      array_distinct(shingles),
      array_repeat(lit(0L), 64),
      (acc, s) => {
        val h = xxhash64(s)
        zip_with(acc, sequence(lit(0), lit(63)), (a, i) =>
          a + when(shr(h, i).bitwiseAND(lit(1L)) === lit(1L),
            lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(bitVotes, sequence(lit(0), lit(63)), (v, i) =>
        when(v > 0, shl(lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs with MULTI-BAND blocking: the 64-bit
    * signature is split into `bands` equal bands, candidates are pairs
    * sharing ANY band (the standard Hamming-space LSH: a pair within
    * `maxHamming` of each other has a good chance — and, when
    * maxHamming < bands, a guarantee — of agreeing on a whole band),
    * then exact Hamming distance filters within candidates. A single
    * (band, value) equi-join; one-prefix blocking loses every pair whose
    * disagreement touches the prefix. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, bands: Int = 4, maxHamming: Int = 8,
      blockCap: Int = 2000): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    // Same explode + hash-aggregate shape as minhashLsh: 64 codegen'd
    // sum(±1) bit votes per doc id, then one projection assembles the
    // 64-bit signature from the vote signs.
    val exploded = df.select(col(idCol).as("id"),
        explode(wordShinglesDistinct(col(textCol), shingleLen))
          .as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    val voteCols = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === lit(1L),
        lit(1L)).otherwise(lit(-1L))).as(s"v$i"))
    val votes = exploded.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
    // persisted for the same self-join-recompute reason (and with the
    // same release path) as minhashLsh
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val sig = votes.select(col("id"),
      (0 until 64).map(i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)).as("sim"))
    // same skew guard as minhashLsh's bucketCap: a band value shared by
    // b docs emits ~b²/2 candidates, and narrow bands (64/bands bits)
    // make crowded values likely at corpus scale — drop oversized
    // blocks; true near-dups re-meet in their other bands
    val blockedAll = sig.select(col("id"), col("sim"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          call_function("shiftrightunsigned", col("sim"), b * lit(bandBits))
            .bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "block")
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "block")
    val blocked = Lineage.keep(blockedAll
      .withColumn("__n", count(lit(1)).over(bw))
      .where(col("__n") <= blockCap).drop("__n"))
    val l = blocked.select(col("band"), col("block"),
      col("id").as("a"), col("sim").as("sim_a"))
    val r = blocked.select(col("band"), col("block"),
      col("id").as("b"), col("sim").as("sim_b"))
    l.join(r, Seq("band", "block")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct() // a pair may collide in several bands
      .where(col("hamming") <= maxHamming)
  }

  /** Exact shared-substring pairs: documents sharing at least one exact
    * character window of `windowLen` (the "substring duplication" signal
    * of training-data dedup — catches copied passages inside otherwise
    * distinct documents, which token-level Jaccard dilutes away). Keyed
    * by the 128-bit rolling hash of each distinct window: one explode, a
    * df-cap semi-join, a window-keyed pair JOIN, and a (a, b) count —
    * reports how many distinct windows each pair shares.
    *
    * Pair generation is a shuffle-HASH self-join on the window key, NOT
    * a posting-list `collect_list` + explode: character windows are far
    * denser than word shingles (~one per codepoint), so at 100× the
    * posting build put millions of small lists through
    * ObjectHashAggregate's sort-based fallback — 3.6 GB of graceful but
    * real spill (SCALE.md round 9). The join form never materializes a
    * list: matching rows stream straight out of the per-partition hash
    * table into the map-side-combinable (a, b) count. Both sides are
    * explicitly hash-repartitioned by `w` into a partition count sized
    * by the EXACT pair fan-out (see [[pairStreamParts]] — AQE sizes
    * reducers by pre-join bytes and cannot see the in-task pair
    * amplification), the persisted repartition is computed once and
    * read twice, and the SHUFFLE_HASH hint keeps the sort out of the
    * plan (a sort-merge self-join would sort the full window index
    * twice — the exact cost this shape exists to avoid). Per-partition
    * hash-table state is input-rows/parts, bounded; per-key fan-out is
    * bounded by `docFreqCap`. */
  def sharedSubstringPairs(df: DataFrame, textCol: String, idCol: String,
      windowLen: Int = 50, minShared: Int = 1, docFreqCap: Int = 1000)
      : DataFrame = {
    // distinct windows per doc via the O(len) rolling-hash scan (see
    // [[windowHashes]] — replaced md5-per-window, same equality wager);
    // docs shorter than the window yield no rows by construction
    // the 128-bit window key rides as TWO flat long columns, never the
    // struct: struct grouping keys route Spark to ObjectHashAggregate,
    // whose 128-distinct-keys-per-partial sort fallback spilled 3.6 GB
    // at the 100x probe on this df-count; flat primitive keys keep the
    // whole chain in codegen'd HashAggregate / shuffled hash joins
    val inverted = Lineage.keep(windowHashes(df, textCol, idCol, windowLen)
      .select(col("id"), col("w.h1").as("h1"), col("w.h2").as("h2")))
    // size the df-count aggregation by the SCAN size: window keys are
    // singleton-dominated, so partial aggregation combines nothing and
    // its per-task hash map holds ~rows/partitions keys — at the 100x
    // probe that was 11M keys (500 MB) per scan partition and spilled
    // gigabytes. Re-keying the stream so each task holds a bounded key
    // set fixes it (more tasks, not bigger maps, is the scale
    // dimension). Rows ≈ text chars ≥ source bytes, so plan stats give
    // a free, conservative size signal (no extra count job): one
    // aggregation task per ~4 MB of source ≈ ≤1M windows per task even
    // at 4x parquet text compression, a ~50 MB map.
    val statBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val defaultParts =
      df.sparkSession.sessionState.conf.numShufflePartitions
    val aggParts = aggPartsFor(statBytes, defaultParts)
    val eligibleDf = Lineage.keep(inverted
      .repartition(aggParts, col("h1"), col("h2"))
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= docFreqCap))
    val eligible = eligibleDf.select(col("h1"), col("h2"))
    val base = inverted.join(eligible.hint("SHUFFLE_HASH"),
      Seq("h1", "h2"), "left_semi")
    val sized = Lineage.keep(pairStreamParts(eligibleDf, "__df")
      .map(p => base.repartition(p, col("h1"), col("h2"))).getOrElse(base))
    val l = sized.select(col("h1"), col("h2"), col("id").as("a"))
    val r = sized.select(col("h1"), col("h2"), col("id").as("b"))
    // the pair list itself is kept: like the CC label tables, it is
    // the unit every consumer fans out over (component grouping,
    // leakage audits, keep/drop filters), and it is orders of magnitude
    // smaller than the window stream that produced it — caching caps
    // the expensive candidate join at one evaluation per pipeline
    Lineage.keep(l.join(r.hint("SHUFFLE_HASH"), Seq("h1", "h2"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared))
  }

  /** Edit-distance near-dup pairs under blocked candidate generation:
    * candidates must share a (⌊full-length / bandWidth⌋, first-anchorLen-
    * chars) block before the O(prefixLen²) `levenshtein` kernel runs on
    * their `prefixLen`-char heads — the classic prefix-anchor blocking
    * heuristic for copied-with-small-edits detection (documents that
    * diverge in their first `anchorLen` characters are out of scope BY
    * DESIGN; use [[minhashLsh]] for order-insensitive recall). The
    * length-difference pre-filter is free (|len(a)−len(b)| ≤ d is a lower
    * bound on edit distance) and prunes before the quadratic kernel.
    * Blocks larger than `blockCap` are dropped whole — the same skew
    * guard as the posting-list caps: one boilerplate head shared by m
    * docs would otherwise emit m²/2 kernel calls. One shuffle to block,
    * one equi-join on the block key; no cartesian anywhere. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 5, prefixLen: Int = 64, bandWidth: Int = 8,
      anchorLen: Int = 8, blockCap: Int = 1000): DataFrame = {
    val base = Lineage.keep(df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("p"),
      expr(s"length($textCol) div $bandWidth").as("band"),
      substring(col(textCol), 1, anchorLen).as("anchor")))
    val eligible = base.groupBy("band", "anchor")
      .agg(count(lit(1)).as("__m"))
      .where(col("__m") >= 2 && col("__m") <= blockCap)
      .select(col("band"), col("anchor"))
    val blocked = base.join(eligible, Seq("band", "anchor"), "left_semi")
    val l = blocked.select(col("band"), col("anchor"), col("id").as("a"),
      col("p").as("pa"))
    val r = blocked.select(col("band"), col("anchor"), col("id").as("b"),
      col("p").as("pb"))
    l.join(r, Seq("band", "anchor"))
      .where(col("a") < col("b"))
      .where(abs(length(col("pa")) - length(col("pb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
  }

  /** Per-document sentence-level duplication stats: the fraction of a
    * document's distinct sentences that also appear (verbatim, after
    * trim) in at least one OTHER document — the "boilerplate share"
    * signal sentence-split dedup pipelines key on. Shape: explode to
    * (doc, sentence-hash) distinct pairs, one count per hash (document
    * frequency), one grouped roll-up per doc — two shuffles, both keyed
    * fine-grained (hash, then doc id), no joins against raw text. */
  def duplicateSentenceStats(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val sentences = df.select(col(idCol).as("id"),
        explode(split(col(textCol), "[.!?]+")).as("s"))
      .select(col("id"), trim(col("s")).as("s"))
      .where(length(col("s")) > 0)
      .select(col("id"), md5(col("s")).as("h"))
      .distinct()
    val dfreq = sentences.groupBy("h")
      .agg(count(lit(1)).as("__df"))
    sentences.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum((col("__df") >= 2).cast("long")).as("n_shared"),
        round(sum((col("__df") >= 2).cast("long")).cast("double") /
          count(lit(1)).cast("double"), 6).as("shared_frac"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández–Stolfo): sort the
    * corpus by a normalized blocking key, slide a `window`-wide rank
    * window, and emit the in-window pairs that pass the edit-distance
    * kernel. The complementary blocking strategy to
    * [[editDistancePairs]]'s anchor equality — near-dups whose keys sort
    * adjacently are caught even when no exact prefix/band matches. Rank
    * comes from `Analytics.distributedRank` (a single-partition window
    * for a corpus below the broadcast threshold, the distributed sort +
    * zipWithIndex above it); the rank-window self-join
    * runs as an equi-join on ⌊rank/window⌋ buckets (each left row probes
    * its own and the next bucket — every |Δrank| < window pair falls in
    * one of the two), so the plan is two shuffles and no cartesian. */
  def sortedNeighborhoodPairs(df: DataFrame, textCol: String,
      idCol: String, window: Int = 10, keyLen: Int = 30,
      prefixLen: Int = 64, maxDist: Int = 20): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      lower(trim(substring(col(textCol), 1, keyLen))).as("sk"),
      substring(col(textCol), 1, prefixLen).as("p"))
    val ranked = Analytics.distributedRank(base,
      Seq(col("sk").asc, col("id").asc))
    val left = ranked.select(col("rank").as("ra"), col("id").as("a"),
        col("p").as("pa"))
      .withColumn("__b", explode(array(expr(s"ra div $window"),
        expr(s"ra div $window") + 1)))
    val right = ranked.select(expr(s"rank div $window").as("__b"),
      col("rank").as("rb"), col("id").as("b"), col("p").as("pb"))
    left.join(right, "__b")
      .where(col("rb") > col("ra") && col("rb") < col("ra") + window)
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"),
        (col("rb") - col("ra")).cast("long").as("rank_dist"),
        col("dist").cast("long").as("dist"))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03) — the scale path
    * for substring-level dedup: hash every k-char gram, then keep only
    * the MINIMUM hash of each sliding window of w grams. Any substring
    * shared by two documents of length ≥ w + k − 1 still contributes a
    * shared fingerprint (the guarantee [[sharedSubstringPairs]] gets by
    * indexing EVERY window), but the index stores ~2/(w+1) of the grams —
    * at 100 TB that is the difference between indexing the corpus and
    * indexing an eighth of it. Downstream shape is identical: df-capped
    * posting lists, generator pair streaming, (a, b) counts. */
  def winnowedFingerprintPairs(df: DataFrame, textCol: String,
      idCol: String, k: Int = 16, w: Int = 8, minShared: Int = 1,
      docFreqCap: Int = 1000): DataFrame = {
    val n = length(col(textCol))
    val grams = when(n >= k,
      transform(sequence(lit(1), n - (k - 1)),
        i => md5(col(textCol).substr(i, lit(k)))))
      .otherwise(array().cast(ArrayType(StringType)))
    // the gram array is materialized (kept) BEFORE the winnow pass:
    // referencing an aliased pipeline column inside an HOF lambda
    // re-evaluates it per element — O(n²) md5 calls without the cache
    val withGrams = Lineage.keep(df.select(col(idCol).as("id"), grams.as("g")))
    val fps = Lineage.keep(withGrams.select(col("id"),
      when(size(col("g")) >= w,
        array_distinct(transform(sequence(lit(1), size(col("g")) - (w - 1)),
          j => array_min(slice(col("g"), j, lit(w))))))
        .otherwise(array().cast(ArrayType(StringType))).as("fps")))
    val inverted = fps.select(col("id"), explode(col("fps")).as("fp"))
    val eligibleDf = Lineage.keep(inverted.groupBy("fp")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= docFreqCap))
    val eligible = eligibleDf.select(col("fp"))
    val postings = sizedForPairStream(
      inverted.join(eligible, Seq("fp"), "left_semi")
        .groupBy("fp").agg(array_sort(collect_list(col("id"))).as("ds")),
      eligibleDf, "__df")
    val pairs = postings
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("b"))
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Benchmark decontamination: training documents sharing an exact
    * character window with any document of a (small) evaluation/benchmark
    * set — the standard "n-gram overlap" contamination check run before
    * training. The benchmark side's window set is tiny by construction,
    * so the probe is a broadcast semi-join against the training corpus's
    * window stream: ONE pass over the training data, no self-join.
    * Returns (train id, n_contaminated_windows). */
  def contaminatedDocs(train: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, windowLen: Int = 50): DataFrame = {
    val benchWindows = windowHashes(bench, textCol, idCol, windowLen)
      .select(col("w")).distinct()
    windowHashes(train, textCol, idCol, windowLen)
      .join(broadcast(benchWindows), Seq("w"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_contaminated_windows"))
  }

  /** Write the benchmark's distinct window-hash set as a lake artifact
    * — the decontamination analog of [[writeContentHashes]]: the
    * benchmark is hashed ONCE at lake-build time and every later
    * increment probes the stored hashes, never the benchmark text.
    * `windowLen` must match the probe (store it beside the table in
    * production). */
  def writeBenchWindows(bench: DataFrame, textCol: String,
      idCol: String, path: String, windowLen: Int = 50): Unit =
    windowHashes(bench, textCol, idCol, windowLen)
      .select(col("w")).distinct()
      .write.mode("overwrite").parquet(path)

  /** [[contaminatedDocs]] against a PRE-BUILT window artifact
    * ([[writeBenchWindows]]'s output, loaded by the caller): one pass
    * over the increment's window stream, broadcast semi-join against
    * the stored set. Returns (train id, n_contaminated_windows). */
  def contaminatedDocsFromArtifact(train: DataFrame,
      refWindows: DataFrame, textCol: String, idCol: String,
      windowLen: Int = 50): DataFrame = {
    require(refWindows.columns.toSet == Set("w"),
      "refWindows must be a writeBenchWindows table (w); " +
        s"got ${refWindows.columns.mkString(",")}")
    windowHashes(train, textCol, idCol, windowLen)
      .join(broadcast(refWindows), Seq("w"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_contaminated_windows"))
  }

  /** One row per distinct `windowLen`-codepoint window of each doc,
    * keyed by the 128-bit rolling hash ([[graft.functions
    * .RollingWindowHashes]]). Replaces the md5-per-window formulation —
    * O(len · windowLen) digest work and a string allocation per window
    * — with one O(len) pass; only hash EQUALITY is consumed, so the
    * results are identical to the md5 (or raw-substring) window sets
    * short of a 128-bit collision, the same wager md5 made. */
  private[operators] def windowHashes(df: DataFrame, textCol: String,
      idCol: String, windowLen: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.functions.RollingWindowHashes(
          org.apache.spark.sql.graftshim.ColumnShim.expression(col(textCol)),
          windowLen))).as("w"))

  /** Connected components over near-duplicate pairs — turns pairwise
    * dedup output into dedup GROUPS: one canonical id (the minimum
    * reachable id) per set of transitively-linked documents, which is
    * what a curation pipeline actually keys on ("keep one doc per
    * group"), since near-duplication is not transitive pair-by-pair.
    *
    * Hash-min label propagation (the Pregel-style CC used at web scale):
    * label(v) ← min(label(v), min of neighbors' labels), iterated. Each
    * iteration is ONE hash shuffle keyed by vertex; rounds needed = the
    * graph diameter, and near-dup graphs are shallow (boilerplate groups
    * are quasi-cliques, diameter 1–2). Convergence is detected with a
    * scalar action per round — the label sum, which strictly decreases
    * until the fixpoint (labels only ever decrease) — so no extra join.
    * For adversarial long-chain graphs, the large-star/small-star
    * variant halves the diameter per round; not needed for dedup shapes.
    *
    * @return (id, component) for every vertex appearing in `pairs`
    *         (callers left-join the full corpus and default `component`
    *         to the doc's own id for singletons) */
  def duplicateComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    // materialize the pair stream ONCE before fanning it out: the
    // symmetrize-union below reads `pairs` from two plan branches, and
    // upstream pair generation (a PPJoin candidate join, say) is far
    // too expensive to evaluate per branch — cache-population races
    // between sibling scans in one job would still double-compute it,
    // so an explicit count() pins the cache in a single sequential job
    val p = Lineage.keep(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    p.count()
    // eager lineage CUT (not bare persist): every round's plan embeds
    // its inputs' logical plans, so with a heavyweight pair pipeline
    // (PPJoin) as the leaf and labels_k = f(labels_{k-1}, edges), bare
    // persist still grows the analyzed tree exponentially — round 3 was
    // measured at 59 s of pure DRIVER analysis over 512 edges. Cutting
    // edges and each round's labels keeps the per-round plan O(1).
    val edges = Lineage.cut(p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // label sum as the convergence scalar — exact decimal accumulation so
    // 64-bit ids can never wrap the sum into a false fixpoint; an empty
    // vertex set (no pairs at all) sums to null → zero, converging
    // immediately
    def labelSum(d: DataFrame): java.math.BigDecimal = {
      val s = d.agg(sum(col("component").cast(DecimalType(38, 0))))
        .head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var labels = Lineage.cut(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("component"))
      val next = Lineage.cut(labels.union(prop).groupBy("id")
        .agg(min(col("component")).as("component")))
      val nextSum = labelSum(next)
      // Lineage.free, not unpersist: cut frames' blocks live on the
      // checkpointed RDD, invisible to CacheManager; `next` is already
      // materialized (cut is eager), so the superseded round is dead
      Lineage.free(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SOCC'14) — the variant that converges in O(log²) rounds on
    * ANY graph shape, where plain hash-min label propagation needs
    * diameter-many rounds. Use this when duplicate graphs can chain
    * (translation chains, quote-of-quote threads); [[duplicateComponents]]
    * stays the default for the shallow quasi-clique graphs dedup usually
    * produces.
    *
    * Each half-round is one aggregation (per-node min neighbor) plus one
    * equi-join — no neighborhood collect_list anywhere, so a hot node
    * (boilerplate hub) never materializes its adjacency in one buffer.
    * Edges stay canonical (lo < hi) and distinct between rounds.
    * Convergence = the (count, Σsrc, Σdst) triple of the edge set is
    * unchanged over a full round (decimal sums — exact at any id width);
    * equivalence to hash-min is property-tested on random graphs.
    *
    * @return (id, component) for every vertex appearing in `pairs` */
  def duplicateComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    val a = col(aCol); val b = col(bCol)
    // same materialize-once discipline as [[duplicateComponents]]: the
    // node set reads `pairs` twice and the initial edge canon a third
    // time — one count() makes pair generation a single job
    val p = Lineage.keep(pairs.select(a.as("__pa"), b.as("__pb")))
    p.count()
    val pa = col("__pa"); val pb = col("__pb")
    val nodes = Lineage.keep(p.select(pa.as("id"))
      .union(p.select(pb.as("id"))).distinct())
    def canon(d: DataFrame): DataFrame = d.distinct()
    // pair-sensitive set fingerprint: Σ xxhash64(lo, hi) distinguishes
    // edge sets that linear sums confuse ({(1,4),(2,3)} vs {(1,3),(2,4)}
    // share count/Σlo/Σhi but not Σhash); decimal sum is overflow-free
    def checksum(d: DataFrame): (Long, java.math.BigDecimal) = {
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("lo"), col("hi")).cast(DecimalType(38, 0)))).head()
      def z(x: java.math.BigDecimal) =
        if (x == null) java.math.BigDecimal.ZERO else x
      (r.getLong(0), z(r.getDecimal(1)))
    }
    // each round reads the previous round's edges from THREE plan
    // branches, so bare persist would still grow the logical plan ~3× per
    // round (exponential treeString, driver OOM): the eager Lineage.cut
    // materializes AND truncates lineage (reliable-checkpoint mode via
    // spark.graft.checkpoint.reliable for executor-loss safety).
    var edges = Lineage.cut(canon(p.select(least(pa, pb).as("lo"),
        greatest(pa, pb).as("hi")).where(col("lo") =!= col("hi"))))
    var prev = checksum(edges)
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: every node's strictly-larger neighbors re-attach to
      // the minimum of its closed neighborhood (m <= u < v, so the new
      // edge (m, v) is canonical by construction)
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = sym.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      val large = canon(sym.join(lmin, "u").where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")))
      // small-star: per larger-endpoint neighborhood N (all smaller), the
      // non-min members and the center itself attach to m = min(N) < all
      val smin = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val joined = large.join(smin, "hi")
      val small = Lineage.cut(canon(
        joined.where(col("lo") =!= col("m"))
          .select(col("m").as("lo"), col("lo").as("hi"))
        .union(joined.select(col("m").as("lo"), col("hi")))))
      val cur = checksum(small)
      // Lineage.free (see duplicateComponents): reclaims the superseded
      // round's checkpoint blocks/files, which unpersist cannot
      Lineage.free(edges)
      edges = small
      converged = cur == prev
      prev = cur
      i += 1
    }
    // at the fixpoint the edge set is a union of stars (component-min →
    // member); min() guards the not-yet-converged maxIters exit
    val labels = nodes.join(edges, nodes("id") === edges("hi"), "left")
      .groupBy(col("id")).agg(min(col("lo")).as("__p"))
      .select(col("id"), coalesce(col("__p"), col("id")).as("component"))
    labels
  }

  /** Exact word-n-gram Jaccard pairs via prefix filtering (the
    * PPJoin-family candidate generation: Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08). Index only
    * each document's `n - ⌈t·n⌉ + 1` globally-RAREST shingles: any pair
    * with J ≥ t must share a prefix shingle (pigeonhole over the
    * canonical (df, shingle) order), so candidate generation touches a
    * small slice of the index — and hot boilerplate shingles, which rank
    * LAST in rarity order, almost never enter a prefix. The skew that
    * [[ngramJaccardPairs]]'s docFreqCap handles by EXCLUDING shingles is
    * handled here by construction with no semantic change: at the
    * default cap (none) the result is the full true-Jaccard pair set.
    * Verification computes exact |∩| via array_intersect of the two
    * (bounded, per-doc) shingle arrays.
    *
    * `docFreqCap` (optional) reproduces [[ngramJaccardPairs]]'s capped
    * semantics EXACTLY — shingles with df > cap are excluded from the
    * intersection while na/nb stay the FULL distinct counts — so the
    * two operators are interchangeable inside a pipeline whose oracle
    * mirrors the cap. Under a cap the per-doc KEPT list (df ≤ cap,
    * global rarity order) replaces the full list for prefixes,
    * positions, and verification arrays; the prefix length becomes
    * |kept| − ⌈t·n⌉ + 1 (capped overlap O ≥ ⌈t·n⌉ still holds — the
    * pass condition O/(na+nb−O) ≥ t with O ≤ min(kept) implies both
    * length bounds — so the pigeonhole argument goes through on the
    * kept lists; a doc whose kept list is shorter than ⌈t·n⌉ can never
    * pass and emits no prefixes). Why route pipelines here: the 100×
    * probe measured the same exact pair stream at 5.3× less time and
    * 3.4× less shuffle than the capped inverted index (SCALE.md), and
    * hot shingles never enter a prefix, so the cap loses its
    * skew-guard role and keeps only its semantic one.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, minJaccard: Double = 0.5,
      docFreqCap: Int = Int.MaxValue): DataFrame = {
    val shingled = Lineage.keep(df.select(col(idCol).as("id"),
      wordShinglesDistinct(col(textCol), shingleLen).as("sh")))
    val ex = shingled.where(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
    // only shingles SHARABLE at all (2 <= df <= cap) enter the kept
    // lists: a df=1 singleton can never be in an intersection, so
    // dropping it changes no jaccard — and completeness survives,
    // because the prefix argument runs over the kept list (two docs
    // with capped overlap O >= ceil(t*n) share O kept shingles, all
    // df>=2, so each doc's first |kept|-O+1 kept-rarity slots still
    // must contain a shared one). The payoff is large: singletons are
    // the RAREST shingles, so without the filter they dominate every
    // prefix (pure join-probe dead weight), every collect_list buffer,
    // and every verification array.
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= docFreqCap)
    // per-doc KEPT shingles in canonical rarity order — the aggregation
    // buffer is the document's own shingle set (bounded by doc length),
    // never a posting list, so document frequency skew cannot blow it up
    val kept = ex.join(dfreq, "shingle")
    val perDoc = Lineage.keep(kept
      .groupBy("id", "n_sh")
      .agg(array_sort(collect_list(struct(col("df"), col("shingle"))))
        .as("ranked")))
    // prefix length |kept| - ceil(t·n) + 1 (n = FULL count; equal to the
    // classic n - ceil(t·n) + 1 when no cap binds); the 1e-9 nudge keeps
    // ceil from rounding an exactly-integer t·n UP off a float error,
    // which would shorten the prefix and break completeness (one extra
    // prefix token in the other direction only adds candidates)
    val p = (size(col("ranked"))
      - ceil(lit(minJaccard) * col("n_sh") - lit(1e-9)) + lit(1))
      .cast("int")
    val prefixes = perDoc.select(col("id"), col("n_sh"),
      size(col("ranked")).as("ke"),
      posexplode(transform(slice(col("ranked"), lit(1), greatest(p, lit(0))),
        x => x("shingle"))).as(Seq("pos", "shingle")))
    // candidate pruning, both exact-preserving (PPJoin):
    //  - length filter IN the join: J >= t forces t·|larger| <= |smaller|
    //    (in FULL counts — implied by the pass condition even under cap)
    //  - positional filter: both sides sort by the same global rarity
    //    order, so the FIRST shared prefix token (max of this min-bound)
    //    caps the KEPT overlap at min(ke_a − pos_a, ke_b − pos_b);
    //    candidates below the t-implied overlap floor
    //    t/(1+t)·(n_a+n_b) never reach array verification
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
    // verification arrays re-sorted per DOC into binary string order
    // (one array_sort per document), so the per-PAIR |∩| below is a
    // native merge walk ([[graft.functions.SortedIntersectCount]] —
    // |sa|+|sb| comparisons, zero allocation) instead of the builtin
    // array_intersect's per-pair hash build; kept lists are distinct
    // per doc by construction, so the merge count equals
    // size(array_intersect(..)) exactly (round-19 profile: the
    // verification join was ~2 s of the operator's warm wall)
    val arrays = perDoc.select(col("id"),
      array_sort(transform(col("ranked"), x => x("shingle"))).as("sharr"))
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    cand
      .join(arrays.select(col("id").as("a"), col("sharr").as("sa")),
        Seq("a"))
      .join(arrays.select(col("id").as("b"), col("sharr").as("sb")),
        Seq("b"))
      .select(col("a"), col("b"),
        shim.column(graft.functions.SortedIntersectCount(
          shim.expression(col("sa")), shim.expression(col("sb"))))
          .as("n_inter"),
        col("na"), col("nb"))
      .select(col("a"), col("b"),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter")))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Exact word-n-gram Jaccard near-dup pairs. Candidate generation via
    * an inverted index: ONE hash-aggregate keyed by shingle builds each
    * shingle's posting list (sorted by doc id), pairs stream out of two
    * generators over the list, and a second hash-aggregate on (a, b)
    * counts |∩|; |∪| follows from the per-doc distinct shingle counts.
    *
    * This shape beats the classic explode + self-join on the shingle key:
    * the shingle pipeline is computed once (not once per join side), and
    * both shuffles are pure hash exchanges — no sort anywhere, where a
    * sort-merge self-join sorts the full exploded index twice. The
    * `docFreqCap` skew guard is applied as a PRE-filter (df count +
    * semi-join) before the posting-list aggregation: a boilerplate
    * shingle shared by m docs would emit m²/2 pairs and materialize an
    * m-row aggregation buffer without it; pre-filtering df is both the
    * standard quality trick and what bounds the group state at 100 TB.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, minJaccard: Double = 0.8,
      docFreqCap: Int = 1000): DataFrame = {
    // The shingle arrays are persisted: three plan branches read them
    // (the df-count aggregate, the semi-join probe side, and the posting
    // build), and Catalyst's collapsed projections would otherwise
    // re-evaluate the whole split→transform pipeline per branch —
    // measured 5× the single-pass cost. At cluster scale this is
    // "materialize the shingle set once", the standard index-build step.
    val shingled = Lineage.keep(df.select(col(idCol).as("id"),
      wordShinglesDistinct(col(textCol), shingleLen).as("sh")))
    val docs = shingled.withColumn("n_sh", size(col("sh")))
    val inverted = docs.select(col("id"), col("n_sh"),
      explode(col("sh")).as("shingle"))
    // Document frequency FIRST (a map-side-combinable count whose shuffle
    // carries only (shingle, partial count)), then a semi-join keeps only
    // shingles with 2 <= df <= docFreqCap. Singleton shingles — the vast
    // majority — and boilerplate shingles above the cap never reach the
    // posting-list aggregation, so its collect_list buffer is bounded by
    // docFreqCap rows per group at any corpus size. The semi-join and the
    // groupBy below share the hash partitioning on `shingle`, so the
    // pruning costs one extra (small) exchange, not a re-shuffle of the
    // full index.
    val eligibleDf = Lineage.keep(inverted.groupBy("shingle")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= docFreqCap))
    val eligible = eligibleDf.select(col("shingle"))
    // posting list per shingle, sorted by (id, n_sh) so emitted pairs are
    // (a < b) by construction and fully deterministic
    val postings = sizedForPairStream(inverted
      .join(eligible, Seq("shingle"), "left_semi")
      .groupBy("shingle")
      .agg(array_sort(collect_list(struct(col("id"), col("n_sh"))))
        .as("ds")),
      eligibleDf, "__df")
    // stream pairs (i < j) with two generators — the m²/2 pairs of a
    // posting list are never materialized as one array
    val pairs = postings
      .select(posexplode(col("ds")).as(Seq("i", "l")), col("ds"))
      .select(col("l.id").as("a"), col("l.n_sh").as("na"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("r"))
      .select(col("a"), col("na"), col("r.id").as("b"), col("r.n_sh").as("nb"))
    val inter = pairs.groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("n_inter"))
    inter.select(col("a"), col("b"),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter")))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }
}
