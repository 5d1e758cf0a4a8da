package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DetAgg

/** Corpus-curation operators a large-scale training-data pipeline runs
  * over the whole document set: vocabulary statistics, blocklist
  * scrubbing, cross-document span-duplication profiling, blocked fuzzy
  * record matching, and budgeted selection. All are single-shuffle (or
  * shuffle-free) designs — the per-document transforms are pure Column
  * expressions (HOF lambdas: interpreted but projection-local, no
  * shuffle), and every cross-document step keys exactly one hash
  * shuffle on a bounded-cardinality key.
  */
object Curation {

  /** Top-`topK` vocabulary with cumulative corpus coverage — the
    * "how many tokens cover 90 % of the corpus" curve that sizes
    * tokenizer vocabularies.
    *
    * Shape at scale: ONE map-side-combined hash shuffle on the token
    * (vocabulary-bounded output), a `TakeOrderedAndProject` for the
    * top-k (no global sort), and the cumulative window runs over the
    * topK rows only — the single-partition stage is K rows by
    * construction, never corpus-sized. The corpus total rides along as
    * a broadcast scalar, not a driver action.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
      topK: Int = 50): DataFrame = {
    val counts = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("__tot"))
    val topk = counts.orderBy(col("cnt").desc, col("tok")).limit(topK)
    val w = Window.orderBy(col("cnt").desc, col("tok"))
    topk.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .select(col("rank"), col("tok"), col("cnt"),
        round(col("cum").cast("double") / col("__tot").cast("double"), 6)
          .as("cum_share"))
  }

  /** Blocklist masking: replace every token in `terms` with `<MASK>`
    * and report the per-document hit count. Token-exact (not substring)
    * so "keystone" survives a "key" blocklist. Pure per-row lambda
    * Column expressions — shuffle-free, and the blocklist is
    * a literal baked into the plan (broadcast-free for the small lists
    * this is meant for; a million-entry blocklist would use a broadcast
    * join on the exploded token instead). */
  def blocklistScrub(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], mask: String = "<MASK>"): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val toks = split(col(textCol), " ")
    def hit(x: Column): Column = x.isInCollection(terms)
    df.select(col(idCol),
      size(filter(toks, hit(_))).cast("long").as("n_hits"),
      array_join(transform(toks,
        x => when(hit(x), lit(mask)).otherwise(x)), " ").as("scrubbed"))
  }

  /** Cross-document span duplication: for each document, the fraction
    * of its distinct word-`n`-grams that occur in at least `minDf`
    * documents corpus-wide — the signal behind exact-substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): high `dup_frac` docs are templated/boilerplate.
    *
    * Shape at scale: distinct (doc, gram) pairs shuffle once on the
    * gram; the document-frequency aggregate and the back-join reuse
    * that partitioning (co-partitioned equi-join, no second gram
    * shuffle of the big side); the final per-doc aggregate is the only
    * other shuffle. Hot boilerplate grams are mere counters here —
    * no pair blowup, unlike pair-generation dedup. Documents shorter
    * than `n` words carry no grams and drop out (callers left-join
    * the corpus if they need them back). */
  def spanDuplication(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minDf: Int = 2): DataFrame = {
    // shuffle the 8-byte xxhash64 of each gram, not the ~n-word string:
    // halves-to-quarters the exchange bytes, and every downstream step
    // only ever counts grams (a 64-bit collision would need ~2^32
    // distinct grams to matter — far beyond any per-corpus vocabulary
    // this profiles)
    val grams = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(transform(
          Dedup.wordShingles(col(textCol), n), g => xxhash64(g))))
          .as("gram"))
    // grams are distinct per doc, so the per-gram partition count IS the
    // document frequency — a whole-partition count window gets it in the
    // SAME shuffle that the old groupBy+self-join formulation paid twice
    // (and without re-running the explode for each plan branch)
    grams.withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("__dup"))
      .select(col("doc_id"), col("n_grams"),
        round(col("__dup").cast("double") / col("n_grams").cast("double"),
          6).as("dup_frac"))
  }

  /** Cross-document duplicated-SPAN removal — the cleanup transform
    * downstream of [[spanDuplication]]'s profile (the remove-the-span
    * discipline of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": excise the repeated passage, keep the
    * document). A token is removed iff ANY word `n`-gram window
    * containing it appears in ≥ `minDf` distinct documents; the
    * remaining tokens are re-joined in order. Returns one row per
    * input document: `(doc_id, clean_text, n_tokens, n_removed)` —
    * fully-boilerplate documents come back with an empty string, and
    * documents shorter than `n` words pass through unchanged.
    *
    * Shape at scale (the [[spanDuplication]] discipline extended):
    * grams shuffle as 8-byte hashes; the document-frequency aggregate
    * is a two-stage partial count-distinct (hot boilerplate grams are
    * counters, never pair generators); covered positions fan out a
    * bounded ×n per duplicated occurrence and dedup on (doc, pos);
    * the rebuild is one per-doc aggregate whose sorted collect is
    * document-sized. Every shuffle is fine-grained-keyed (gram, or
    * doc) — no corpus-wide sort, no pair stream at any step. */
  def spanScrub(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minDf: Int = 2): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // positioned gram hashes: wordShingles index k = start position k
    // (both branches below read them — persist like the pair streams)
    val posGrams = Dedup.tracked(base.select(col("doc_id"),
      posexplode(transform(Dedup.wordShingles(col("text"), n),
        g => xxhash64(g))).as(Seq("pos", "gram"))))
    val dupGrams = posGrams.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("__df"))
      .where(col("__df") >= minDf).select(col("gram"))
    // every occurrence of a duplicated gram covers its n token slots
    val covered = posGrams.join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tp"))
      .distinct()
    val toks = base.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("tp", "tok")))
    // left join + null-skipping collect keeps fully-covered documents
    // in the output (an anti-join would drop their group entirely)
    toks.join(covered.withColumn("__c", lit(1)), Seq("doc_id", "tp"),
        "left")
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__c").isNull, struct(col("tp"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__c").isNotNull, 1L).otherwise(0L))
          .as("n_removed"))
  }

  /** Corpus-wide SEGMENT-level exact deduplication — the CCNet
    * paragraph-dedup discipline (keep exactly ONE occurrence of every
    * repeated paragraph corpus-wide, remove the rest), at fixed
    * `segWords`-word block granularity. The fixed word block stands in
    * for the paragraph unit on corpora without newline structure (this
    * test corpus); a delimiter-based splitter drops in by swapping the
    * segmenter expression. The canonical occurrence of a segment is the
    * first by (doc_id, position); every other occurrence — intra- or
    * cross-document — is removed. Complements [[spanScrub]], which
    * excises ALL occurrences of a duplicated sliding window (Lee et
    * al. 2022); here repeated content survives exactly once, the
    * contract a training corpus usually wants for boilerplate.
    * Returns one row per input document:
    * `(doc_id, clean_text, n_segments, n_removed)` — fully-duplicate
    * documents come back with an empty string.
    *
    * Shape at scale: segmentation is projection-local (split + slice
    * HOFs, no shuffle to build); the canonical-occurrence choice is ONE
    * map-side-combinable min-aggregate keyed by the 128-bit segment
    * hash (hot boilerplate segments collapse to a single min row, never
    * pair generators); the keep test is one hash join back on that key;
    * the rebuild is one per-doc aggregate whose sorted collect is
    * document-sized. No corpus-wide sort, no pair stream, no window
    * wider than a document. md5 keys the shuffle: 16 bytes regardless
    * of segment length, collision-free at any corpus a cluster holds. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
      segWords: Int = 10): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val k = segWords
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val words = split(col("text"), " ")
    val nseg = ceil(size(words).cast("double") / k).cast("int")
    // (doc, idx, segment, hash) occurrences; read twice (canonical
    // aggregate + keep join), so persist like the other pair streams
    val occ = Dedup.tracked(base.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nseg - 1),
          b => array_join(slice(words, b * k + 1, lit(k)), " ")))
          .as(Seq("idx", "seg")))
      .withColumn("h", md5(col("seg"))))
    val canon = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("__first"))
    occ.join(canon, Seq("h"))
      .withColumn("__keep",
        col("__first.doc_id") === col("doc_id") &&
          col("__first.idx") === col("idx"))
      .groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__keep"), struct(col("idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_segments"),
        sum((!col("__keep")).cast("long")).as("n_removed"))
  }

  /** Quality-filter threshold sweep — the retention curve that
    * calibrates a filter BEFORE a 100 TB run: for each candidate
    * threshold, how many documents and how much weight (token mass)
    * survive `score >= t`, as counts and fractions of the corpus.
    *
    * Shape at scale: ONE pass over the corpus — each row is assigned
    * the number of thresholds it passes (a fold of codegen'd
    * conditionals, no UDF), aggregated into |T|+1 bins whose shuffle is
    * |T|+1 rows per map partition (map-side combine; the few-key
    * shuffle is never hot because partials, not rows, move). The curve
    * itself is a ≤|T|²-row theta-join over the bin table — driver-scale
    * by construction. Never one-scan-per-threshold, never a
    * row×threshold fan-out. */
  def filterSweep(df: DataFrame, scoreCol: String, weightCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds,
      "thresholds must be non-empty, strictly ascending")
    // bin = number of thresholds passed (0 = fails all of them)
    val bin = thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col(scoreCol) >= t, 1).otherwise(0)
    }
    val bins = Dedup.tracked(df
      .select(bin.as("__bin"), col(weightCol).as("__w"))
      .groupBy("__bin")
      .agg(count(lit(1)).as("__docs"), sum(col("__w")).as("__wsum")))
    val tdf = df.sparkSession
      .createDataFrame(thresholds.zipWithIndex.map { case (t, i) =>
        (i + 1, t)
      })
      .toDF("__i", "threshold")
    val tot = bins.agg(sum(col("__docs")).as("__td"),
      sum(col("__wsum")).as("__tw"))
    // threshold i keeps every bin >= i; left join so a threshold that
    // keeps nothing still emits a zero row
    tdf.join(bins, col("__bin") >= col("__i"), "left")
      .groupBy(col("__i"), col("threshold"))
      .agg(coalesce(sum(col("__docs")), lit(0L)).as("docs_kept"),
        coalesce(sum(col("__wsum")), lit(0L)).as("weight_kept"))
      .crossJoin(tot)
      .select(col("threshold"),
        col("docs_kept"),
        col("weight_kept"),
        round(col("docs_kept").cast("double") /
          col("__td").cast("double"), 6).as("doc_frac"),
        round(col("weight_kept").cast("double") /
          col("__tw").cast("double"), 6).as("weight_frac"))
  }

  /** Job 1 of the calibrate→run filter contract — the [[filterSweep]]
    * analog of the lake builders: persist the retention curve as a
    * parquet artifact so the threshold decision is made ONCE, recorded,
    * and reusable across the runs it governs (a 100 TB filter job must
    * not re-derive its own threshold per partition, per retry, or per
    * increment — the curve artifact is the decision's audit trail).
    * The curve is |thresholds| rows — coalesced to one file. */
  def writeFilterCalibration(df: DataFrame, scoreCol: String,
      weightCol: String, thresholds: Seq[Double], path: String): Unit =
    filterSweep(df, scoreCol, weightCol, thresholds)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The threshold decision between the contract's two jobs: the most
    * aggressive (largest) calibrated threshold that still retains at
    * least `minWeightFrac` of the corpus's weight, read from the curve
    * artifact (bounded: |thresholds| rows — a driver-side scalar
    * decision, like reading a codebook, never a corpus scan). The
    * comparison uses the curve's stored round-6 `weight_frac`, so the
    * pick is a pure function of the artifact — any engine replaying
    * the artifact makes the same pick. Throws if no calibrated
    * threshold meets the target (run a wider sweep, don't guess). */
  def pickCalibratedThreshold(spark: org.apache.spark.sql.SparkSession,
      path: String, minWeightFrac: Double): Double = {
    val ok = LakeRead.parquet(spark, path)
      .select(col("threshold"), col("weight_frac")).collect()
      .filter(_.getDouble(1) >= minWeightFrac).map(_.getDouble(0))
    require(ok.nonEmpty,
      s"no calibrated threshold retains >= $minWeightFrac of weight")
    ok.max
  }

  /** Per-group budgeted selection (the data-mixing primitive): within
    * each group, rank items by `rankCol` descending (ties by `idCol`)
    * and keep rows while the running `weightCol` total stays within
    * `share` of the group's total weight — always keeping the top row
    * so no group empties. One keyed window (rank + running sum share a
    * single sort) over groups — the shuffle key is the group, state per
    * group is one running total. This is how a corpus is cut to a
    * token budget per domain/source before training. */
  def budgetedSelect(df: DataFrame, groupCol: String, idCol: String,
      rankCol: String, weightCol: String, share: Double): DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol))
      .orderBy(col(rankCol).desc, col(idCol).asc)
    val wAll = Window.partitionBy(col(groupCol))
    val cum = sum(col(weightCol)).over(
      wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val tot = sum(col(weightCol)).over(wAll)
    df.select(col(groupCol), col(idCol), col(rankCol), col(weightCol))
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__keep",
        col("__rn") === 1 || cum <= tot * lit(share))
      .where(col("__keep"))
      .select(col(groupCol), col(idCol), col(weightCol),
        col("__rn").as("rank"))
  }

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * NeurIPS 2023, arXiv:2302.03169) — the corpus-selection step a
    * pretraining pipeline runs after curation: fit hashed bag-of-ngrams
    * models on a target (quality-exemplar) subset and on the full raw
    * corpus, weight every document by its add-one-smoothed log
    * importance ratio Σ_f [ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))] over
    * its feature occurrences, and keep the top `k` by weight.
    *
    * Features are hashed unigrams + word bigrams in `buckets` buckets
    * (the paper's hashed-ngram generative model); the md5-band bucket
    * is the engine-portable hash the split/band operators already use
    * ([[Sampling.hashSplit]]), so the oracle replays bit-identically.
    *
    * Shape at scale: the two bucket models fold into ONE map-side-
    * combined hash aggregate with ≤`buckets` output rows (target counts
    * ride along as a conditional sum — the feature stream is scanned
    * once for modeling, once for scoring, never cached); the log-ratio
    * table (≤`buckets` rows) broadcasts back onto the feature stream,
    * so scoring is one doc-keyed shuffle of map-side partial sums
    * (≈ one row per document) and selection is a
    * `TakeOrderedAndProject` top-k, never a global sort. Per-feature
    * contributions accumulate in DECIMAL(30,6) ([[graft.core.DetAgg]])
    * so the weight is run- and engine-deterministic.
    */
  /** The DSIR hashed feature stream of a text column: unigram + word-
    * bigram md5-band bucket ids, as an array column (projection-local;
    * shared by selection, model writing and the stateless score). */
  private[graft] def dsirFeatureBuckets(text: Column, buckets: Int,
      salt: String): Column = {
    val toks = split(trim(text), "\\s+")
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    transform(concat(toks, bigrams), w => conv(substring(
        md5(concat(w, lit(salt))), 1, 8), 16, 10)
      .cast("long") % buckets)
  }

  def dsirSelect(df: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 1024, k: Int = 100,
      salt: String = "graft"): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in (0, 65536] (got $buckets): the log-ratio " +
        "table must stay broadcast-sized")
    val feats = df.select(col(idCol).as("doc_id"), isTarget.as("__t"),
      explode(dsirFeatureBuckets(col(textCol), buckets, salt)).as("__b"))
    // one aggregate builds BOTH models: raw count + target-conditional
    // count per bucket (<= `buckets` rows out)
    val counts = feats.groupBy("__b").agg(
      count(lit(1)).as("__rc"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"))
    val totals = counts.agg(sum(col("__rc")).as("__rt"),
      sum(col("__tc")).as("__tt"))
    val logRatio = counts.crossJoin(broadcast(totals)).select(col("__b"),
      (log((col("__tc").cast("double") + 1.0) /
           (col("__tt").cast("double") + buckets.toDouble)) -
       log((col("__rc").cast("double") + 1.0) /
           (col("__rt").cast("double") + buckets.toDouble))).as("__lr"))
    feats.join(broadcast(logRatio), "__b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        round(DetAgg.detSum(col("__lr")), 6).as("iw"))
      .orderBy(col("iw").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Job 1 of the DSIR score-gate contract: fit the hashed-ngram
    * target/raw models over `df` and write the DENSE per-bucket log
    * importance ratio as a `(b, lr_micro)` parquet artifact — every
    * bucket in [0, buckets) gets a row, so a bucket no training
    * feature ever hit carries the smoothed prior ratio
    * ln((R+B)/(T+B)) and the scorer never needs a missing-key branch.
    *
    * `lr_micro` is the ratio in FIXED-POINT MICRO-UNITS
    * (round(lr·1e6) as int64): per-document scores then accumulate in
    * exact integer arithmetic — associative, run- and engine-
    * deterministic with no decimal plumbing — the same fixed-point
    * discipline as the PageRank loop. One corpus scan, one
    * ≤`buckets`-row aggregate, one tiny artifact.
    */
  def writeDsirModel(df: DataFrame, textCol: String, isTarget: Column,
      buckets: Int, salt: String, path: String): Unit = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in (0, 65536] (got $buckets)")
    val feats = df.select(isTarget.as("__t"),
      explode(dsirFeatureBuckets(col(textCol), buckets, salt)).as("b"))
    val counts = feats.groupBy("b").agg(
      count(lit(1)).as("__rc"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"))
    val dense = df.sparkSession.range(0, buckets).toDF("b")
      .join(counts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("__rc"), lit(0L)).as("rc"),
        coalesce(col("__tc"), lit(0L)).as("tc"))
    writeDsirArtifact(dense, buckets, path)
  }

  /** Derive `lr_micro` from dense (b, rc, tc) counts and write the
    * artifact. The artifact CARRIES THE COUNTS next to the derived
    * ratio so the model is incrementally maintainable: bucket counts
    * are additive integers, which is what makes [[appendDsirModel]]
    * EXACTLY equal to a from-scratch rebuild — there is no
    * approximation anywhere in this fold-in, unlike the banded-
    * signature lakes whose append preserves a recall gate. */
  private def writeDsirArtifact(dense: DataFrame, buckets: Int,
      path: String): Unit = {
    val totals = dense.agg(sum(col("rc")).as("__rt"),
      sum(col("tc")).as("__tt"))
    dense.crossJoin(broadcast(totals))
      .select(col("b"), col("rc"), col("tc"), round(
        (log((col("tc").cast("double") + 1.0) /
             (col("__tt").cast("double") + buckets.toDouble)) -
         log((col("rc").cast("double") + 1.0) /
             (col("__rt").cast("double") + buckets.toDouble))) * 1e6)
        .cast("long").as("lr_micro"))
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Fold an increment into a stored DSIR model (the model artifact's
    * fold-in job, sibling of the hash/signature/keeper lake appends):
    * count the increment's hashed features, ADD them to the stored
    * per-bucket counts, recompute every bucket's log ratio from the
    * new totals, and rewrite the artifact. Because the counts are
    * additive integers and the ratio is a pure function of
    * (counts, totals), append-then-gate is BIT-IDENTICAL to
    * rebuild-then-gate — q217's oracle asserts the full equivalence.
    *
    * The stored side is ≤`buckets` rows (bounded — the codebook
    * pattern), so the merge reads the artifact once, joins the
    * increment's one aggregate against it, and rewrites; the increment
    * is the only corpus-scale scan. The artifact materializes
    * (collect, bounded) BEFORE the overwrite so the rewrite never
    * reads the files it is replacing (the q198 ordering lesson).
    */
  def appendDsirModel(incDf: DataFrame, textCol: String,
      isTarget: Column, salt: String, path: String): Unit =
    appendDsirModelAt(incDf, textCol, isTarget, salt, path, path)

  /** [[appendDsirModel]] with separate source and destination paths —
    * the versioned-snapshot shape the streaming lake needs (each
    * fold-in writes `model_b<k>` beside its predecessor instead of
    * overwriting, so a replayed micro-batch can still read exactly
    * the model its first attempt saw). */
  def appendDsirModelAt(incDf: DataFrame, textCol: String,
      isTarget: Column, salt: String, srcPath: String,
      dstPath: String): Unit = {
    val spark = incDf.sparkSession
    import spark.implicits._
    val stored = LakeRead.parquet(spark, srcPath)
      .select(col("b"), col("rc"), col("tc")).orderBy(col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val buckets = stored.length
    require(buckets > 0 && stored.head._1 == 0L,
      s"$srcPath is not a dense writeDsirModel artifact")
    val inc = incDf.select(isTarget.as("__t"),
        explode(dsirFeatureBuckets(col(textCol), buckets, salt))
          .as("b"))
      .groupBy("b").agg(count(lit(1)).as("__rc"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = stored.map { case (b, rcv, tcv) =>
      val (ir, it) = inc.getOrElse(b, (0L, 0L))
      (b, rcv + ir, tcv + it)
    }.toSeq.toDF("b", "rc", "tc")
    writeDsirArtifact(merged, buckets, dstPath)
  }

  /** The per-document DSIR importance score in micro-units, against a
    * COLLECTED dense model (`lrMicro(b)` = the artifact row for bucket
    * b — bounded, ≤65536 longs, the codebook-as-literal pattern): a
    * pure projection-local fold over the feature array with O(1)
    * positional array access per feature. ZERO shuffle and zero state
    * — this is what lets the gate run unchanged as a stateless
    * streaming filter at the ingest edge ([[graft.streaming.StreamDsirGate]]). */
  def dsirScoreMicro(text: Column, lrMicro: Array[Long],
      salt: String = "graft"): Column = {
    val model = typedLit(lrMicro.toSeq)
    aggregate(dsirFeatureBuckets(text, lrMicro.length, salt), lit(0L),
      (acc, b) => acc + element_at(model, (b + 1).cast("int")))
  }

  /** Blocked fuzzy matching over a name column — the record-linkage
    * candidate step: names sharing a block key (their last word) are
    * compared with exact Levenshtein distance; pairs within `maxDist`
    * survive. Classic blocking bounds the quadratic comparison to
    * within-block, and the distinct-names projection bounds the input
    * to the name vocabulary, not the row count. At extreme block skew
    * add a secondary key (e.g. name length) — the join stays an
    * equi-join either way. */
  def fuzzyNamePairs(df: DataFrame, nameCol: String,
      maxDist: Int = 3): DataFrame = {
    val names = df.select(col(nameCol).as("name")).distinct()
      .withColumn("__blk", element_at(split(col("name"), " "), -1))
    val a = names.select(col("__blk"), col("name").as("name_a"))
    val b = names.select(col("__blk"), col("name").as("name_b"))
    a.join(b, "__blk")
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"))
        .cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"))
  }
}
