package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed tokenizer induction — byte-pair-encoding merge learning
  * (Sennrich et al., ACL 2016, arXiv:1508.07909), the step that sits
  * between corpus curation and model training in an LLM data pipeline.
  * (No reference analog; extension operator like the rest of the
  * curation suite.)
  */
object Tokenizer {

  /** The symbol-boundary sentinel. Input words are restricted to
    * `[a-z]+` (ascii mode) or `[\p{L}\p{N}]+` (unicode mode); the
    * sentinel U+00B7 is punctuation (category Po), outside BOTH
    * classes, so it can never occur inside a symbol. */
  private val S = "·"

  /** The vocabulary word class per mode. Unicode mode is full Unicode
    * letters+numbers — accented/Cyrillic/CJK/digit words enter the
    * learned vocabulary instead of passing through as OOV tokens; the
    * regex class is identical in Java and RE2, so the oracle filter is
    * the same literal pattern. */
  private def wordPattern(unicode: Boolean): String =
    if (unicode) "^[\\p{L}\\p{N}]+$" else "^[a-z]+$"

  /** GPT-2-STYLE PRE-TOKENIZATION pattern (Radford et al. 2019's
    * published pattern, adapted): English contractions as their own
    * pieces, then letter runs, digit runs, and punctuation/symbol
    * runs — so `don't` segments as `don` + `'t` and `co-op` as
    * `co` + `-` + `op`, and a merge can never cross the letter/punct
    * boundary. WHAT THIS MODE IS FOR (measured, SCALE.md round 19):
    * NOT training-corpus fertility — pretok pieces refine whitespace
    * words, so its merge space is a strict subset of class-run's and
    * at equal merge budget its fertility is equal or worse (the
    * round-18 conjecture to the contrary is refuted by the ProfPretok
    * A/B; byte-fallback class-run is the fertility-optimal default).
    * It buys the properties GPT-2 published it for: a BOUNDED piece
    * inventory, semantically-aligned boundaries (`'t` is the same
    * piece in don't/won't/can't by construction), and held-out
    * robustness under shift. Differences from the
    * verbatim GPT-2 pattern, both forced by cross-engine parity:
    * no ` ?` leading-space alternates and no `\s+(?!\S)` lookahead —
    * this engine's pipeline whitespace-normalizes first (the learner
    * has always consumed `split(\\s+)` streams, and RE2 has no
    * lookahead), so whitespace simply never matches and pieces are
    * the non-space segments. Alternation is leftmost-first in BOTH
    * Java regex and RE2 (DuckDB), and `\p{L}`/`\p{N}` are the same
    * Unicode classes — the oracle runs the LITERAL same pattern
    * through `regexp_extract_all` on its side. */
  private[graft] val PretokPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  /** The pre-tokenized text: pretok pieces re-joined on single
    * spaces. Because pieces can never contain whitespace, feeding
    * THIS to any whitespace-splitting consumer (the learner's
    * initialVocab, the native BpeTokenize/BpeTokenCount expressions)
    * makes that consumer operate on exactly the pretok segmentation
    * — pretok mode composes as one extra per-row projection, ZERO
    * new shuffle and zero new native code, and byte-fallback keeps
    * covering out-of-class code points WITHIN a piece. */
  private def pretokText(textCol: String): org.apache.spark.sql.Column =
    array_join(regexp_extract_all(trim(lower(col(textCol))),
      lit(PretokPattern), lit(0)), " ")

  /** The effective text column per segmentation mode. */
  private def segText(textCol: String,
      pretok: Boolean): org.apache.spark.sql.Column =
    if (pretok) pretokText(textCol) else col(textCol)

  /** Word vocabulary of the corpus, each word as its initial
    * sentinel-delimited symbol sequence, weighted by corpus frequency
    * — ONE map-side-combined hash aggregate; shared by both learners.
    * The per-character split regex `(.)` matches one CODE POINT in
    * both Java and RE2, so unicode-mode symbols are code points on
    * both sides.
    *
    * With `byteFallback` the class filter disappears: EVERY nonempty
    * whitespace token enters the vocabulary, its initial sequence
    * built by the native [[graft.functions.BpeFallbackSeq]] expression
    * (in-class code points as themselves, out-of-class code points as
    * UTF-8 byte placeholder symbols — the mapping the encoder shares,
    * [[graft.functions.BpeByteAlphabet]]). */
  private def initialVocab(df: DataFrame, textCol: String,
      unicode: Boolean, byteFallback: Boolean = false): DataFrame = {
    val words = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    Dedup.tracked(
      if (byteFallback)
        words.where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .select(shim.column(graft.functions.BpeFallbackSeq(
            shim.expression(col("w")))).as("seq"), col("cnt"))
      else
        words.where(col("w").rlike(wordPattern(unicode)))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .select(regexp_replace(col("w"), "(.)", S + "$1" + S)
            .as("seq"), col("cnt")))
  }

  /** Adjacent-symbol pair counts over a vocab frame — projection-local
    * array ops feeding one map-side-combined aggregate. */
  private def pairCounts(v: DataFrame): DataFrame = {
    val tk = split(org.apache.spark.sql.functions.trim(col("seq"), S),
      S + S)
    val pairs = zip_with(
      slice(tk, lit(1), size(tk) - 1),
      slice(tk, lit(2), size(tk) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))
    v.select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** The projection-local merge application shared by both learners. */
  private def applyMerge(v: DataFrame, l: String, r: String): DataFrame =
    v.withColumn("seq",
      regexp_replace(col("seq"),
        java.util.regex.Pattern.quote(S + l + S + S + r + S),
        java.util.regex.Matcher.quoteReplacement(S + l + r + S)))

  /** Merge-application chains accumulate one projection per merge on
    * the vocab plan; past a few dozen the DRIVER cost of re-analyzing
    * an ever-deeper plan each round dominates learning. Every
    * `CutEvery` applied merges the vocab materializes through a
    * lineage cut (the PageRank-round discipline), so plan depth is
    * bounded and total driver work stays linear in merges. */
  private val CutEvery = 32
  private val CutRounds = 8

  /** Probe-visible counter: rounds where the collected prefix
    * exhausted before `batch` disjoint picks and the exact per-pick
    * argmax fallback ran (each fallback pick costs one extra full
    * pair-count aggregate — the data-shape term in the learn wall). */
  private[graft] val exhaustFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0)
  private final class VocabChain(var vocab: DataFrame) {
    private var lastCut: Option[DataFrame] = None
    private def cutNow(): Unit = {
      val c = Dedup.tracked(Lineage.cut(vocab))
      lastCut.foreach(Lineage.free)
      lastCut = Some(c)
      vocab = c
    }
    /** Apply one merge; every `CutEvery` applied merges, cut the
      * lineage (eager materialization) and free the SUPERSEDED cut —
      * the LPA-round block-reclamation discipline, so a long learning
      * run holds at most one vocab snapshot. */
    def apply(l: String, r: String, applied: Int): Unit = {
      vocab = applyMerge(vocab, l, r)
      if (applied % CutEvery == 0) cutNow()
    }
    /** Apply one ROUND's merges as ONE projection (the native
      * [[graft.functions.BpeSeqApply]] sequential-pass expression —
      * semantics identical to the chained per-merge replaces), so the
      * batched learner's plan grows one node per round instead of one
      * per merge: at batch=64-128 the per-merge chain's driver
      * re-analysis cost was the super-linear term in the learn wall
      * (SCALE.md round-15/16). Cut every `CutRounds` rounds. */
    def applyRound(ms: Seq[(String, String)], round: Int): Unit = {
      val shim = org.apache.spark.sql.graftshim.ColumnShim
      vocab = vocab.withColumn("seq",
        shim.column(graft.functions.BpeSeqApply(
          shim.expression(col("seq")), ms)))
      if (round % CutRounds == 0) cutNow()
    }
  }

  /** Learn the first `merges` BPE merge operations over the corpus.
    *
    * The corpus collapses to its WORD VOCABULARY first — one map-side-
    * combined hash aggregate; every later round runs over vocab rows
    * weighted by corpus frequency, never corpus rows (the classic BPE
    * formulation, and the property that makes this viable at 100 TB:
    * the loop's working set is vocabulary-bounded). Each word is
    * encoded as a sentinel-delimited symbol sequence (`chat` →
    * `·c··h··a··t·`). Each round then does:
    *
    *  - ONE vocab-bounded pair-count aggregate (adjacent-symbol pairs
    *    via projection-local array ops, map-side combined);
    *  - an argmax pick — `orderBy.limit(1)` is a bounded
    *    `TakeOrderedAndProject`, one row to the driver (ties break on
    *    the pair's lexicographic order, so learning is deterministic);
    *  - a projection-local `replace` applying the merge — no shuffle.
    *
    * The DOUBLED sentinel makes plain left-to-right non-overlapping
    * `replace` exactly the BPE merge step: delimiters are never shared
    * between adjacent matches (`·a··a··a··a·` → `·aa··aa·`, as BPE
    * requires), and a pattern can never match across a symbol boundary
    * (`·a··bc·` does not contain `·a··b·`). `replace` scans
    * left-to-right non-overlapping in every engine, so the oracle
    * replays the loop exactly as chained CTEs.
    *
    * Learning stops early when no pair reaches `minCount` — the same
    * convergence rule as the reference BPE implementation.
    *
    * Returns one row per learned merge, in learning order:
    * (step, lhs, rhs, merged, pair_count).
    */
  def bpeMerges(df: DataFrame, textCol: String, merges: Int,
      minCount: Long = 1L, unicode: Boolean = false,
      byteFallback: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(merges >= 1 && merges <= 512,
      s"merges must be in [1, 512] (got $merges): each merge is a " +
        "driver-coordinated round — for larger vocabularies use " +
        "bpeMergesBatched (top-M disjoint pairs per round)")
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    val spark = df.sparkSession
    val vocab0 = initialVocab(
      if (pretok) df.select(pretokText(textCol).as(textCol)) else df,
      textCol, unicode, byteFallback)

    // SIZE-GATED routing (round-19 optimization): the classic BPE loop
    // runs over the WORD VOCABULARY, and the engine already treats a
    // vocabulary of <= 2^21 rows as driver-artifact-sized (writeBpeVocab
    // collects exactly that). Within the same bound the whole learning
    // loop runs DRIVER-LOCALLY over the collected (seq, cnt) rows —
    // zero Spark jobs for the rounds instead of one vocab aggregate +
    // one bounded argmax collect per merge (the measured wall of every
    // 8-merge oracle query: ~0.3 s/round x 8 rounds x ~20 queries).
    // The local loop replicates the distributed rounds EXACTLY —
    // same adjacent-pair counts, same (count desc, lhs, rhs) argmax
    // with UTF-8-BINARY string order (Spark's StringType ordering; a
    // Java compareTo would diverge on supplementary planes), same
    // left-to-right non-overlapping doubled-sentinel replace — so the
    // learned list is bit-identical (spec-pinned against the
    // distributed loop in all modes). Above the bound the distributed
    // loop below is unchanged: the 100 TB byte-fallback path, where
    // the vocabulary is corpus-scale, never collects.
    // LIMIT-PROBE gate (round 20, the r19 ADVICE finding): the routing
    // decision only needs "<= 2^21 rows or not", so probe with a
    // bounded limit instead of a full count — on the >2^21 distributed
    // path the old count was a pure extra full-vocabulary pass; on the
    // local path the collect below completes the tracked persist.
    val n = vocab0.limit(LocalLearnMaxVocab.toInt + 1).count()
    val learned: Seq[(Int, String, String, String, Long)] =
      if (n <= LocalLearnMaxVocab) {
        val rows = vocab0.collect()
          .map(r => (r.getString(0), r.getLong(1)))
        localMerges(rows, merges, minCount)
      } else distributedMerges(vocab0, merges, minCount)
    import spark.implicits._
    learned
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .select(col("step").cast("long"), col("lhs"), col("rhs"),
        col("merged"), col("pair_count"))
  }

  /** The vocabulary-size bound under which BPE learning runs driver-
    * locally — the SAME 2^21-row bound [[writeBpeVocab]] enforces for
    * the vocabulary artifact's driver collect, so the local learner
    * never collects anything the artifact path wouldn't. */
  private val LocalLearnMaxVocab = 1L << 21

  /** The original distributed learning loop — the > 2^21-vocabulary
    * path (corpus-scale byte-fallback vocabularies at 100 TB), and the
    * equality oracle for [[localMerges]]' spec. One vocab-bounded
    * pair-count aggregate + one bounded argmax collect per merge. */
  private[operators] def distributedMerges(vocab0: DataFrame,
      merges: Int, minCount: Long)
      : Seq[(Int, String, String, String, Long)] = {
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    val chain = new VocabChain(vocab0)
    var step = 1
    var done = false
    while (step <= merges && !done) {
      val top = pairCounts(chain.vocab).where(col("c") >= minCount)
        .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
      top.headOption match {
        case Some(Row(l: String, r: String, c: Long)) =>
          learned += ((step, l, r, l + r, c))
          // projection-local merge application; the chain stays
          // <= CutEvery projections deep over the latest snapshot
          chain.apply(l, r, step)
          step += 1
        case _ => done = true
      }
    }
    learned.toSeq
  }

  /** Spec-only entry: run the DISTRIBUTED learning loop regardless of
    * vocabulary size — the equality oracle the local-learner spec
    * compares [[bpeMerges]]' gated routing against, mode for mode. */
  private[graft] def bpeMergesDistributed(df: DataFrame,
      textCol: String, merges: Int, minCount: Long = 1L,
      unicode: Boolean = false, byteFallback: Boolean = false,
      pretok: Boolean = false)
      : Seq[(Int, String, String, String, Long)] =
    distributedMerges(initialVocab(
      if (pretok) df.select(pretokText(textCol).as(textCol)) else df,
      textCol, unicode, byteFallback), merges, minCount)

  /** UTF-8 binary comparison — Spark's StringType ordering (and
    * DuckDB's binary collation), which Java's UTF-16 compareTo does
    * NOT match on supplementary planes; the local argmax tie-break
    * must sort exactly as the distributed `orderBy(l, r)` did. */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String
        .fromString(b)) < 0

  /** Split a sentinel-delimited symbol sequence (`·c··h··a·`) into its
    * symbols — the driver-local twin of the distributed
    * `split(trim(seq, S), S+S)` (one sentinel at each end by
    * construction; symbols can never contain the sentinel). */
  private def splitSymbols(seq: String): Array[String] = {
    // strip the single leading/trailing sentinel, split on the doubled
    // sentinel between symbols
    val inner = seq.substring(1, seq.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var i = inner.indexOf(S + S)
    while (i >= 0) {
      out += inner.substring(from, i)
      from = i + 2
      i = inner.indexOf(S + S, from)
    }
    out += inner.substring(from)
    out.toArray
  }

  /** Driver-local BPE learning over a collected (seq, cnt) vocabulary
    * — bit-identical to [[distributedMerges]] (spec-pinned): per round,
    * weighted adjacent-pair counts into one hash map, argmax by
    * (count desc, lhs, rhs) in UTF-8 binary order, then the doubled-
    * sentinel literal replace (Java `String.replace` scans left-to-
    * right non-overlapping — exactly the distributed
    * `regexp_replace(quote(...))` semantics). */
  private[operators] def localMerges(vocab0: Array[(String, Long)],
      merges: Int, minCount: Long)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab = vocab0
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= merges && !done) {
      val counts =
        new java.util.HashMap[(String, String), java.lang.Long]()
      vocab.foreach { case (seq, cnt) =>
        val tk = splitSymbols(seq)
        var i = 0
        while (i < tk.length - 1) {
          counts.merge((tk(i), tk(i + 1)), cnt, (a, b) => a + b)
          i += 1
        }
      }
      var bestL: String = null
      var bestR: String = null
      var bestC = 0L
      counts.forEach { (k, boxed) =>
        val c = boxed.longValue()
        if (c >= minCount && (bestL == null || c > bestC ||
            (c == bestC && (utf8Lt(k._1, bestL) ||
              (k._1 == bestL && utf8Lt(k._2, bestR)))))) {
          bestL = k._1; bestR = k._2; bestC = c
        }
      }
      if (bestL == null) done = true
      else {
        learned += ((step, bestL, bestR, bestL + bestR, bestC))
        val pat = S + bestL + S + S + bestR + S
        val rep = S + bestL + bestR + S
        vocab = vocab.map { case (seq, cnt) =>
          (seq.replace(pat, rep), cnt)
        }
        step += 1
      }
    }
    learned.toSeq
  }

  /** Driver-local twin of the BATCHED learner — the full-list greedy
    * the distributed adaptive-prefix + exact-fallback loop provably
    * equals: per round, all pair counts, full sort by (count desc,
    * lhs, rhs) in UTF-8 binary order, top-`batch` mutually-DISJOINT
    * picks, then the picks applied as sequential literal-replace
    * passes in pick order (exactly [[graft.functions.BpeSeqApply]]'s
    * semantics). Spec-pinned equal to the distributed loop. */
  private[operators] def localMergesBatched(vocab0: Array[(String, Long)],
      rounds: Int, batch: Int, minCount: Long)
      : Seq[(Int, Int, String, String, String, Long)] = {
    var vocab = vocab0
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    var step = 1
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val counts =
        new java.util.HashMap[(String, String), java.lang.Long]()
      vocab.foreach { case (seq, cnt) =>
        val tk = splitSymbols(seq)
        var i = 0
        while (i < tk.length - 1) {
          counts.merge((tk(i), tk(i + 1)), cnt, (a, b) => a + b)
          i += 1
        }
      }
      val ordered = {
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        counts.forEach { (k, c) =>
          if (c.longValue() >= minCount) buf += ((k._1, k._2, c)) }
        buf.sortWith { case ((l1, r1, c1), (l2, r2, c2)) =>
          c1 > c2 || (c1 == c2 && (utf8Lt(l1, l2) ||
            (l1 == l2 && utf8Lt(r1, r2))))
        }
      }
      val used = scala.collection.mutable.HashSet.empty[String]
      val picks = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      ordered.foreach { case (l, r, c) =>
        if (picks.length < batch && !used(l) && !used(r)) {
          picks += ((l, r, c)); used += l; used += r
        }
      }
      if (picks.isEmpty) done = true
      else {
        picks.foreach { case (l, r, c) =>
          learned += ((step, round, l, r, l + r, c))
          step += 1
        }
        // sequential passes in pick order — BpeSeqApply semantics
        vocab = vocab.map { case (seq, cnt) =>
          var s = seq
          picks.foreach { case (l, r, _) =>
            s = s.replace(S + l + S + S + r + S, S + l + r + S) }
          (s, cnt)
        }
        round += 1
      }
    }
    learned.toSeq
  }

  /** BATCHED BPE merge learning — the standard scalable approximation
    * (one pair-count aggregate learns the top-`batch` MUTUALLY
    * DISJOINT pairs per round instead of one), lifting the merge
    * ceiling from "one driver round per merge" to `batch` merges per
    * round. Within a round the picks are greedy in (count desc, lhs,
    * rhs) order, skipping any pair sharing a SYMBOL with an earlier
    * pick — disjoint pairs' merges commute (they can never overlap in
    * a symbol sequence), so applying all of them in one projection
    * pass is well-defined and the learned list is exactly replayable.
    * DEVIATION from strict sequential BPE (documented in
    * DEVIATIONS.md): counts are NOT refreshed between same-round
    * picks, so a round's later picks may not be the globally most
    * frequent pairs after its earlier merges apply. `batch = 1` is
    * bit-identical to [[bpeMerges]].
    *
    * Exactness discipline: the greedy runs over a COLLECTED prefix of
    * the ordered pair counts (bounded: `batch * 32` rows, max 4096);
    * in the pathological case where the prefix exhausts before
    * `batch` disjoint picks are found AND more candidates exist, the
    * remaining picks re-query with the conflict exclusion pushed into
    * the plan — so the result always equals the full-list greedy the
    * oracle replays, never a prefix-truncated approximation.
    *
    * Returns (step, round, lhs, rhs, merged, pair_count) in learning
    * order; `step` is the global rank the encoder consumes.
    */
  def bpeMergesBatched(df: DataFrame, textCol: String, rounds: Int,
      batch: Int, minCount: Long = 1L,
      unicode: Boolean = false,
      byteFallback: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    // 1024-round ceiling (raised from 512 in round 17): with the
    // adaptive prefix a round is one vocab-bounded aggregate + one
    // bounded collect (~0.5 s measured at 50k words), so the ceiling
    // is a runaway guard, not a wall — 64k merges of batch-128
    // headroom, double the largest vocabulary the encode caps at
    require(rounds >= 1 && rounds <= 1024,
      s"rounds must be in [1, 1024] (got $rounds)")
    require(batch >= 1 && batch <= 128,
      s"batch must be in [1, 128] (got $batch)")
    val spark = df.sparkSession
    val vocab0 = initialVocab(
      if (pretok) df.select(pretokText(textCol).as(textCol)) else df,
      textCol, unicode, byteFallback)
    // size-gated driver-local routing — same bound and same exactness
    // argument as [[bpeMerges]]: the batched greedy is DEFINED as the
    // full-list greedy (the adaptive prefix + exact fallback provably
    // equal it), and a round's merges apply as sequential passes in
    // pick order — both directly replayable over the collected
    // vocabulary with zero per-round Spark jobs.
    // limit-probe gate — same rationale as [[bpeMerges]]'s (round 20)
    val nv = vocab0.limit(LocalLearnMaxVocab.toInt + 1).count()
    import spark.implicits._
    val learned =
      if (nv <= LocalLearnMaxVocab) {
        val rows = vocab0.collect()
          .map(r => (r.getString(0), r.getLong(1)))
        localMergesBatched(rows, rounds, batch, minCount)
      } else distributedMergesBatched(vocab0, rounds, batch, minCount)
    learned
      .toDF("step", "round", "lhs", "rhs", "merged", "pair_count")
      .select(col("step").cast("long"), col("round").cast("long"),
        col("lhs"), col("rhs"), col("merged"), col("pair_count"))
  }

  /** Spec-only entry: the DISTRIBUTED batched learning loop regardless
    * of vocabulary size — the equality oracle the local batched
    * learner's spec compares [[bpeMergesBatched]]'s gated routing
    * against (the r19 ADVICE finding: the distributed batched loop was
    * unreachable in CI once the gate landed). */
  private[graft] def bpeMergesBatchedDistributed(df: DataFrame,
      textCol: String, rounds: Int, batch: Int, minCount: Long = 1L,
      unicode: Boolean = false, byteFallback: Boolean = false,
      pretok: Boolean = false)
      : Seq[(Int, Int, String, String, String, Long)] =
    distributedMergesBatched(initialVocab(
      if (pretok) df.select(pretokText(textCol).as(textCol)) else df,
      textCol, unicode, byteFallback), rounds, batch, minCount)

  /** The distributed adaptive-prefix + exact-fallback batched loop —
    * the > 2^21-vocabulary path of [[bpeMergesBatched]] and the spec
    * oracle for [[localMergesBatched]]. */
  private[operators] def distributedMergesBatched(vocab0: DataFrame,
      rounds: Int, batch: Int, minCount: Long)
      : Seq[(Int, Int, String, String, String, Long)] = {
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    val chain = new VocabChain(vocab0)
    var step = 1
    var round = 1
    var done = false
    // ADAPTIVE prefix: start at batch*32 (cap 4096); whenever a round
    // exhausts the prefix before `batch` disjoint picks (late rounds'
    // merged symbols conflict more), DOUBLE it for every later round
    // (cap 65536). Growing the prefix never changes the result — the
    // greedy over an ordered prefix + exact fallback equals the
    // full-list greedy at any prefix length — it only converts the
    // fallback's EXTRA full pair-count aggregates (one per remaining
    // pick: the measured cost driver at >=8k merges, 85 of 96 late
    // rounds paying double) into a slightly larger bounded collect.
    var prefixN = math.min(batch * 32, 4096)
    while (round <= rounds && !done) {
      val counts = pairCounts(chain.vocab).where(col("c") >= minCount)
      val prefix = counts
        .orderBy(col("c").desc, col("l"), col("r")).limit(prefixN)
        .collect()
      val used = scala.collection.mutable.HashSet.empty[String]
      val picks = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      prefix.iterator
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .foreach { case (l, r, c) =>
          if (picks.length < batch && !used(l) && !used(r)) {
            picks += ((l, r, c)); used += l; used += r
          }
        }
      // exact fallback: the prefix was full AND exhausted before
      // `batch` disjoint picks — continue the greedy with the
      // exclusion in the plan (one bounded argmax per remaining pick;
      // each such pick is a FULL extra pair-count aggregate, so the
      // probe-visible counter below is how a rising s/round trend is
      // attributed to data shape vs plan cost)
      if (picks.length < batch && prefix.length == prefixN) {
        exhaustFallbacks.incrementAndGet()
        prefixN = math.min(prefixN * 2, 65536)
        var more = true
        while (picks.length < batch && more) {
          val ex = used.toSeq.sorted
          val top = counts
            .where(!col("l").isin(ex: _*) && !col("r").isin(ex: _*))
            .orderBy(col("c").desc, col("l"), col("r")).limit(1)
            .collect()
          top.headOption match {
            case Some(Row(l: String, r: String, c: Long)) =>
              picks += ((l, r, c)); used += l; used += r
            case _ => more = false
          }
        }
      }
      if (picks.isEmpty) done = true
      else {
        picks.foreach { case (l, r, c) =>
          learned += ((step, round, l, r, l + r, c))
          step += 1
        }
        // the whole round's merges in ONE projection (sequential
        // passes in pick order — identical to the chained per-merge
        // replaces, but plan depth grows per ROUND, not per merge)
        chain.applyRound(picks.map(p => (p._1, p._2)).toSeq, round)
        round += 1
      }
    }
    learned.toSeq
  }

  /** Tokenizer-aware token counting — encode every document under an
    * already-learned merge list (the run half of the learn→encode
    * two-job contract: [[bpeMerges]]/[[bpeMergesBatched]] is the
    * bounded job 1, its merge rows collect to the driver, and this is
    * job 2 over the corpus).
    *
    * Per document: alphabetic words encode under the merge list IN
    * LEARNING ORDER with left-to-right non-overlapping merge
    * application (the learner's doubled-sentinel replace semantics),
    * then the token count is the surviving symbol count; every other
    * word counts as one OOV token. The encoder is ONE native
    * codegen'd expression ([[graft.functions.BpeTokenCount]]) whose
    * per-word cost is independent of merge-list length on its
    * rank-priority fast path — the chained-regex formulation it
    * replaced paid one regex scan per merge per word and capped the
    * list at 64. The whole pass stays a pure per-row projection —
    * ZERO shuffle, no join: at 100 TB this is a map-only scan, which
    * is exactly what a token-budget accounting pass over a full
    * corpus must be.
    *
    * Returns (doc_id, n_words, n_tokens).
    */
  def bpeTokenCounts(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)],
      unicode: Boolean = false,
      byteFallback: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(merges.size <= 65536,
      s"merges must be at most 65536 literal pairs (got ${merges.size})")
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    // pretok: n_words counts pretok PIECES (the segmentation unit of
    // the mode); the space-joined pretok text feeds the same native
    // expression — still a pure per-row projection, zero shuffle
    val words =
      if (pretok)
        regexp_extract_all(trim(lower(col(textCol))),
          lit(PretokPattern), lit(0))
      else split(trim(lower(col(textCol))), "\\s+")
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    df.select(col(idCol).as("doc_id"),
      size(words).cast("long").as("n_words"),
      shim.column(graft.functions.BpeTokenCount(
        shim.expression(segText(textCol, pretok)), merges, unicode,
        byteFallback))
        .as("n_tokens"))
  }

  /** Tokenize — the token SEQUENCE under a learned merge list, one
    * row per (doc_id, pos, token) with `pos` 1-based in document
    * order: what sequence packing, vocabulary audits, and fertility
    * stats consume (the count alone can't drive a packer). Same
    * zero-shuffle map-only shape as [[bpeTokenCounts]]; the pieces
    * materialize in ONE native `bpe_tokenize` expression and fan out
    * through `posexplode` — no join, no window, so at 100 TB this is
    * still a single scan whose output is the token stream itself. */
  def bpeTokenize(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)],
      unicode: Boolean = false,
      byteFallback: Boolean = false,
      wordMarker: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(merges.size <= 65536,
      s"merges must be at most 65536 literal pairs (got ${merges.size})")
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    df.select(col(idCol).as("doc_id"),
        posexplode(shim.column(graft.functions.BpeTokenize(
          shim.expression(segText(textCol, pretok)), merges, unicode,
          byteFallback, wordMarker)))
          .as(Seq("pos", "token")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("token"))
  }

  /** Detokenize — [[bpeTokenize]]'s inverse over a WORD-MARKED piece
    * stream (`wordMarker = true`): one doc-keyed aggregate reassembles
    * each document's pieces in `pos` order and the native `bpe_detok`
    * expression ([[graft.functions.BpeDetok]]) inverts markers and
    * byte placeholders back to text. `bpeDetokenize(bpeTokenize(df,
    * wordMarker = true)) == select(id, single-spaced(trim(lower
    * (text))))` exactly in byte-fallback mode (round trip spec'd +
    * oracle-certified; see the expression's scaladoc for the in-class
    * modes' placeholder caveat). State is document-bounded — the
    * collect_list holds ONE document's pieces, the same bound every
    * per-doc aggregate in this engine carries. */
  def bpeDetokenize(tokens: DataFrame, idCol: String = "doc_id",
      posCol: String = "pos", tokenCol: String = "token"): DataFrame = {
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    tokens.groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col(posCol), col(tokenCol)))),
        s => s.getField(tokenCol)).as("__pieces"))
      .select(col(idCol),
        shim.column(graft.functions.BpeDetok(
          shim.expression(col("__pieces")))).as("text"))
  }

  /** The closed VOCABULARY of a learned tokenizer over a corpus, with
    * deterministic integer ids — what an actual training run consumes
    * (trainers embed token IDS, not strings). Ids are assigned base
    * symbols first, in UTF-8 byte order (the one ordering Spark's
    * binary string sort, DuckDB's binary collation, and this
    * driver-side sort all agree on — Java's UTF-16 `compareTo` would
    * diverge on supplementary-plane symbols), then merged symbols in
    * learning order (first occurrence wins if two merge paths produce
    * the same string). In byte-fallback mode the base inventory is
    * the byte placeholders and in-class code points that OCCUR in the
    * vocabulary corpus — a symbol the corpus never contained (a new
    * letter, or a byte no out-of-class character used) is absent,
    * exactly as in any corpus-trained BPE vocabulary, and
    * [[bpeEncodeIds]]'s left join surfaces it as a null id to audit
    * (the q263 held-out coverage report is that audit). In the
    * in-class modes whole OOV passthrough tokens are open-ended too.
    *
    * BOUNDEDNESS: in byte-fallback mode the symbol inventory is
    * alphabet-bounded (distinct code points + 256 byte placeholders +
    * merges) — the codebook-collect class. In the IN-CLASS modes every
    * distinct OOV word passes through whole and becomes a base
    * symbol, so the collect is corpus-OOV-vocabulary-sized: still one
    * row per distinct token (never per occurrence), but open-ended on
    * a dirty corpus — the 2^21-row require below refuses loudly
    * instead of assembling an unbounded driver array, and byte
    * fallback is the mode a production vocabulary should use. */
  def bpeVocabulary(df: DataFrame, textCol: String,
      merges: Seq[(String, String)],
      unicode: Boolean = false,
      byteFallback: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(merges.size <= 65536,
      s"merges must be at most 65536 literal pairs (got ${merges.size})")
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    val spark = df.sparkSession
    import spark.implicits._
    val shim = org.apache.spark.sql.graftshim.ColumnShim
    val baseDf = df.select(explode(shim.column(graft.functions.BpeTokenize(
        shim.expression(segText(textCol, pretok)), Nil, unicode,
        byteFallback)))
        .as("t"))
      .where(length(col("t")) > 0)
      .distinct()
    // bound BEFORE the collect (a post-collect require would OOM the
    // driver first on a genuinely dirty in-class corpus) WITHOUT a
    // CollectLimit: `limit(2^21+1).collect()` executes incrementally
    // (1, then 4, 16, … partitions until the limit is satisfied) and
    // the limit here always exceeds the data, so it re-read the
    // distinct's shuffle as several extra jobs per call — the
    // round-17 cost residue on the q253–q257 family. Persist the
    // distinct once, COUNT it (a bounded aggregate that materializes
    // the cache and can never OOM the driver), refuse past the cap,
    // then collect from the cache — one full job plus one cache scan.
    val snap = baseDf.persist()
    val base = try {
      val n = snap.count()
      require(n <= (1 << 21),
        s"base symbol inventory exceeds 2^21 rows ($n): an " +
          "in-class-mode vocabulary over a dirty corpus collects one " +
          "row per distinct OOV word — use byteFallback = true for a " +
          "closed, alphabet-bounded vocabulary")
      snap.collect().map(_.getString(0))
    } finally snap.unpersist()
    def u8cmp(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val baseSorted = base.sortWith(u8cmp)
    val seen = scala.collection.mutable.HashSet[String](baseSorted: _*)
    var id = baseSorted.length.toLong
    val mergedRows = merges.flatMap { case (l, r) =>
      val t = l + r
      if (seen.contains(t)) None
      else { seen += t; val row = (id, t, false); id += 1; Some(row) }
    }
    (baseSorted.zipWithIndex.toSeq
      .map { case (t, i) => (i.toLong, t, true) } ++ mergedRows)
      .toDF("token_id", "token", "is_base")
  }

  /** The SPECIAL-TOKEN REGISTRY of a persisted vocabulary artifact —
    * the contract that turns "eos = max(token_id) + 1" from a
    * convention every caller re-derives (and can re-derive against
    * the WRONG vocab, silently colliding a boundary token with a real
    * vocabulary id) into an attested part of the artifact: named
    * reserved ids directly above the vocabulary, plus the
    * `embeddingSize` (= max reserved id + 1) a trainer sizes its
    * embedding table with instead of computing. */
  final case class BpeSpecials(ids: Map[String, Long],
      embeddingSize: Long) {
    require(ids.contains("eos"), "special-token registry must name eos")
    def eos: Long = ids("eos")
    def pad: Option[Long] = ids.get("pad")
    def bos: Option[Long] = ids.get("bos")
    def unk: Option[Long] = ids.get("unk")
    /** The stale-registry guard: refuse a vocabulary whose ids reach
      * into (or past) this registry's reserved block — encoding under
      * a NEWER, larger vocab with a stale registry would silently
      * collide the boundary token with a real vocabulary id. Bounded:
      * one max over the alphabet-bounded vocab. */
    def validateAgainst(vocab: DataFrame): BpeSpecials = {
      val maxId = vocab.agg(max(col("token_id"))).collect()
        .head.getLong(0)
      require(ids.values.min > maxId,
        s"stale special-token registry: reserved ids start at " +
          s"${ids.values.min} but the vocabulary's max token_id is " +
          s"$maxId — the registry was derived from a DIFFERENT " +
          "(smaller) vocabulary; encoding would collide special " +
          "tokens with real vocabulary ids. Re-land the vocab " +
          "artifact with its registry")
      require(embeddingSize == ids.values.max + 1,
        s"corrupt special-token registry: embeddingSize " +
          s"$embeddingSize != max reserved id ${ids.values.max} + 1")
      this
    }
  }

  /** Persist a [[bpeVocabulary]] beside its model artifact — the id
    * mapping is part of the trainer contract (embeddings are indexed
    * by these ids; re-deriving them on another corpus would renumber
    * everything), so it ships with the merges it was derived from:
    * `path/vocab` (token_id, token, is_base) + `path/vocab_meta`
    * (count + content digest, re-verified on read exactly as
    * [[readBpeModel]] does). The no-specials form writes a LEGACY
    * artifact (no registry block); production vocabularies should use
    * the registry overload so eos/pad ids are a contract, not a
    * re-derived convention. */
  def writeBpeVocab(spark: org.apache.spark.sql.SparkSession,
      path: String, vocab: DataFrame): Unit = {
    writeBpeVocab(spark, path, vocab, specials = Seq.empty)
    ()
  }

  /** [[writeBpeVocab]] WITH the special-token registry: `specials`
    * names (must include "eos"; "pad"/"bos"/"unk" and any other
    * trainer-defined names optional) receive RESERVED ids directly
    * above the vocabulary in the given order, and the meta row
    * records the registry digest plus `embedding_size` (= max
    * reserved id + 1). [[readBpeSpecials]] re-verifies all of it;
    * the returned registry is what the caller threads into
    * sequence packing (`sep = specials.eos.toString`) instead of
    * re-deriving max+1. */
  def writeBpeVocab(spark: org.apache.spark.sql.SparkSession,
      path: String, vocab: DataFrame,
      specials: Seq[String]): Option[BpeSpecials] = {
    import spark.implicits._
    val rows = vocab.select(col("token_id"), col("token"),
        col("is_base")).orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    require(rows.nonEmpty && rows.length <= (1 << 21),
      s"vocab must be 1..2^21 rows (got ${rows.length})")
    require(specials.isEmpty ||
      (specials.contains("eos") && specials.distinct == specials &&
        specials.forall(n => n.nonEmpty && !n.contains(":") &&
          !n.contains("\n"))),
      s"specials must be distinct ':'-free names including 'eos' " +
        s"(got ${specials.mkString(",")})")
    val maxId = rows.last._1
    val reserved = specials.zipWithIndex
      .map { case (n, i) => (n, maxId + 1 + i.toLong) }
    // vocab and specials tables are independent directories — their
    // writes overlap (round 20, guide §2.6); the meta row still lands
    // strictly LAST (it is the artifact's commit attestation: a crash
    // before it leaves a digest-less partial the readers refuse)
    graft.operators.DriverPool.all[Unit](
      (() => rows.toSeq.toDF("token_id", "token", "is_base")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/vocab")) +:
      (if (specials.isEmpty) Seq.empty[() => Unit]
       else Seq(() => reserved.toDF("name", "token_id").coalesce(1)
         .write.mode("overwrite").parquet(s"$path/specials"))))
    val reg =
      if (specials.isEmpty) None
      else Some(BpeSpecials(reserved.toMap, maxId + 1 + specials.size))
    Seq((rows.length.toLong, vocabDigest(rows),
        specials.size.toLong,
        reg.map(_.embeddingSize).getOrElse(rows.length.toLong),
        specialsDigest(reserved)))
      .toDF("n_tokens", "digest", "n_specials", "embedding_size",
        "specials_digest")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab_meta")
    reg
  }

  private def specialsDigest(
      reserved: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    reserved.foreach { case (n, id) =>
      md.update(s"$n:$id\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Load the special-token registry of a [[writeBpeVocab]] artifact,
    * digest- and consistency-verified: the reserved block must sit
    * CONTIGUOUSLY directly above the vocabulary's max id (a registry
    * whose reserved ids overlap or float above the vocab was derived
    * from a different vocab — the silent-collision hazard this
    * registry exists to kill) and `embedding_size` must equal the max
    * reserved id + 1. REFUSES a legacy artifact with no registry
    * block: a caller about to pack with an eos id must not fall back
    * to re-deriving max(token_id) + 1. */
  def readBpeSpecials(spark: org.apache.spark.sql.SparkSession,
      path: String): BpeSpecials = {
    val metaDf = LakeRead.parquet(spark, s"$path/vocab_meta")
    val meta = metaDf.collect()
    require(meta.length == 1,
      s"vocab meta must hold exactly one row (got ${meta.length})")
    require(metaDf.columns.contains("n_specials") &&
      meta.head.getAs[Long]("n_specials") > 0L,
      s"vocabulary artifact at $path has NO special-token registry — " +
        "it was landed with the legacy no-specials writeBpeVocab. " +
        "Re-land it with writeBpeVocab(..., specials = Seq(\"eos\", " +
        "...)); do NOT fall back to re-deriving eos as " +
        "max(token_id) + 1 (a stale derivation collides with real " +
        "vocabulary ids)")
    val nSpecials = meta.head.getAs[Long]("n_specials")
    // the registry read and the vocab max are INDEPENDENT bounded
    // jobs — overlapped (round 20, guide §2.6): readBpeSpecials runs
    // once per artifact consumer and its three sequential driver round
    // trips were pure fixed cost
    val two = graft.operators.DriverPool.all[AnyRef](Seq(
      () => LakeRead.parquet(spark, s"$path/specials")
        .select(col("name"), col("token_id")).orderBy("token_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
      () => java.lang.Long.valueOf(LakeRead.parquet(spark, s"$path/vocab")
        .agg(max(col("token_id"))).collect().head.getLong(0))))
    val reserved = two.head.asInstanceOf[Seq[(String, Long)]]
    val stored = meta.head.getAs[String]("specials_digest")
    val computed = specialsDigest(reserved)
    require(reserved.size.toLong == nSpecials && stored == computed,
      s"special-token registry corrupt: stored n=$nSpecials/" +
        s"digest=$stored, read n=${reserved.size}/digest=$computed")
    val maxVocabId = two(1).asInstanceOf[java.lang.Long].longValue()
    val ids = reserved.map(_._2)
    require(ids.min == maxVocabId + 1 &&
      ids.max == maxVocabId + reserved.size,
      s"special-token registry inconsistent with its vocabulary: " +
        s"reserved ids [${ids.min}, ${ids.max}] must sit contiguously " +
        s"above max vocab id $maxVocabId — the vocab table was " +
        "re-landed without its registry (stale registry, silent " +
        "eos collision)")
    val embeddingSize = meta.head.getAs[Long]("embedding_size")
    require(embeddingSize == ids.max + 1,
      s"special-token registry corrupt: embedding_size " +
        s"$embeddingSize != max reserved id ${ids.max} + 1")
    BpeSpecials(reserved.toMap, embeddingSize)
  }

  private def vocabDigest(
      rows: Array[(Long, String, Boolean)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, t, b) =>
      md.update(s"$id:$t:$b\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Load a [[writeBpeVocab]] artifact, digest- and count-verified. */
  def readBpeVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val rows = LakeRead.parquet(spark, s"$path/vocab")
      .select(col("token_id"), col("token"), col("is_base"))
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val meta = LakeRead.parquet(spark, s"$path/vocab_meta").collect()
    require(meta.length == 1,
      s"vocab meta must hold exactly one row (got ${meta.length})")
    val stored = meta.head.getString(1)
    val computed = vocabDigest(rows)
    require(meta.head.getLong(0) == rows.length && stored == computed,
      s"bpe vocab artifact corrupt: stored n=${meta.head.getLong(0)}/" +
        s"digest=$stored, read n=${rows.length}/digest=$computed")
    import spark.implicits._
    rows.toSeq.toDF("token_id", "token", "is_base")
  }

  /** Encode to token IDS: the [[bpeTokenize]] piece stream joined to
    * a [[bpeVocabulary]] table — one broadcast join (the vocabulary
    * is alphabet-bounded), zero additional shuffle over the tokenize
    * pass. LEFT join: a piece absent from the vocabulary (only
    * possible when encoding a DIFFERENT corpus than the vocabulary
    * was built on, in a non-closed mode) surfaces as a null
    * `token_id` for the caller to audit rather than silently
    * vanishing.
    *
    * `unk`, when set, maps those nulls to the REGISTERED unk id
    * instead (pass `readBpeSpecials(...).unk` — never an ad-hoc
    * constant): the stream becomes trainer-ready (no nulls to filter,
    * so positions stay contiguous through [[Sampling.packTokens]])
    * while the audit signal SURVIVES as `token_id == unk` — the unk
    * id is reserved ABOVE the vocabulary, so no real piece can carry
    * it and an unk count is exactly the old null count. */
  def bpeEncodeIds(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], vocab: DataFrame,
      unicode: Boolean = false,
      byteFallback: Boolean = false,
      unk: Option[Long] = None,
      pretok: Boolean = false): DataFrame =
    bpeTokenize(df, textCol, idCol, merges, unicode, byteFallback,
      pretok = pretok)
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col("doc_id"), col("pos"), col("token"),
        unk.fold(col("token_id"))(u =>
          coalesce(col("token_id"), lit(u))).as("token_id"))

  /** A persisted tokenizer model: the learned merge list in learning
    * order plus the mode flags it was learned under — what
    * [[readBpeModel]] returns and every encode entry point accepts.
    * The digest is the write-time content attestation (md5 over
    * `step:lhs:rhs` lines in step order), re-verified on read. */
  final case class BpeModel(merges: Seq[(String, String)],
      unicode: Boolean, byteFallback: Boolean, digest: String,
      pretok: Boolean = false)

  private def bpeModelDigest(merges: Seq[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      md.update(s"${i + 1}:$l:$r\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist a learned merge list as the tokenizer ARTIFACT a
    * training run ships beside its shards: `path/merges` (one row per
    * merge, learning order) + `path/meta` (ONE row: the mode flags
    * the list was learned under, the merge count, and a content
    * digest). The flags travel WITH the list because an encode under
    * the wrong word class silently degrades to OOV passthrough — the
    * model, not the call site, owns that decision; [[readBpeModel]]
    * refuses a corrupt or truncated artifact (digest + count
    * re-verified). Overwrite semantics, so streamed replays converge
    * on the same artifact (the lake versioning discipline). */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
      path: String, merges: Seq[(String, String)],
      unicode: Boolean = false, byteFallback: Boolean = false,
      pretok: Boolean = false): Unit = {
    require(merges.nonEmpty && merges.size <= 65536,
      s"merges must be 1..65536 pairs (got ${merges.size})")
    require(!pretok || byteFallback,
      "pretok requires byteFallback: pretok pieces include " +
        "punctuation runs, which only the byte alphabet closes over")
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r) }
      .toDF("step", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    Seq((unicode, byteFallback, merges.size.toLong,
        bpeModelDigest(merges), pretok))
      .toDF("unicode", "byte_fallback", "n_merges", "digest", "pretok")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeBpeModel]] artifact. The merge list is
    * driver-bounded by construction (≤65536 rows — the same bound
    * every encode entry point enforces); the stored digest and count
    * must match the re-computation over the read-back rows, so a
    * partially-written or hand-edited artifact fails loudly instead
    * of encoding under a silently different vocabulary. */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession,
      path: String): BpeModel = {
    val merges = LakeRead.parquet(spark, s"$path/merges")
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val metaDf = LakeRead.parquet(spark, s"$path/meta")
    val meta = metaDf.collect()
    require(meta.length == 1,
      s"bpe model meta must hold exactly one row (got ${meta.length})")
    val m = meta.head
    val stored = m.getAs[String]("digest")
    val computed = bpeModelDigest(merges)
    require(m.getAs[Long]("n_merges") == merges.size &&
      stored == computed,
      s"bpe model artifact corrupt: stored n=${m.getAs[Long](
        "n_merges")}/digest=$stored, read n=${merges.size}/" +
        s"digest=$computed")
    // pre-round-19 artifacts have no pretok column — class-run mode
    val pretok = metaDf.columns.contains("pretok") &&
      m.getAs[Boolean]("pretok")
    BpeModel(merges, m.getAs[Boolean]("unicode"),
      m.getAs[Boolean]("byte_fallback"), stored, pretok)
  }

  /** The chained-regex encoder the native expression replaced — kept
    * as the independently-derived reference twin for the differential
    * spec and the scale probe's A/B (it IS the oracle's `replace`
    * chain, expression for expression). Not for production use: one
    * regex scan + string rebuild per merge per word. */
  def bpeTokenCountsChained(df: DataFrame, textCol: String,
      idCol: String, merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty && merges.size <= 64,
      s"merges must be 1..64 literal pairs (got ${merges.size})")
    val words = split(trim(lower(col(textCol))), "\\s+")
    def nTok(w: org.apache.spark.sql.Column) = {
      val enc0 = regexp_replace(w, "(.)", S + "$1" + S)
      val enc = merges.foldLeft(enc0) { case (e, (l, r)) =>
        regexp_replace(e,
          java.util.regex.Pattern.quote(S + l + S + S + r + S),
          java.util.regex.Matcher.quoteReplacement(S + l + r + S))
      }
      size(split(org.apache.spark.sql.functions.trim(enc, S), S + S))
        .cast("long")
    }
    df.select(col(idCol).as("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L),
        (acc, w) => acc + when(w.rlike("^[a-z]+$"), nTok(w))
          .otherwise(lit(1L))).as("n_tokens"))
  }
}
