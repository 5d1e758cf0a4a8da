package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for pipeline reproducibility.
  *
  * `rand()`-based sampling changes across runs and partitions; pipelines
  * that must be re-runnable (and auditable) sample by a content-derived
  * priority instead: hash the row id with a salt, keep the k smallest per
  * group. Same inputs → same sample, on any cluster, in any engine that
  * can compute the same hash. One window shuffle keyed by the group. */
object Sampling {

  def samplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int, salt: String = "graft"): DataFrame = {
    val priority = md5(concat(col(idCol).cast("string"), lit(salt)))
    val w = Window.partitionBy(groupCol)
      .orderBy(priority.asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic train/val/test split: each row lands in the band of
    * the md5 hash space of its id that its bucket (0–99) falls into —
    * stable across runs, engines, and cluster layouts, and a pure per-row
    * projection (NO shuffle; stratification comes from grouping the
    * result by stratum downstream, which is why hash splits beat
    * `randomSplit` for reproducible pipelines). `bands` are
    * (name, exclusive-upper-percent) cut points in ascending order; the
    * last band absorbs the remainder. */
  def hashSplit(df: DataFrame, idCol: String, bands: Seq[(String, Int)],
      salt: String = "graft", as: String = "split"): DataFrame = {
    require(bands.size >= 2 && bands.init.map(_._2) == bands.init.map(_._2).sorted,
      "bands must be >= 2 ascending cut points")
    val bucket = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(salt))), 1, 8), 16, 10).cast("long") % 100
    val first = when(bucket < bands.head._2, bands.head._1)
    val chained = bands.tail.init.foldLeft(first) {
      case (acc, (name, hi)) => acc.when(bucket < hi, name)
    }
    df.withColumn(as, chained.otherwise(bands.last._1))
  }

  /** Token-budget sequence packing: lay documents out in deterministic id
    * order within each group and cut a new training batch at every
    * `budget` of cumulative token count — bin = ⌊tokens-before / budget⌋.
    * A document straddling a boundary joins the bin its first token falls
    * in, so bins overflow by strictly less than one document (strict
    * first-fit is a sequential scan no engine parallelizes; this
    * prefix-sum form is one window shuffle keyed by the group). Token
    * counts are exact longs → engine-exact bin assignment. */
  def packByBudget(df: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, budget: Long, as: String = "bin"): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn(as, expr(s"CAST(__cum DIV $budget AS BIGINT)"))
      .drop("__cum")
  }

  /** Training-data source mixing: draw a deterministic sample whose
    * per-group sizes follow the given weights (nₘ = ⌊weightₘ × total⌋) —
    * the "mixture proportions" step of corpus assembly (e.g. 60% web,
    * 30% code, 10% books), with the same hash-priority reproducibility
    * as [[samplePerGroup]]. Groups short of their allocation contribute
    * everything they have. One window shuffle keyed by the group. */
  def weightedMix(df: DataFrame, groupCol: String, idCol: String,
      weights: Map[String, Double], total: Long,
      salt: String = "graft"): DataFrame = {
    val priority = md5(concat(col(idCol).cast("string"), lit(salt)))
    val w = Window.partitionBy(groupCol)
      .orderBy(priority.asc, col(idCol).asc)
    val alloc = weights.foldLeft(lit(0L)) { case (acc, (g, wt)) =>
      when(col(groupCol) === g, lit((wt * total).toLong)).otherwise(acc)
    }
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= alloc).drop("__rn")
  }

  /** Temperature-scaled source mixing — the alpha/temperature sampling
    * rule of multilingual and LLM corpus assembly (XLM-R's exponent-
    * smoothed language sampling; GPT-3's non-proportional dataset
    * weights): source m receives alloc_m ∝ n_m^tau of the `total`
    * budget. tau = 1 is proportional, tau → 0 approaches uniform,
    * tau < 1 up-samples tail sources relative to their size.
    *
    * Allocations are computed in INTEGER arithmetic from
    * W_m = round(1e6 · n_m^tau): alloc_m = ⌊total · W_m / ΣW⌋ (BigInt
    * on the driver, so no overflow and no float sum-order sensitivity)
    * — engine-exact, which is what makes the draw oracle-checkable.
    * The draw itself is the [[weightedMix]] hash-priority rank: one
    * window shuffle keyed by the group. Driver action: one count row
    * per source (O(sources), same class as normalize's min/max).
    * tau = 0.5 routes through sqrt (IEEE-exact in every engine); other
    * taus use pow (libm ulp differences possible — fine in production,
    * use 0.5 where a cross-engine oracle must replicate the math). */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
      tau: Double, total: Long, salt: String = "graft"): DataFrame = {
    val f: Double => Double =
      if (tau == 0.5) math.sqrt else x => math.pow(x, tau)
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val w = counts.map { case (g, n) => g -> math.round(1e6 * f(n.toDouble)) }
    val z = w.map(x => BigInt(x._2)).sum
    val priority = md5(concat(col(idCol).cast("string"), lit(salt)))
    val win = Window.partitionBy(groupCol)
      .orderBy(priority.asc, col(idCol).asc)
    val alloc = w.foldLeft(lit(0L)) { case (acc, (g, wi)) =>
      when(col(groupCol) === g,
        lit(((BigInt(total) * wi) / z).toLong)).otherwise(acc)
    }
    df.withColumn("__rn", row_number().over(win))
      .where(col("__rn") <= alloc).drop("__rn")
  }

  /** Weighted sampling WITHOUT replacement, k per group (Efraimidis &
    * Spirakis A-ES, IPL 2006): each row draws a deterministic uniform
    * u ∈ (0, 1] from the md5 hash of its id and keeps a priority
    * `ln(u)/w` — the k LARGEST priorities are exactly a weight-
    * proportional draw without replacement (u^(1/w) order, in log space
    * to avoid pow). The uniform comes from the first 8 hex digits of the
    * hash (+1 so u is never 0), so the sample is a pure function of
    * (id, salt, weight): same inputs → same sample on any cluster AND in
    * any engine that can md5 — which is what makes it oracle-checkable
    * and audit-reproducible, unlike `rand()`-based weighted sampling.
    * One window shuffle keyed by the group, per-row arithmetic only. */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int, salt: String = "graft"): DataFrame = {
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
      lit(salt))), 1, 8), 16, 10).cast("double") + 1.0) / 4294967296.0
    val priority = log(u) / col(weightCol)
    val w = Window.partitionBy(groupCol)
      .orderBy(priority.desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic training-shard assignment — the output-layout step
    * after curation/selection: lay the corpus out in a reproducible
    * pseudo-random global order (md5 of the id, the hash-split
    * discipline: engine-replayable and decorrelated from ingest order)
    * and cut a new shard every `shardWeight` of running weight —
    * shard = ⌊weight-before / shardWeight⌋, so each document lands
    * wholly in the shard where it starts (the same greedy crossing
    * rule as the token-budget gate). Returns
    * (idCol, weightCol, shard, offset) with offset = weight before the
    * document within its shard.
    *
    * Scalable global running sum WITHOUT a one-partition window: range
    * sort on the hash key, then the classic two-pass scan — one
    * bounded job collects a single long per partition, the prefix
    * offsets broadcast back, and the second pass emits cumulative
    * weights partition-locally. The sorted frame persists between the
    * two passes (tracked — released with the operator pool), so the
    * sort runs once. Same RDD discipline as
    * [[Analytics.distributedRank]] / `EnergySeries.ldc`.
    */
  def shardAssign(df: DataFrame, idCol: String, weightCol: String,
      shardWeight: Long, salt: String = "graft",
      startWeight: Long = 0L): DataFrame =
    shardAssignCounted(df, idCol, weightCol, shardWeight, salt,
      startWeight)._1

  /** [[shardAssign]] that ALSO returns (row count, total weight) of the
    * batch — both are already computed by the running sum's bounded
    * per-partition pass, so a caller that needs them (the streaming
    * layout's landing stats) saves one whole aggregate job per call
    * (guide §1.2: don't compute things twice). */
  private[graft] def shardAssignCounted(df: DataFrame, idCol: String,
      weightCol: String, shardWeight: Long, salt: String = "graft",
      startWeight: Long = 0L): (DataFrame, Long, Long) = {
    require(shardWeight > 0, s"shardWeight must be > 0 (got $shardWeight)")
    require(startWeight >= 0,
      s"startWeight must be >= 0 (got $startWeight)")
    assignSorted(Dedup.tracked(df
      .select(col(idCol), col(weightCol).cast("long").as(weightCol))
      .withColumn("__k",
        md5(concat(col(idCol).cast("string"), lit(salt))))
      .orderBy(col("__k"), col(idCol))
      .select(col(idCol), col(weightCol))), shardWeight, startWeight)
  }

  /** [[shardAssign]] with an EXPLICIT curriculum order instead of the
    * md5 decorrelation: documents stream into shards in
    * (`orderCol`, id) order — e.g. a quality or difficulty score —
    * so shard k is strictly "earlier curriculum" than shard k+1 and
    * a trainer consuming shards in order gets the schedule
    * (easy-first, quality-ascending, …) for free. Same greedy
    * crossing rule, same two-pass running sum, same
    * (id, weight, shard, offset) contract as [[shardAssign]]; use
    * the hash form when training wants decorrelated shards (the
    * default for a reason — curriculum layouts trade shuffle-
    * robustness for schedule). `startWeight` continues an existing
    * layout's running weight (the streaming append's cursor) — NOTE
    * the streamed-curriculum contract that implies: each increment is
    * curriculum-ordered WITHIN itself, so the global layout order is
    * (batch, orderCol, id), never a retroactive global re-sort (an
    * increment cannot know scores that haven't arrived; a trainer
    * that needs a strict global curriculum must lay out in batch). */
  def shardAssignOrdered(df: DataFrame, idCol: String,
      weightCol: String, orderCol: String,
      shardWeight: Long, startWeight: Long = 0L): DataFrame =
    shardAssignOrderedCounted(df, idCol, weightCol, orderCol,
      shardWeight, startWeight)._1

  /** [[shardAssignOrdered]] returning (assignment, row count, total
    * weight) — see [[shardAssignCounted]]. */
  private[graft] def shardAssignOrderedCounted(df: DataFrame,
      idCol: String, weightCol: String, orderCol: String,
      shardWeight: Long, startWeight: Long = 0L)
      : (DataFrame, Long, Long) = {
    require(shardWeight > 0, s"shardWeight must be > 0 (got $shardWeight)")
    require(startWeight >= 0,
      s"startWeight must be >= 0 (got $startWeight)")
    assignSorted(Dedup.tracked(df
      .select(col(idCol), col(weightCol).cast("long").as(weightCol),
        col(orderCol))
      .orderBy(col(orderCol), col(idCol))
      .select(col(idCol), col(weightCol))), shardWeight, startWeight)
  }

  /** The shared tail of the shard assigners: the two-pass running sum
    * over an already-range-sorted (id, weight) frame — one bounded
    * job collects a single long per partition, prefix offsets
    * broadcast back, second pass emits (shard, offset)
    * partition-locally. `startWeight` continues an existing layout's
    * running weight (the streaming append's cursor). */
  private def assignSorted(sorted: DataFrame, shardWeight: Long,
      startWeight: Long): (DataFrame, Long, Long) = {
    val spark = sorted.sparkSession
    val rdd = sorted.rdd
    // one bounded job: per-partition weight totals AND row counts —
    // the counts ride for free, so callers never re-aggregate them
    val partStats = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L; var n = 0L
      it.foreach { r => s += r.getLong(1); n += 1L }
      Iterator((i, s, n))
    }.collect().sortBy(_._1)
    val partTotals = partStats.map(_._2)
    val prefixes = partTotals.scanLeft(startWeight)(_ + _)
    val bc = spark.sparkContext.broadcast(prefixes)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("offset",
          org.apache.spark.sql.types.LongType, nullable = false)))
    (spark.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        var cum = bc.value(i)
        it.map { r =>
          val w = r.getLong(1); val before = cum; cum += w
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++
            Seq(before / shardWeight, before % shardWeight))
        }
      }, schema),
      partStats.map(_._3).sum, partTotals.sum)
  }

  /** Physical shard layout writer — land a [[shardAssign]] result as a
    * `shard=N/`-partitioned parquet table, the directory layout a
    * training loader consumes (open shard k, stream rows in `offset`
    * order).
    *
    * NO SECOND GLOBAL SORT and no shuffle of any kind: the assignment
    * frame is already range-ordered by the layout key (shards are
    * monotone across its partitions — that is what shardAssign's
    * two-pass running sum produces, and its sorted frame is persisted
    * by the time the assignment returns), so each write task holds a
    * CONTIGUOUS shard range and `partitionBy` fans its rows into at
    * most (1 + shards-spanned) files. The only plan node the write may
    * add is the task-local sort-by-partition-column V1 writes require
    * — over already-shard-ordered rows, never an Exchange (spec'd with
    * a shuffle-bytes-is-zero listener). A shard spanning a task
    * boundary lands as two files in its directory; `offset` carries
    * the intra-shard order, so readers never depend on file order. At
    * 100 TB this is the cheapest possible layout step: the corpus
    * moves once in the assignment's metadata-only sort and then
    * streams task-locally to its final directories. */
  def writeShards(assigned: DataFrame, path: String,
      shardCol: String = "shard"): Unit =
    assigned.write.mode("overwrite").partitionBy(shardCol).parquet(path)

  /** Per-shard provenance manifest — the reproducibility attestation a
    * training run records beside its shards: for every shard, the doc
    * count, the token sum, and an ORDER-SENSITIVE content digest (md5
    * of the comma-joined doc ids in offset order — two layouts agree
    * iff every shard holds the same docs in the same order). One
    * shard-keyed aggregate over the assignment (or the read-back
    * layout — both carry (shard, offset)); the digest input is
    * shard-sized, bounded by shardWeight. */
  def shardManifest(assigned: DataFrame, idCol: String = "doc_id",
      weightCol: String = "n_tokens"): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).as(weightCol),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("offset"),
            col(idCol).cast("string").as("__id")))),
          s => s.getField("__id")), ",")).as("digest"))

  /** Fixed-length training-SEQUENCE packing — the concat-and-split
    * discipline an autoregressive trainer consumes: lay every token of
    * every document out in one deterministic stream (document order,
    * then 1-based position order within the document) and cut a
    * training sequence every `seqLen` tokens. Unlike [[packByBudget]]
    * (whole-document bins that overflow rather than split), a document
    * STRADDLES sequence boundaries — its tail tokens continue in the
    * next sequence — so every sequence except the stream's last is
    * exactly `seqLen` long: zero padding waste, the property that
    * makes this the packing GPT-style training runs use.
    *
    * Input: one row per token, `posCol` 1-based and consecutive within
    * its document (what [[graft.operators.Tokenizer.bpeTokenize]]
    * emits; a whitespace `posexplode` + 1 works the same). Output: the
    * token rows with `seq` (sequence id) and `seq_off` (0-based offset
    * within the sequence) appended.
    *
    * Scale shape: the cumulative document offsets come from per-doc
    * token COUNTS, never from a window over the token stream itself.
    * Grouped form (`groupCol` set — e.g. a [[shardAssign]] shard,
    * ordered within the group by `orderCol`): sequences number per
    * group and the doc-summary running sum is one window whose
    * partitions are group-sized (bounded by construction when the
    * group is a weight-capped shard) — fully parallel, no global
    * barrier. Global form (`groupCol` None, stream ordered by
    * `docIdCol`): the doc-summary running sum uses the same two-pass
    * scan as [[shardAssign]] (range sort on the summaries, one long
    * per partition to the driver, prefix offsets broadcast back — no
    * one-partition window). Either way the per-TOKEN work is one
    * doc-keyed aggregate plus one doc-keyed join (same key → the join
    * reuses the aggregate's partitioning) and a map-only div/mod. */
  def packTokens(tokens: DataFrame, seqLen: Long,
      docIdCol: String = "doc_id", posCol: String = "pos",
      tokenCol: String = "token",
      groupCol: Option[String] = None,
      orderCol: Option[String] = None): DataFrame = {
    // CONTRACT: groupCol and orderCol must be DOC-CONSTANT (one value
    // per document — e.g. a shardAssign's (shard, offset)). They enter
    // the per-doc count's GROUP KEYS, so a per-token-varying orderCol
    // would silently fragment each document into several count groups
    // and corrupt seq/seq_off. Validating would cost an extra
    // aggregate per call; the shard layouts satisfy it by
    // construction, and OperatorsSpec pins the fragmenting shape.
    // posCol contiguity, by contrast, IS validated (the guard below
    // rides the existing aggregate for free).
    require(seqLen > 0, s"seqLen must be > 0 (got $seqLen)")
    require(orderCol.isEmpty || groupCol.nonEmpty,
      "orderCol orders documents WITHIN a group; pass groupCol with it")
    val docKeys = (groupCol.toSeq ++ orderCol.toSeq :+ docIdCol).distinct
    // __maxpos/__minpos/__npos ride the same aggregate for the
    // contiguity guard below — zero extra passes (the distinct count
    // adds a partial-distinct to the same shuffle, not a new one)
    val counts = tokens.groupBy(docKeys.map(col): _*)
      .agg(count(lit(1)).as("__n"), max(col(posCol)).as("__maxpos"),
        min(col(posCol)).as("__minpos"),
        count_distinct(col(posCol)).as("__npos"))
    val starts = groupCol match {
      case Some(g) =>
        val w = Window.partitionBy(col(g))
          .orderBy((orderCol.toSeq :+ docIdCol).map(col): _*)
          .rowsBetween(Window.unboundedPreceding, -1)
        counts.withColumn("__start",
          coalesce(sum(col("__n")).over(w), lit(0L)))
      case None =>
        runningStarts(counts, orderCol.toSeq :+ docIdCol)
    }
    val joinKeys = (groupCol.toSeq :+ docIdCol).distinct
    // POSITION-CONTIGUITY GUARD: gi = __start + pos - 1 is only the
    // concat-and-split when posCol is 1-based consecutive per doc —
    // an upstream filter that drops tokens MID-document (the classic
    // case: a null-id filter under a frozen vocabulary encoding
    // unseen text) leaves pos gaps that would silently produce holey
    // / overlapping (seq, seq_off) slots. The EXHAUSTIVE check:
    // min(pos) == 1 AND max(pos) == count AND count(distinct pos) ==
    // count together force the multiset to be exactly {1..n} (max
    // alone lets a duplicate mask a gap — 1,2,2,4 has max=count=4;
    // distinct-count alone lets 0,2,3,4 pass; the min pins the base).
    // All three ride the counts aggregate — no extra pass; the check
    // is embedded in the seq expression so column pruning can never
    // drop it, and it raises per-row with the offending doc named.
    // Callers that legitimately filter must re-derive positions
    // (row_number over the doc in pos order) before packing.
    val guard = coalesce(
      assert_true(col("__maxpos") === col("__n") &&
          col("__minpos") === lit(1L) && col("__npos") === col("__n"),
        concat(lit("packTokens: non-contiguous positions in document "),
          col(docIdCol).cast("string"),
          lit(s" — min/max/distinct($posCol)=("),
          col("__minpos").cast("string"), lit(","),
          col("__maxpos").cast("string"), lit(","),
          col("__npos").cast("string"),
          lit(") vs token count="), col("__n").cast("string"),
          lit(s"; $posCol must be 1-based consecutive (an upstream " +
            "filter dropped tokens mid-document? re-derive positions " +
            "with row_number before packing)"))).cast("long"),
      lit(0L))
    val gi = col("__start") + col(posCol) - 1 + guard
    tokens.join(starts.select((joinKeys.map(col) :+ col("__start") :+
        col("__n") :+ col("__maxpos") :+ col("__minpos") :+
        col("__npos")): _*), joinKeys)
      .withColumn("seq", (gi / seqLen).cast("long"))
      .withColumn("seq_off", (gi % seqLen).cast("long"))
      .drop("__start", "__n", "__maxpos", "__minpos", "__npos")
  }

  /** Append one SEPARATOR token (an EOS/document-boundary marker) to
    * every document's stream — the boundary discipline autoregressive
    * trainers rely on when [[packTokens]] concatenates documents into
    * one stream (without it, the model sees doc B's first token as a
    * continuation of doc A). One doc-keyed aggregate emits the
    * separator rows at `max(pos) + 1`.
    *
    * `keys` names the document identity (plus any ride-along columns
    * like shard/offset) EXPLICITLY; when empty, every column other
    * than pos/token is inferred as a key — in that form every
    * remaining column MUST be doc-constant (a per-token score in the
    * inferred key set would silently emit one separator per distinct
    * combination instead of one per document; pass explicit keys to
    * drop such columns instead). Explicit keys also fix the output
    * schema to (keys, pos, token), so per-token extras never leak
    * into the group. */
  def appendDocSeparator(tokens: DataFrame, sep: String,
      posCol: String = "pos", tokenCol: String = "token",
      keys: Seq[String] = Seq.empty): DataFrame = {
    require(!keys.contains(posCol) && !keys.contains(tokenCol),
      s"keys must not include $posCol/$tokenCol")
    val ks =
      if (keys.nonEmpty) keys
      else tokens.columns.filterNot(c => c == posCol || c == tokenCol)
        .toSeq
    require(ks.nonEmpty,
      "tokens must carry at least a document id beside pos/token")
    val base =
      if (keys.nonEmpty)
        tokens.select((ks :+ posCol :+ tokenCol).map(col): _*)
      else tokens
    val seps = base.groupBy(ks.map(col): _*)
      .agg((max(col(posCol)) + 1).as(posCol))
      .withColumn(tokenCol, lit(sep))
      .select(base.columns.map(col).toSeq: _*)
    base.unionByName(seps)
  }

  /** Prepend one START token (a BOS/document-start marker) to every
    * document's stream — [[appendDocSeparator]]'s twin for
    * bos-disciplined trainers: the BOS row takes position 1 and every
    * existing position shifts up by one, so the [[packTokens]]
    * contract (1-based consecutive) holds by construction. Same key
    * inference and explicit-keys escape as the separator; cost is one
    * doc-keyed distinct (the BOS row set) plus a per-row projection
    * (the shift) — no window, no join. Compose bos-then-eos as
    * `appendDocSeparator(prependDocStart(tokens, bos), eos)`: the eos
    * lands at max(pos)+1 of the SHIFTED stream, after every real
    * token. */
  def prependDocStart(tokens: DataFrame, bos: String,
      posCol: String = "pos", tokenCol: String = "token",
      keys: Seq[String] = Seq.empty): DataFrame = {
    require(!keys.contains(posCol) && !keys.contains(tokenCol),
      s"keys must not include $posCol/$tokenCol")
    val ks =
      if (keys.nonEmpty) keys
      else tokens.columns.filterNot(c => c == posCol || c == tokenCol)
        .toSeq
    require(ks.nonEmpty,
      "tokens must carry at least a document id beside pos/token")
    val base =
      if (keys.nonEmpty)
        tokens.select((ks :+ posCol :+ tokenCol).map(col): _*)
      else tokens
    val bosRows = base.select(ks.map(col): _*).distinct()
      .withColumn(posCol, lit(1L))
      .withColumn(tokenCol, lit(bos))
      .select(base.columns.map(col).toSeq: _*)
    base.withColumn(posCol, col(posCol) + 1)
      .unionByName(bosRows)
  }

  /** Per-sequence DOCUMENT SPANS over a [[packTokens]] result — where
    * each document's tokens sit inside its packed sequence (start
    * offset + length), the boundary metadata an attention-masking
    * trainer consumes to reset attention at document boundaries.
    * Spans are contiguous by construction (a document's tokens are
    * consecutive in the stream), so ONE aggregate keyed by
    * (group?, seq, doc) suffices — no window, no join. */
  def sequenceSpans(packed: DataFrame, docIdCol: String = "doc_id",
      groupCol: Option[String] = None): DataFrame =
    packed.groupBy((groupCol.toSeq :+ "seq" :+ docIdCol).map(col): _*)
      .agg(min(col("seq_off")).as("start_off"),
        count(lit(1)).as("n_tokens"))

  /** Collapse a [[packTokens]] id stream into ONE ROW PER SEQUENCE —
    * the physical trainer-batch shape: `ids` the fixed-length token-id
    * array in seq_off order, `spans` the per-document (doc_id,
    * start_off, n_tokens) structs in start order, and an
    * order-sensitive `ids_digest` (md5 of the comma-joined ids) as the
    * row's content attestation. Two sequence-keyed aggregates (doc
    * fragments, then the sequence fold — the second reuses the first's
    * partitioning); state per group is one sequence's ids, bounded by
    * seqLen. Every sequence except each stream's last is exactly
    * seqLen long (the packTokens contract) — `n_ids` lands in the row
    * so a loader can drop or pad the tail without rescanning.
    *
    * `padTo = Some((seqLen, padId))` makes the artifact LOADER-FINAL:
    * each stream's tail sequence is right-padded with `padId` (the
    * REGISTERED pad id from the vocabulary artifact's special-token
    * registry, [[graft.operators.Tokenizer.readBpeSpecials]] — never
    * an ad-hoc constant) to exactly `seqLen` ids, so every row's
    * `ids` array is the fixed length a trainer mmaps with no
    * loader-side branch. `n_ids` still records the REAL (pre-pad)
    * length and `spans` never cover pad positions, so an
    * attention-masking loader masks the pad run for free;
    * `ids_digest` attests the ids AS LANDED (pad included). Pure
    * per-row projection — no extra pass. */
  def packSequences(packed: DataFrame, docIdCol: String = "doc_id",
      tokenCol: String = "token",
      groupCol: Option[String] = None,
      padTo: Option[(Long, Long)] = None): DataFrame = {
    padTo.foreach { case (len, _) =>
      require(len > 0, s"padTo seqLen must be > 0 (got $len)") }
    val gks = groupCol.toSeq.map(col)
    val frags = packed
      .groupBy((gks :+ col("seq") :+ col(docIdCol)): _*)
      .agg(min(col("seq_off")).as("start_off"),
        count(lit(1)).as("n_tokens"),
        transform(array_sort(collect_list(struct(col("seq_off"),
            col(tokenCol).cast("long").as("__id")))),
          s => s.getField("__id")).as("__ids"))
    val rows = frags.groupBy((gks :+ col("seq")): _*)
      .agg(flatten(transform(array_sort(collect_list(struct(
            col("start_off"), col("__ids").as("__f")))),
          s => s.getField("__f"))).as("ids"),
        array_sort(collect_list(struct(col("start_off"),
          col(docIdCol).cast("long").as("doc_id"),
          col("n_tokens")))).as("spans"),
        sum(col("n_tokens")).as("n_ids"))
    val padded = padTo.fold(rows) { case (len, padId) =>
      // pad run = seqLen - n_ids (0 for every full sequence; the
      // greatest() guards a caller passing a len below the pack's —
      // over-long rows keep their real ids rather than truncating)
      rows.withColumn("ids", concat(col("ids"),
        array_repeat(lit(padId),
          greatest(lit(0L), lit(len) - col("n_ids")).cast("int"))))
    }
    padded.withColumn("ids_digest",
        md5(array_join(transform(col("ids"),
          i => i.cast("string")), ",")))
  }

  /** Land a [[packSequences]] result as the on-disk TRAINER-BATCH
    * artifact — `path/sequences` (one row per sequence: ids, spans,
    * n_ids, ids_digest, plus the group column when present, carried
    * as a partition directory) and `path/sequences_meta` (ONE row:
    * sequence count, total ids, and an order-insensitive fold of the
    * per-row digests — the artifact-level attestation [[readSequences]]
    * re-verifies, the writeBpeModel/writeBpeVocab discipline).
    * Overwrite semantics, so replays converge on the same artifact.
    * Returns the landed meta values (count, id total, digest fold) —
    * already computed for the meta row, so a caller verifying its own
    * fold (the sequence-lake compaction) never re-reads the artifact
    * it just wrote (guide §1.2). */
  def writeSequences(seqs: DataFrame, path: String,
      groupCol: Option[String] = None): SequencesMeta = {
    val spark = seqs.sparkSession
    import spark.implicits._
    // ONE execution of the (two-aggregate) packSequences plan: a lazy
    // tracked PERSIST — the emptiness probe computes (and caches) the
    // first partitions, the write completes the cache reusing the
    // probe's shuffle stages, and the meta aggregate reads cached
    // blocks. Round 20 swapped the previous EAGER lineage cut for
    // this: same single evaluation of the packing shuffles, one fewer
    // full pass + driver job per landing (the cut's standalone
    // materialization — guide §1.2/§5). Probing the raw plan would
    // still run both shuffles once for the probe and again for the
    // write — the persist is what prevents that.
    val cut = Dedup.tracked(seqs)
    try {
      // loud on empty: a poll where nothing newly closed has nothing
      // to land (an empty parquet dir would also brick later reads,
      // and the meta aggregate's sum would be null) — the caller
      // skips the landing instead
      require(!cut.isEmpty,
        "writeSequences: no sequences to land (nothing newly " +
          "closed?) — skip the landing instead of writing an empty " +
          "artifact")
      // cluster the write by the partition column (guide §6): one
      // exchange of sequence rows buys one file per shard dir instead
      // of one per (task × shard) — the artifact is read back
      // digest-verified on EVERY consume, so halving its file count
      // pays on every later read; shard is weight-capped, so per-file
      // size stays bounded at any scale
      val w0 = groupCol.fold(cut)(g => cut.repartition(col(g)))
        .write.mode("overwrite")
      groupCol.fold(w0)(g => w0.partitionBy(g))
        .parquet(s"$path/sequences")
      // the meta row is computed from the CUT — the exact materialized
      // rows the write above landed — not from a re-read of the fresh
      // artifact: the values are identical by construction, and
      // [[readSequences]] re-verifies the landed files against this
      // meta on every read anyway, so a torn write is still caught at
      // the first consume while the write path saves one full
      // artifact read per landing (measured at bench scale as ~15% of
      // the landing call, SCALE.md round 19)
      val m = cut
        .agg(count(lit(1)).as("n"), sum(col("n_ids")).as("t"),
          sequencesFold().as("d"))
        .collect().head
      Seq((m.getLong(0), m.getLong(1), m.getString(2), FoldAlgo))
        .toDF("n_sequences", "n_ids", "digest", "fold_algo")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/sequences_meta")
      SequencesMeta(m.getLong(0), m.getLong(1), m.getString(2))
    } finally Lineage.free(cut)
  }

  /** The meta values a [[writeSequences]] landing attested — what the
    * artifact's `sequences_meta` row stores. */
  final case class SequencesMeta(nSequences: Long, nIds: Long,
      digest: String)

  /** The attestation fold's algorithm tag, stored in the meta row so
    * a future fold change VERSIONS instead of misdiagnosing every
    * pre-change artifact as corrupt (the round-17 xor→sum switch is
    * exactly the migration this guards; nothing persisted under the
    * short-lived xor, so v1 is the first tagged format). */
  private[graft] val FoldAlgo = "sum60v1"

  /** Order-insensitive artifact digest: SUM (exact, DECIMAL(38)) of
    * the per-row digests' first 15 hex digits (60 bits each; 10^9
    * rows stay under 10^28 << 10^38, so the sum never overflows) —
    * commutative, so it needs no global sort, and duplicate-SENSITIVE
    * unlike an xor fold (xor cancels paired duplicate corruption:
    * dropping two copies of row R and adding two of row S leaves an
    * xor unchanged; a sum moves by 2(S−R)). Two artifacts agree on
    * (count, n_ids, fold) for any non-adversarial corruption — torn
    * writes, dropped/duplicated rows, bit-flipped ids (the row digest
    * is md5, so a flipped id moves the prefix); see DEVIATIONS #19. */
  private def sequencesFold(): org.apache.spark.sql.Column =
    expr("cast(sum(cast(conv(substring(ids_digest, 1, 15), 16, 10) " +
      "AS DECIMAL(38,0))) AS STRING)")

  /** Read back a [[writeSequences]] artifact, count- and
    * digest-verified against its meta row (a torn or hand-edited
    * landing refuses loudly instead of feeding a trainer a silently
    * different batch set). */
  def readSequences(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    readSequencesBatched(spark, Seq(path))

  /** Read back SEVERAL [[writeSequences]] artifacts as one union, each
    * verified against its own meta row — the SAME three checks
    * [[readSequences]] runs per artifact (exactly one meta row, fold
    * algo tag, count+ids+digest equality), batched into TWO jobs total
    * (one meta-union collect, one dir-grouped verify aggregate)
    * instead of two jobs PER artifact (guide §1.2: the sequence lake's
    * per-poll artifact count made the 2-jobs-each verification the
    * dominant fixed cost of every lake read at bench scale). */
  private[graft] def readSequencesBatched(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readSequencesBatched needs >= 1 artifact")
    // metas: one narrow union collect (each meta is a one-row table).
    // The fold-algo column is resolved per artifact BEFORE the union
    // (schema-only — a legacy untagged artifact must refuse with the
    // version diagnosis, not break the union's analysis).
    val metas = paths.map { p =>
      val m = LakeRead.parquet(spark, s"$p/sequences_meta")
      val algo =
        if (m.columns.contains("fold_algo")) col("fold_algo")
        else lit("(untagged pre-v1)")
      m.select(lit(p).as("__dir"), col("n_sequences"), col("n_ids"),
        col("digest"), algo.as("fold_algo"))
    }.reduce(_.unionByName(_)).collect()
    val metaByDir = metas.groupBy(_.getString(0))
    paths.foreach { p =>
      val rows = metaByDir.getOrElse(p, Array.empty)
      require(rows.length == 1,
        s"sequences meta must hold exactly one row (got ${rows.length}" +
          s") at $p/sequences_meta")
      // algorithm tag first: a fold-format mismatch is a VERSION
      // problem, not corruption — refuse with the right diagnosis
      val storedAlgo = rows.head.getAs[String]("fold_algo")
      require(storedAlgo == FoldAlgo,
        s"sequences meta was attested with fold '$storedAlgo' but this " +
          s"reader verifies '$FoldAlgo' — re-land the artifact (or " +
          "read it with the matching engine version); this is a format " +
          "version mismatch, not corruption")
    }
    // one dir-tagged verify aggregate over every artifact's rows. A
    // dir whose data directory holds ZERO rows produces no group —
    // read back as (0, 0, "(empty)"), the same refusal the per-
    // artifact aggregate's coalesced nulls produced.
    def seqsOf(p: String) = LakeRead.parquet(spark, s"$p/sequences")
    val got = paths.map(p => seqsOf(p)
        .select(lit(p).as("__dir"), col("n_ids"), col("ids_digest")))
      .reduce(_.unionByName(_))
      .groupBy(col("__dir"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("n_ids")), lit(0L)).as("t"),
        coalesce(sequencesFold(), lit("(empty)")).as("d"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    paths.foreach { p =>
      val meta = metaByDir(p).head
      val (n, t, d) = got.getOrElse(p, (0L, 0L, "(empty)"))
      require(n == meta.getLong(1) && t == meta.getLong(2) &&
        d == meta.getAs[String]("digest"),
        s"sequences artifact corrupt: stored (n=${meta.getLong(1)}," +
          s" ids=${meta.getLong(2)}, digest=${meta.getString(3)})" +
          s" vs read (n=$n, ids=$t, digest=$d) at $p")
    }
    paths.map(seqsOf).reduce(_.unionByName(_))
  }

  /** Deterministic EPOCH SCHEDULE over packed training sequences —
    * the reproducible per-epoch shuffle a loader applies WITHOUT a
    * global sort: shards are visited in md5(shard, epoch) order and
    * sequences within a shard in md5(shard, seq, epoch) order — the
    * standard two-level shuffle real loaders use (shard-level +
    * intra-shard), which decorrelates epochs while never permuting
    * across shard boundaries, so a distributed loader still reads
    * whole shards sequentially. `shard_rank` ranks the DISTINCT shard
    * set ([[Analytics.distributedRank]]: one narrow row per shard,
    * never the data, no single-partition window); `seq_rank` is one
    * shard-keyed window over shard-BOUNDED partitions. The schedule
    * is a pure function of (shard, seq, epoch, salt) — same epoch ⇒
    * same order on any cluster and in any engine that can md5, which
    * is what makes a training run's data order auditable after the
    * fact. */
  def epochSchedule(seqs: DataFrame, epoch: Long,
      salt: String = "graft", shardCol: String = "shard",
      seqCol: String = "seq"): DataFrame = {
    // ScheduleAlgo versions THIS key construction (see the val below):
    // a change to the md5 key layout changes every epoch's order, so
    // it must version, not drift
    val ek = lit(epoch.toString)
    // '|' between EVERY component (epoch|salt included): without the
    // last delimiter (epoch=1, salt="2x") and (epoch=12, salt="x")
    // would collide, breaking the documented purity-injectivity of
    // (shard, seq, epoch, salt)
    val shardRanks = Analytics.distributedRank(
      seqs.select(col(shardCol)).distinct()
        .withColumn("__k", md5(concat(col(shardCol).cast("string"),
          lit("|"), ek, lit("|"), lit(salt)))),
      Seq(col("__k").asc, col(shardCol).cast("string").asc),
      rankCol = "shard_rank")
      .select(col(shardCol), col("shard_rank"))
    val w = Window.partitionBy(col(shardCol))
      .orderBy(md5(concat(col(shardCol).cast("string"), lit("|"),
        col(seqCol).cast("string"), lit("|"), ek, lit("|"),
        lit(salt))).asc,
        col(seqCol).asc)
    seqs.join(shardRanks, Seq(shardCol))
      .withColumn("seq_rank", row_number().over(w).cast("long"))
  }

  /** The epoch-schedule ALGORITHM tag — versions the md5 key layout
    * of [[epochSchedule]] the way [[FoldAlgo]] versions the digest
    * fold, so a key-construction change is diagnosable as a VERSION
    * migration instead of an irreproducible order. v2 is the current
    * fully-'|'-delimited key (`shard|seq|epoch|salt`); the round-17
    * engine's un-delimited `epoch||salt` tail is retroactively "v1"
    * (nothing persisted schedules, so no artifact migration — but a
    * training run RECORDED under v1 cannot be re-derived by a v2
    * engine; see DEVIATIONS #21). [[readEpochManifest]] refuses a
    * manifest pinned under a different algo for the same reason
    * [[readSequences]] refuses a foreign fold tag. */
  private[graft] val ScheduleAlgo = "md5pipe-v2"

  /** An EPOCH MANIFEST: the shard set an epoch's schedule is ranked
    * over, PINNED at epoch start — the growth-safe resume contract.
    * [[epochSchedule]]'s `shard_rank` is a row_number over the md5
    * order of the CURRENT distinct shard set, so on a LIVE lake
    * (polls landing new shards while the trainer runs) every rank
    * shifts whenever a new md5 key sorts into the middle — a cursor
    * persisted as ranks would silently re-read some shards and skip
    * others across a restart. Pinning the shard set makes the rank a
    * pure function of (manifest, epoch, salt): shards that land
    * mid-epoch are EXCLUDED from this epoch (they join the next
    * epoch's manifest), and the cursor's (shard_rank, seq_rank) means
    * the same physical sequences forever. Within a shard the seq set
    * is stable by construction (polls land whole closed shards,
    * exactly once), so pinning the SHARD set alone pins the whole
    * schedule. */
  final case class EpochManifest(epoch: Long, salt: String,
      scheduleAlgo: String, shards: Seq[Long]) {
    require(shards.nonEmpty, "an epoch manifest must pin >= 1 shard")
    require(shards == shards.sorted && shards.distinct == shards,
      "manifest shards must be sorted and distinct")
  }

  /** Pin the epoch's shard set from the live sequence rows (one
    * narrow distinct — one row per shard, never the data) and persist
    * it (one row per shard + the epoch/salt/algo identity columns,
    * Overwrite so a re-started epoch start converges). Returns the
    * manifest for immediate use. */
  def writeEpochManifest(seqs: DataFrame, path: String, epoch: Long,
      salt: String = "graft",
      shardCol: String = "shard"): EpochManifest = {
    val spark = seqs.sparkSession
    import spark.implicits._
    val shards = seqs.select(col(shardCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val mf = EpochManifest(epoch, salt, ScheduleAlgo, shards)
    shards.toDF("shard")
      .withColumn("epoch", lit(epoch))
      .withColumn("salt", lit(salt))
      .withColumn("schedule_algo", lit(ScheduleAlgo))
      .coalesce(1).write.mode("overwrite").parquet(path)
    mf
  }

  /** Read back a pinned epoch manifest; refuses a foreign schedule
    * algo (a v-mismatch is a version problem, not corruption) and an
    * inconsistent row set (identity columns must agree across rows). */
  def readEpochManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): EpochManifest = {
    val rows = LakeRead.parquet(spark, path)
      .select(col("shard"), col("epoch"), col("salt"),
        col("schedule_algo")).collect()
    require(rows.nonEmpty, s"$path holds no epoch-manifest rows")
    val ids = rows.map(r => (r.getLong(1), r.getString(2),
      r.getString(3))).distinct
    require(ids.length == 1,
      s"$path mixes epoch/salt/algo identities: ${ids.mkString(", ")}")
    val (epoch, salt, algo) = ids.head
    require(algo == ScheduleAlgo,
      s"epoch manifest was pinned under schedule algo '$algo' but " +
        s"this engine schedules '$ScheduleAlgo' — re-pin the epoch " +
        "(or run the matching engine version); this is a format " +
        "version mismatch, not corruption")
    EpochManifest(epoch, salt, algo,
      rows.map(_.getLong(0)).sorted.toSeq)
  }

  /** md5 hex digest of a UTF-8 string — the driver-side twin of
    * Spark's `md5()` column function (same lowercase-hex encoding),
    * so manifest-pinned shard ranks computed in the driver land in
    * exactly the order [[epochSchedule]]'s distributed rank lands. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** A trainer loader's RESUMABLE position in the consumed stream:
    * the last (epoch, shard_rank, seq_rank) it fully processed.
    * [[consumeEpoch]] resumes strictly AFTER it, so a trainer
    * restarting mid-epoch re-reads nothing and skips nothing —
    * persist it with [[writeLoaderCursor]] at checkpoint time.
    * GROWTH CAVEAT: the ranks mean the same physical sequences across
    * a restart ONLY under a pinned [[EpochManifest]] — on a live lake
    * (polls landing shards between checkpoint and resume) an unpinned
    * schedule re-ranks the grown shard set and the cursor silently
    * drifts. A LIVE trainer must pass `pinned` to [[consumeEpoch]]
    * (pin at epoch start with [[writeEpochManifest]]); the unpinned
    * resume form is correct only for a FROZEN lake (a batch-packed
    * static corpus), which is exactly what it says on the tin. */
  final case class LoaderCursor(epoch: Long, shardRank: Long,
      seqRank: Long)

  /** The CONSUMED STREAM a trainer's loader walks for one epoch —
    * [[epochSchedule]] composed with the resume cursor: every packed
    * sequence of `seqs` (a [[readSequences]] read-back, or their
    * union across poll artifacts) annotated with `epoch`,
    * `shard_rank`, `seq_rank`, filtered to strictly AFTER `cursor`
    * in the (epoch, shard_rank, seq_rank) total order. A cursor from
    * an EARLIER epoch yields the whole requested epoch (that epoch
    * finished); a cursor from a LATER epoch refuses loudly (the
    * caller is replaying an epoch its checkpoint already moved
    * past — re-consuming would double-train those sequences). The
    * cursor filter is a per-row predicate over the schedule — no
    * extra shuffle beyond the schedule's own (one narrow row per
    * shard + shard-bounded windows), so resuming costs the same plan
    * as starting. The loader reads rows in (shard_rank, seq_rank)
    * order — whole shards sequentially, the two-level-shuffle
    * contract.
    *
    * `pinned` (an [[EpochManifest]], written at epoch start) is the
    * GROWTH-SAFE form a live trainer must use: the schedule is ranked
    * over the manifest's shard set — shard ranks computed in the
    * DRIVER from the pinned set (same md5-hex order as the
    * distributed rank; the set is one long per shard, codebook-sized)
    * and broadcast-joined onto the rows, which both filters the lake
    * to exactly the pinned shards AND replaces the unpinned distinct+
    * rank job, so the pinned plan is never more expensive than the
    * unpinned one. Shards landed after the pin are excluded (they
    * join the next epoch); a pinned shard MISSING from the live rows
    * refuses loudly (the lake lost data, or the manifest belongs to
    * another lake). On an un-grown lake the pinned schedule equals
    * the unpinned one exactly (spec'd). */
  def consumeEpoch(seqs: DataFrame, epoch: Long,
      cursor: Option[LoaderCursor] = None, salt: String = "graft",
      shardCol: String = "shard", seqCol: String = "seq",
      pinned: Option[EpochManifest] = None): DataFrame = {
    cursor.foreach { c =>
      require(c.epoch <= epoch,
        s"loader cursor is at epoch ${c.epoch}, past the requested " +
          s"epoch $epoch — re-consuming a finished epoch would " +
          "double-train its sequences; request epoch >= the cursor's")
    }
    val sched = pinned match {
      case Some(mf) =>
        require(mf.epoch == epoch && mf.salt == salt,
          s"epoch manifest pins (epoch ${mf.epoch}, salt " +
            s"'${mf.salt}') but consumption asked for (epoch $epoch," +
            s" salt '$salt') — an epoch consumes its OWN manifest")
        val spark = seqs.sparkSession
        import spark.implicits._
        // live shard set: one narrow distinct, one row per shard —
        // the same bounded pass the unpinned rank job pays
        val live = seqs.select(col(shardCol).cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet
        val missing = mf.shards.filterNot(live)
        require(missing.isEmpty,
          s"epoch manifest pins shard(s) ${missing.mkString(",")} " +
            "absent from the live sequence rows — the lake lost " +
            "data since the pin (or this manifest belongs to a " +
            "different lake); refusing a silently partial epoch")
        // driver-side ranks over the PINNED set — the exact
        // (md5 asc, shard-string asc) order epochSchedule's
        // distributed rank lands, stable no matter what lands later
        val ranked = mf.shards
          .map(sh => (sh, md5Hex(s"$sh|$epoch|$salt")))
          .sortBy { case (sh, k) => (k, sh.toString) }
          .zipWithIndex.map { case ((sh, _), i) => (sh, i + 1L) }
        val ranks = broadcast(ranked.toDF(shardCol, "shard_rank"))
        val w = Window.partitionBy(col(shardCol))
          .orderBy(md5(concat(col(shardCol).cast("string"), lit("|"),
            col(seqCol).cast("string"), lit("|"),
            lit(epoch.toString), lit("|"), lit(salt))).asc,
            col(seqCol).asc)
        // the inner join IS the pin filter (unpinned shards drop out)
        seqs.withColumn(shardCol, col(shardCol).cast("long"))
          .join(ranks, Seq(shardCol))
          .withColumn("seq_rank", row_number().over(w).cast("long"))
          .withColumn("epoch", lit(epoch))
      case None =>
        epochSchedule(seqs, epoch, salt, shardCol, seqCol)
          .withColumn("epoch", lit(epoch))
    }
    cursor match {
      case Some(c) if c.epoch == epoch =>
        sched.where(col("shard_rank") > c.shardRank ||
          (col("shard_rank") === c.shardRank &&
            col("seq_rank") > c.seqRank))
      case _ => sched
    }
  }

  /** Persist a [[LoaderCursor]] — VERSIONED snapshots
    * (`cursor_v<k>`), the [[graft.streaming.StreamShardLayout]]
    * cursor-snapshot discipline for real this time: the new snapshot
    * lands BESIDE the live one and older generations are reaped only
    * AFTER it commits, so there is no window in which the path holds
    * no committed cursor. (The earlier single-dir overwrite deleted
    * the old snapshot before the new write landed — a crash in that
    * window made [[readLoaderCursor]] return None, "fresh trainer",
    * and a restarted loader silently re-consumed the whole epoch.) */
  def writeLoaderCursor(spark: org.apache.spark.sql.SparkSession,
      path: String, cursor: LoaderCursor): Unit = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = cursorVersions(fs, p).map(_._1).sorted.lastOption
      .getOrElse(0L) + 1L
    Seq((cursor.epoch, cursor.shardRank, cursor.seqRank))
      .toDF("epoch", "shard_rank", "seq_rank")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/cursor_v$next")
    // reap superseded generations — only now that v<next> committed;
    // a reap failure just leaves them for the next checkpoint
    cursorVersions(fs, p).filter(_._1 < next).foreach { case (_, d) =>
      try fs.delete(d, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def cursorVersions(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .collect { case d if d.getName.startsWith("cursor_v") =>
        (d.getName.stripPrefix("cursor_v").toLong, d) }.toSeq

  /** Load the newest COMMITTED [[writeLoaderCursor]] snapshot; None
    * when no checkpoint exists yet (a fresh trainer starts at the
    * epoch head). The two are now distinguishable: a cursor directory
    * holding only UNCOMMITTED snapshots (a torn checkpoint with every
    * committed generation gone — which the write protocol never
    * produces on its own) refuses loudly instead of impersonating a
    * fresh trainer and double-training the epoch. */
  def readLoaderCursor(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[LoaderCursor] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = cursorVersions(fs, p)
    val snapshot =
      if (versions.nonEmpty) {
        val committed = versions.filter { case (_, d) =>
          fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")) }
        require(committed.nonEmpty,
          s"$path holds ${versions.length} cursor snapshot(s), none " +
            "committed — a torn checkpoint directory, NOT a fresh " +
            "trainer; repair it (restore a committed cursor_v<k> or " +
            "delete the directory after confirming the trainer " +
            "really never checkpointed) instead of re-consuming the " +
            "epoch from its head")
        Some(committed.maxBy(_._1)._2.toString)
      } else if (fs.exists(p) &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        Some(path) // legacy single-dir snapshot (pre-versioning)
      else None
    snapshot.map { dir =>
      val rows = LakeRead.parquet(spark, dir)
        .select(col("epoch"), col("shard_rank"), col("seq_rank"))
        .collect()
      require(rows.length == 1,
        s"$dir is not a one-row loader cursor (${rows.length} rows)")
      LoaderCursor(rows.head.getLong(0), rows.head.getLong(1),
        rows.head.getLong(2))
    }
  }

  /** The [[shardAssign]] two-pass running sum over an arbitrary
    * summary frame: sort by `sortCols`, collect ONE long per partition
    * (the bounded job), broadcast the prefix offsets back, emit the
    * cumulative sum-before as `__start`. The frame is persisted
    * between the passes via the operator pool (released with
    * [[Dedup.releaseIntermediates]]) so the sort runs once. */
  private def runningStarts(counts: DataFrame,
      sortCols: Seq[String]): DataFrame = {
    val spark = counts.sparkSession
    val cols0 = counts.columns.toSeq
    val nIdx = cols0.indexOf("__n")
    val sorted = Dedup.tracked(counts.orderBy(sortCols.map(col): _*))
    val rdd = sorted.rdd
    val partTotals = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(nIdx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val prefixes = partTotals.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(prefixes)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("__start",
          org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        var cum = bc.value(i)
        it.map { r =>
          val before = cum; cum += r.getLong(nIdx)
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ before)
        }
      }, schema)
  }
}
