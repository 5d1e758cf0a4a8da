package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.DetAgg

/** Closed-form statistical fits over groups. Everything here reduces to
  * sufficient statistics (Σx, Σy, Σxy, Σx², n) accumulated through
  * DetAgg's exact decimal route — ONE map-side-combinable aggregate per
  * group regardless of group size, then literal arithmetic. No solver,
  * no iteration, no driver collect: the estimate is part of the plan. */
object Analytics {

  /** Per-group simple linear regression y = slope·x + intercept (ordinary
    * least squares via the normal equations). The five sufficient sums
    * shuffle as one partial-aggregate row per (group, task) — the same
    * cost as a grouped mean at any scale. Groups with fewer than 2
    * points, or zero x-variance, yield NULL estimates. */
  def groupLinearRegression(df: DataFrame, groupCols: Seq[String],
      xCol: Column, yCol: Column): DataFrame = {
    // pairwise-complete: every sufficient sum is restricted to rows where
    // BOTH x and y are present, matching n — otherwise a row with only one
    // side non-null skews the normal equations
    val pair = xCol.isNotNull && yCol.isNotNull
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(when(pair, lit(1))).as("n"),
        DetAgg.detSum(when(pair, xCol)).as("__sx"),
        DetAgg.detSum(when(pair, yCol)).as("__sy"),
        DetAgg.detSum(when(pair, xCol * yCol)).as("__sxy"),
        DetAgg.detSum(when(pair, xCol * xCol)).as("__sxx"))
    val n = col("n").cast("double")
    val denom = n * col("__sxx") - col("__sx") * col("__sx")
    val slope = when(col("n") >= 2 && denom =!= 0.0,
      (n * col("__sxy") - col("__sx") * col("__sy")) / denom)
    agg.withColumn("slope", round(slope, 6))
      .withColumn("intercept",
        round((col("__sy") - slope * col("__sx")) / n, 6))
      .drop("__sx", "__sy", "__sxy", "__sxx")
  }

  /** Per-group autocorrelation (Pearson r between the series and its
    * k-lagged self) at each requested lag, as one `acf_<k>` column per
    * lag. One window shuffle keyed by the group builds every lag column
    * in a single pass (shared ordering), then one aggregate over the
    * SAME keys — Spark reuses the window's hash partitioning, so the agg
    * adds no second exchange. Pairs are pairwise-complete (rows where
    * both the value and its lag are non-null). */
  def autocorrelation(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val v = col(valueCol)
    val lagged = lags.foldLeft(df) { (acc, k) =>
      acc.withColumn(s"__lag$k", lag(v, k).over(w))
    }
    val aggs = lags.flatMap { k =>
      val y = col(s"__lag$k")
      val pair = v.isNotNull && y.isNotNull
      Seq(
        count(when(pair, lit(1))).as(s"__n$k"),
        DetAgg.detSum(when(pair, v)).as(s"__sx$k"),
        DetAgg.detSum(when(pair, y)).as(s"__sy$k"),
        DetAgg.detSum(when(pair, v * y)).as(s"__sxy$k"),
        DetAgg.detSum(when(pair, v * v)).as(s"__sxx$k"),
        DetAgg.detSum(when(pair, y * y)).as(s"__syy$k"))
    }
    val base = lagged.groupBy(partitionCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    lags.foldLeft(base) { (acc, k) =>
      val n = col(s"__n$k").cast("double")
      val cov = n * col(s"__sxy$k") - col(s"__sx$k") * col(s"__sy$k")
      val vx = n * col(s"__sxx$k") - col(s"__sx$k") * col(s"__sx$k")
      val vy = n * col(s"__syy$k") - col(s"__sy$k") * col(s"__sy$k")
      acc.withColumn(s"acf_$k",
        round(when(col(s"__n$k") >= 2 && vx > 0.0 && vy > 0.0,
          cov / sqrt(vx * vy)), 6))
        .drop(s"__n$k", s"__sx$k", s"__sy$k", s"__sxy$k", s"__sxx$k",
          s"__syy$k")
    }
  }

  /** Cross-correlation of two columns at the given non-negative leads:
    * for each k, Pearson r between x(t) and y(t+k) — "does x lead y by
    * k steps?" (the lagged-driver diagnostic; [[autocorrelation]] is the
    * x = y special case). Same one-window + same-key-aggregate shape as
    * ACF: the lead columns share one window pass and the aggregate
    * reuses its partitioning. */
  def crossCorrelation(df: DataFrame, xCol: String, yCol: String,
      partitionCols: Seq[String], orderCols: Seq[String],
      leads: Seq[Int]): DataFrame = {
    require(leads.nonEmpty && leads.forall(_ >= 0) &&
      leads.distinct.size == leads.size, "leads must be distinct and >= 0")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val x = col(xCol)
    val led = leads.foldLeft(df) { (acc, k) =>
      acc.withColumn(s"__lead$k", lead(col(yCol), k).over(w))
    }
    val aggs = leads.flatMap { k =>
      val y = col(s"__lead$k")
      val pair = x.isNotNull && y.isNotNull
      Seq(
        count(when(pair, lit(1))).as(s"__n$k"),
        DetAgg.detSum(when(pair, x)).as(s"__sx$k"),
        DetAgg.detSum(when(pair, y)).as(s"__sy$k"),
        DetAgg.detSum(when(pair, x * y)).as(s"__sxy$k"),
        DetAgg.detSum(when(pair, x * x)).as(s"__sxx$k"),
        DetAgg.detSum(when(pair, y * y)).as(s"__syy$k"))
    }
    val base =
      if (partitionCols.isEmpty) led.agg(aggs.head, aggs.tail: _*)
      else led.groupBy(partitionCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    leads.foldLeft(base) { (acc, k) =>
      val n = col(s"__n$k").cast("double")
      val cov = n * col(s"__sxy$k") - col(s"__sx$k") * col(s"__sy$k")
      val vx = n * col(s"__sxx$k") - col(s"__sx$k") * col(s"__sx$k")
      val vy = n * col(s"__syy$k") - col(s"__sy$k") * col(s"__sy$k")
      acc.withColumn(s"xcorr_$k",
        round(when(col(s"__n$k") >= 2 && vx > 0.0 && vy > 0.0,
          cov / sqrt(vx * vy)), 6))
        .drop(s"__n$k", s"__sx$k", s"__sy$k", s"__sxy$k", s"__sxx$k",
          s"__syy$k")
    }
  }

  /** Per-group robust outlier report via the median absolute deviation:
    * a point is an outlier when |x − median| > cutoff · 1.4826 · MAD
    * (1.4826 scales MAD to σ under normality). Three grouped aggregates
    * over the SAME key (median, MAD, counts) — the two join-backs are
    * broadcast (one row per group), so the input shuffles once. Exact
    * interpolated medians, matching SQL `median()` semantics. */
  def madOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
      cutoff: Double = 3.0): DataFrame = {
    val v = col(valueCol)
    // Medians round to 6 decimals BEFORE the threshold compare: the
    // interpolated median is the one quantity here whose last ulp could
    // differ across engines/partitionings, and a strict `>` must not
    // hinge on it (same stability discipline as DetAgg).
    // Column-built percentile (not string-interpolated SQL) so value
    // columns needing backticks — spaces, dots, hyphens — resolve safely
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(round(percentile(v, lit(0.5)), 6).as("__med"))
    val withMed = df.join(broadcast(med), groupCols)
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg(round(percentile(abs(v - col("__med")), lit(0.5)), 6)
        .as("__mad"))
    withMed.join(broadcast(mad), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(v).as("n"),
        first(col("__med")).as("median"),
        first(col("__mad")).as("mad"),
        sum((abs(v - col("__med")) > lit(cutoff * 1.4826) * col("__mad"))
          .cast("long")).as("n_outliers"))
  }

  /** Per-group quantile normalization: each value maps to its mid-rank
    * quantile (rank − 0.5)/n in (0, 1) — the standard uniformization
    * step (rank ties broken by the caller's tie-break columns so the
    * output is a deterministic function of the row, not the partition
    * layout). One window shuffle keyed by the group; n comes from the
    * same window (unbounded count), no second pass. */
  def quantileNormalize(df: DataFrame, valueCol: String,
      groupCols: Seq[String], tieBreakCols: Seq[String],
      as: String = "quantile"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((col(valueCol) +: tieBreakCols.map(col)).map(_.asc): _*)
    val n = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn(as,
      round((row_number().over(w).cast("double") - 0.5) /
        count(lit(1)).over(n).cast("double"), 6))
  }

  /** Per-group time-gap detection: emit the (prev, current) pairs whose
    * spacing exceeds `factor` × the group's mean spacing — the
    * missing-interval report for a supposedly-regular feed. One window
    * shuffle for the lag, one aggregate on the same key for the mean gap
    * (broadcast back, one row per group). Gaps are exact integer
    * microseconds (`unix_micros`), so the threshold compare is
    * float-free until the final mean ratio. */
  def gapDetect(df: DataFrame, tsCol: String, partitionCols: Seq[String],
      tieBreakCols: Seq[String], factor: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreakCols.map(col)).map(_.asc): _*)
    val gaps = df
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("gap_us",
        unix_micros(col(tsCol)) - unix_micros(col("__prev")))
    val avg = gaps.groupBy(partitionCols.map(col): _*)
      .agg(DetAgg.detAvg(col("gap_us")).as("__avg_gap"))
    // the mean gap is reported in SECONDS: at µs magnitudes (1e10+),
    // round(x, 6) sits below the double ulp and engines' rounding
    // algorithms diverge in the last bit (DuckDB's multiply-based round
    // overflows 2^53); dividing by 1e6 first keeps the rounding exact
    // on both engines at any feed sparsity
    gaps.join(broadcast(avg), partitionCols)
      .where(col("gap_us").cast("double") > lit(factor) * col("__avg_gap"))
      .select(partitionCols.map(col) ++
        Seq(col("__prev").as("gap_start"), col(tsCol).as("gap_end"),
          col("gap_us"),
          round(col("__avg_gap") / lit(1000000.0), 6).as("avg_gap_sec")): _*)
  }

  /** Global 1-based rank without a single-partition window: sort
    * distributed (Spark's range sort), then zipWithIndex — one extra
    * per-partition-count job plus offset arithmetic, the same pattern as
    * `EnergySeries.ldc`. Ranks a 100 M-row table without funnelling it
    * through one task. The caller's `orderCols` must be a total order
    * (include a tie-break) or the rank is partition-layout-dependent. */
  def distributedRank(df: DataFrame, orderCols: Seq[Column],
      rankCol: String = "rank"): DataFrame = {
    val sorted = df.orderBy(orderCols: _*)
    val schema = StructType(
      StructField(rankCol, LongType, nullable = false) +:
        sorted.schema.fields)
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq((i + 1L) +: row.toSeq)
      }, schema)
  }

  /** Corpus Zipf fit: OLS slope of ln(frequency) on ln(rank) over the
    * word-frequency table — a classic corpus-health check (natural text
    * sits near −1). Rank via [[distributedRank]]; the fit reuses
    * [[groupLinearRegression]]'s one-aggregate sufficient-statistics
    * path. */
  def zipfSlope(docs: DataFrame, textCol: String): DataFrame = {
    val freq = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val ranked = distributedRank(freq.select(col("cnt"), col("word")),
      Seq(col("cnt").desc, col("word").asc))
    groupLinearRegression(ranked.withColumn("__g", lit(1)), Seq("__g"),
        log(col("rank").cast("double")), log(col("cnt").cast("double")))
      .select(col("n").as("n_vocab"), col("slope"), col("intercept"))
  }

  /** Join-key skew report — the planning diagnostic you run BEFORE
    * pointing a 100 TB join at a key: distinct keys, rows, the hottest
    * key's share, the top-1%-of-keys share, and the Gini coefficient of
    * the key-frequency distribution (0 = uniform, →1 = one hot key).
    * One groupBy on the key, a [[distributedRank]] over the (much
    * smaller) per-key count table, and one scalar aggregate. */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val nKeys = counts.count()
    val ranked = distributedRank(
      counts.select(col("cnt"), col(keyCol).cast("string").as("__k")),
      Seq(col("cnt").asc, col("__k").asc))
    val topCut = math.ceil(nKeys * 0.99).toLong
    val n = lit(nKeys.toDouble)
    ranked.agg(
        DetAgg.detSum(col("cnt")).as("__tot"),
        max(col("cnt")).as("max_cnt"),
        DetAgg.detSum(col("rank").cast("double") * col("cnt")).as("__src"),
        DetAgg.detSum(when(col("rank") > topCut, col("cnt"))).as("__top"))
      .select(lit(nKeys).as("n_keys"),
        col("__tot").cast("long").as("n_rows"),
        col("max_cnt"),
        round(col("max_cnt").cast("double") / col("__tot"), 6)
          .as("max_share"),
        round(coalesce(col("__top"), lit(0.0)) / col("__tot"), 6)
          .as("top1pct_share"),
        round((lit(2.0) * col("__src")) / (n * col("__tot"))
          - (n + lit(1.0)) / n, 6).as("gini"))
  }

  /** Pointwise mutual information of word co-occurrence (doc-level):
    * PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over document frequencies —
    * the collocation signal (phrases, named entities, template pairs).
    * Pair generation reuses the posting-list generator shape: each doc's
    * distinct-word array (capped at `maxWordsPerDoc` — the skew guard;
    * a 10 k-distinct-word doc would otherwise emit 50 M pairs) streams
    * its ordered pairs through posexplode+slice, then one grouped count
    * per pair and two word-keyed joins against the unigram counts (left
    * unhinted: the vocabulary can be 100 M rows at corpus scale, so
    * whether it broadcasts is AQE's call, not a hardcoded hint).
    * `minCount` prunes the long tail before the joins. */
  def pmiPairs(docs: DataFrame, textCol: String, idCol: String,
      minCount: Int = 3, maxWordsPerDoc: Int = 100): DataFrame = {
    val nDocs = docs.count().toDouble
    val words = docs.select(col(idCol).as("id"),
      slice(array_sort(array_distinct(
          split(trim(col(textCol)), "\\s+"))),
        1, maxWordsPerDoc).as("ws"))
    val single = words.select(col("id"), explode(col("ws")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val pairs = words
      .select(posexplode(col("ws")).as(Seq("i", "wa")), col("ws"))
      .select(col("wa"),
        explode(slice(col("ws"), col("i") + lit(2), size(col("ws"))))
          .as("wb"))
      .where(col("wa") =!= "" && col("wb") =!= "")
      .groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    pairs
      .join(single.withColumnRenamed("w", "wa")
        .withColumnRenamed("c_w", "c_a"), "wa")
      .join(single.withColumnRenamed("w", "wb")
        .withColumnRenamed("c_w", "c_b"), "wb")
      .select(col("wa"), col("wb"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab").cast("double") * lit(nDocs)) /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** Per-document Shannon entropy of the word distribution (nats) — the
    * information-density quality signal (gibberish and boilerplate both
    * score low). explode → two grouped counts keyed by doc: the second
    * aggregate reuses the first's partitioning (both hash on doc id), so
    * the corpus shuffles once. */
  def docEntropy(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val words = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "")
    val counts = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("__c"))
    val n = Window.partitionBy(col(idCol))
    val p = col("__c").cast("double") /
      sum(col("__c")).over(n).cast("double")
    counts.withColumn("__plp", p * log(p))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_words"),
        round(-DetAgg.detSum(col("__plp")), 6).as("entropy"))
  }

  /** Bigram-interpolated language-model score per document — the CCNet
    * perplexity-filter discipline (Wenzek et al. 2020) one order up
    * from the unigram score: fit unigram and bigram counts on the
    * corpus itself, then score every document by the mean
    * `log(λ·P(w|prev) + (1−λ)·P(w))` over its bigram positions, with
    * `P(w|prev) = c(prev,w)/c(prev)` and `P(w) = c(w)/N`. Low scores
    * mark gibberish and boilerplate the unigram model cannot see
    * (plausible words in implausible order). Documents with fewer than
    * two words have no bigram positions and drop out.
    *
    * Shape at scale: bigrams are projection-local (an index-sequence
    * HOF over the word array — no window, no shuffle to build); the
    * model fit is two map-side-combinable aggregates (vocabulary- and
    * bigram-vocabulary-sized, Zipf-concentrated keys collapse to
    * counters in the partial); scoring is three hash joins on word
    * keys — linear row flow, hot words are fine because a join row
    * never fans out. The corpus total rides as a one-row cross join,
    * not a driver action. Returns (doc_id, n_bigrams, logprob),
    * logprob summed through DetAgg's exact-decimal route and rounded
    * to 6 — engine-exact. */
  def lmScoreBigram(docs: DataFrame, textCol: String, idCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1], got $lambda")
    val base = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("w"))
    val words = base.select(explode(col("w")).as("word"))
    val uni = Dedup.tracked(words.groupBy("word")
      .agg(count(lit(1)).as("c")))
    val tot = uni.agg(sum(col("c")).cast("double").as("t"))
    val bi = base.where(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("prev"),
            element_at(col("w"), i + 1).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"),
        col("b.cur").as("cur"))
    val bc = bi.groupBy("prev", "cur").agg(count(lit(1)).as("bc"))
    val p = lit(lambda) *
      (col("bc").cast("double") / col("cp").cast("double")) +
      lit(1.0 - lambda) * (col("cw").cast("double") / col("t"))
    bi.join(bc, Seq("prev", "cur"))
      .join(uni.select(col("word").as("prev"), col("c").as("cp")),
        Seq("prev"))
      .join(uni.select(col("word").as("cur"), col("c").as("cw")),
        Seq("cur"))
      .crossJoin(tot)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(DetAgg.detAvg(log(p)), 6).as("logprob"))
  }

  /** Per-group CUSUM change detection (Page 1954) over a PRE-AGGREGATED
    * ordered series: the one-sided cumulative sum
    * `s_i = max(0, s_{i−1} + (x_i − target))` with an alarm whenever
    * `s_i > threshold`. The recurrence is non-linear, so no window frame
    * expresses it; instead each group's (bounded — this takes the
    * resampled series, e.g. hourly, never raw events) sequence folds
    * through one `aggregate` HOF over its sorted array — a single
    * grouped shuffle, state O(1) per group, no driver loop. The
    * streaming twin (`StreamCusum`) runs the IDENTICAL fold per key as
    * keyed state.
    *
    * Determinism: each step's statistic rounds to 6 decimals before the
    * compare and the next step (the fold is then a chain of exact
    * decimal-representable doubles — bit-identical in any engine, which
    * is what lets a recursive-CTE oracle replay it).
    *
    * @return per group: (n_points, n_alarms, max_cusum) */
  def cusumReport(df: DataFrame, valueCol: String, groupCols: Seq[String],
      orderCol: String, target: Double, threshold: Double): DataFrame = {
    val arr = sort_array(collect_list(struct(col(orderCol).as("o"),
      col(valueCol).as("v"))))
    val zero = struct(lit(0.0).as("s"), lit(0L).as("alarms"),
      lit(0.0).as("maxs"))
    val folded = aggregate(col("__arr"), zero, (acc, x) => {
      val s2 = round(greatest(lit(0.0), acc("s") + x("v") - target), 6)
      struct(s2.as("s"),
        (acc("alarms") + when(s2 > threshold, 1L).otherwise(0L))
          .as("alarms"),
        greatest(acc("maxs"), s2).as("maxs"))
    })
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_points"), arr.as("__arr"))
      .select(groupCols.map(col) ++ Seq(col("n_points"),
        folded.getField("alarms").as("n_alarms"),
        folded.getField("maxs").as("max_cusum")): _*)
  }

  /** Snapshot diff (CDC-style): classify every key as `added`,
    * `removed`, or `changed` between two table snapshots, dropping
    * unchanged keys. ONE full-outer shuffle join on the key — both
    * sides hash-partition identically, so at 100 TB this is the
    * canonical co-partitioned reconcile (bucket both snapshots by the
    * key at write time and the exchange disappears entirely). Value
    * equality is null-safe (`<=>`), so null→value and value→null edits
    * count as changes. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val o = oldDf.select((keyCols ++ valueCols).map(col): _*)
      .withColumn("__in_old", lit(1))
    val n0 = newDf.select((keyCols ++ valueCols).map(col): _*)
      .withColumn("__in_new", lit(1))
    val n = valueCols.foldLeft(n0)((d, c) =>
      d.withColumnRenamed(c, s"__new_$c"))
    val joined = o.join(n, keyCols, "full_outer")
    val same = valueCols.map(c => col(c) <=> col(s"__new_$c"))
      .reduce(_ && _)
    val change = when(col("__in_old").isNull, "added")
      .when(col("__in_new").isNull, "removed")
      .when(!same, "changed")
    joined.withColumn("change", change)
      .where(col("change").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change")) ++
        valueCols.flatMap(c => Seq(col(c).as(s"old_$c"),
          col(s"__new_$c").as(s"new_$c"))): _*)
  }

  /** Classical (moving-average) seasonal decomposition of a keyed
    * regular series — the statsmodels `seasonal_decompose(additive)`
    * shape: trend = centered `period`-row rolling mean (full windows
    * only), seasonal = per-(key, slot-of-day) mean of the detrended
    * series normalized to sum to zero over the period, resid = v −
    * trend − seasonal. Slots are `hour(ts) % period`, so `period` must
    * divide 24. Every statistic is a window over ONE hash partitioning
    * on `keys` — a single shuffle, no self-join, no driver math; sums
    * route through exact decimals and quotients round to 6 (`q6`), so
    * the decomposition is engine-exact. Rows without a full trend
    * window emit null trend/seasonal/resid (exactly the statsmodels NaN
    * edge). */
  def classicalDecompose(df: DataFrame, tsCol: String, valueCol: String,
      keys: Seq[String], period: Int = 24): DataFrame = {
    require(period >= 1 && 24 % period == 0,
      s"period must divide 24 (seasonal slots are the hour of day " +
        s"modulo period), got $period")
    val k = keys.map(col)
    val v = col(valueCol)
    val half = period / 2
    val ahead = period - half - 1
    // centered window [t-half, t+period-half-1]: `period` rows for any
    // period; an even period looks half-1 rows ahead (the pandas
    // convention for even windows with center=True). Its sum and
    // non-null count are differences of running prefix sums — the
    // decimal subtraction is exact, so the trend equals the sliding
    // window sum bit for bit at O(n) adds instead of O(n·period)
    val w = Window.partitionBy(k: _*).orderBy(col(tsCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def frame(prefix: String): Column = {
      val upper =
        if (ahead == 0) col(prefix) else lead(col(prefix), ahead).over(w)
      upper - coalesce(lag(col(prefix), half + 1).over(w), lit(0))
    }
    val withTrend = df
      .withColumns(Map(
        "__cs" -> coalesce(sum(v.cast(DetAgg.Dec)).over(wRun), lit(0)),
        "__cc" -> count(v).over(wRun)))
      .withColumn("__trend", when(frame("__cc") === period,
        q6(frame("__cs").cast("double") / period)))
      .withColumn("__slot", hour(col(tsCol)) % period)
    // slot means of the detrended series (statsmodels' nanmean over the
    // trend-complete rows), centered so one period sums to zero. The
    // (keys, slot) and keys windows reuse the hash partitioning on keys,
    // so neither adds an exchange; one row per slot carries the slot
    // mean into the centering sum. ANSI division raises on a zero count,
    // hence the guards.
    def mean(c: Column, over: WindowSpec): Column = {
      val n = count(c).over(over)
      when(n > 0,
        q6(sum(c.cast(DetAgg.Dec)).over(over).cast("double") / n))
    }
    val wSlot = Window.partitionBy((k :+ col("__slot")): _*)
      .orderBy(col(tsCol))
    val detr = when(col("__trend").isNotNull, q6(v - col("__trend")))
    val slotMean = mean(detr,
      wSlot.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val centered = withTrend
      .withColumns(Map("__smean" -> slotMean,
        "__slot1" -> (row_number().over(wSlot) === 1)))
      .withColumn("__sbar", mean(when(col("__slot1"), col("__smean")),
        Window.partitionBy(k: _*)))
    val seasonal = when(col("__trend").isNotNull,
      q6(col("__smean") - col("__sbar")))
    centered.withColumn("seasonal", seasonal)
      .withColumn("resid", when(col("__trend").isNotNull,
        q6(v - col("__trend") - col("seasonal"))))
      .select(k ++ Seq(col(tsCol), v, col("__trend").as("trend"),
        col("seasonal"), col("resid")): _*)
  }

  /** Floor-quantization to 6 decimals — pure IEEE-double ops, so both
    * engines compute identical bits (unlike round(), which parses the
    * shortest decimal repr on the JVM but the exact binary in DuckDB
    * and diverges on quotients near a half-boundary). Use for any
    * reported statistic that is a QUOTIENT; plain round stays fine for
    * sums/differences of already-quantized values. */
  private[operators] def q6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Per-group winsorization: clip `valueCol` to its group's
    * [lo, hi] interpolated percentiles — the outlier-robust scaling a
    * feature pipeline applies before normalization. The two bounds are
    * ONE grouped aggregate (groups-sized output, broadcast back); the
    * clip itself is a codegen'd per-row projection. Exact percentile
    * buffers each group in the aggregate — the oracle-checkable form;
    * at 100 TB swap in approx_percentile and keep the clip identical. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
      lo: Double = 0.01, hi: Double = 0.99,
      as: String = "clipped"): DataFrame = {
    val g = groupCols.map(col)
    val bounds = df.groupBy(g: _*)
      .agg(q6(percentile(col(valueCol), lit(lo))).as("__lo"),
        q6(percentile(col(valueCol), lit(hi))).as("__hi"))
    df.join(broadcast(bounds), groupCols)
      .withColumn(as, least(greatest(col(valueCol), col("__lo")),
        col("__hi")))
      .drop("__lo", "__hi")
  }

  /** First-order Markov transition matrix over an ordered event stream:
    * per partition key the (from, to) bigram counts and row-normalized
    * probabilities. One keyed window (lag) + one hash aggregate —
    * the 100 TB shape for "what do users do next" sequence analytics.
    * Order must be made total by `orderCols` (include a unique id). */
  def transitionMatrix(df: DataFrame, stateCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val pairs = df.withColumn("__from", lag(col(stateCol), 1).over(w))
      .where(col("__from").isNotNull)
    val counts = pairs.groupBy(col("__from").as("from_state"),
        col(stateCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_state"))
    counts.withColumn("p",
        q6(col("n").cast("double") / sum(col("n")).over(wf)
          .cast("double")))
      .select(col("from_state"), col("to_state"), col("n"), col("p"))
  }

  /** Single changepoint localization per key (binary segmentation,
    * first split): the ordinal position t that maximizes the absolute
    * mean gap |mean(v[1..t]) − mean(v[t+1..n])|, computed from running
    * decimal sums — one keyed window pass, one argmax aggregate, no
    * per-candidate rescan (the O(n²) naive). Ties take the earliest t.
    * Both means are quotients -> floor-quantized before the compare so
    * the argmax is engine-exact. */
  def changepointTop(df: DataFrame, valueCol: String,
      partitionCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val k = partitionCols.map(col)
    val w = Window.partitionBy(k: _*).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(k: _*)
    val scored = df
      .withColumn("__t", count(lit(1)).over(w))
      .withColumn("__s", sum(col(valueCol).cast(DetAgg.Dec)).over(w)
        .cast("double"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__tot", sum(col(valueCol).cast(DetAgg.Dec)).over(wAll)
        .cast("double"))
      .where(col("__t") < col("__n")) // a split needs a non-empty right
      .withColumn("__gap", q6(abs(col("__s") / col("__t") -
        (col("__tot") - col("__s")) / (col("__n") - col("__t")))))
    scored.groupBy(k: _*)
      .agg(max(struct(col("__gap"), (-col("__t")).as("__negt")))
        .as("__best"), max(col("__n")).as("n_points"))
      .select(k ++ Seq(col("__best.__gap").as("mean_gap"),
        (-col("__best.__negt")).cast("long").as("split_at"),
        col("n_points")): _*)
  }

  /** Per-group lower weighted median: the smallest value whose running
    * weight reaches half the group's total (no interpolation — the
    * discrete rule every engine agrees on). One keyed window sort;
    * weights and totals stay in exact integer/decimal space so the
    * threshold compare is engine-exact. */
  def weightedMedian(df: DataFrame, valueCol: String, weightCol: String,
      groupCols: Seq[String], tieCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy((col(valueCol) +: tieCols.map(col)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    df.withColumn("__cw", sum(col(weightCol).cast(DetAgg.Dec)).over(w))
      .withColumn("__tw", sum(col(weightCol).cast(DetAgg.Dec)).over(wAll))
      .where(col("__cw") * 2 >= col("__tw"))
      .groupBy(g: _*)
      .agg(min(col(valueCol)).as("w_median"))
  }

  /** One-pass column profiler: per listed numeric column — row count,
    * null count, exact distinct count, min, max — unpivoted to one row
    * per column. The multi-distinct aggregate expands to one pass per
    * distinct target under Spark's Expand, which is the exact-count
    * trade; swap in approx_count_distinct at 100 TB when ±2 % is
    * acceptable (kept exact here so the oracle can hash-match). */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', __n_$c, __nn_$c, __nd_$c, __mn_$c, __mx_$c").mkString(", ")
    one.selectExpr(s"stack(${cols.size}, $stacked) AS " +
      "(col_name, n, n_null, n_distinct, min_val, max_val)")
  }
}
