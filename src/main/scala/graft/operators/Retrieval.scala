package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval over the corpus — the query-side complement of
  * the indexing/dedup operators (SURVEY extended scope: a training-data
  * pipeline needs "find the documents most relevant to this probe" for
  * targeted curation and contamination audits as much as it needs
  * dedup).
  */
object Retrieval {

  /** Okapi BM25 top-k retrieval (Robertson et al., TREC-3; the Lucene
    * `(1 + ln((N − df + 0.5)/(df + 0.5) + 1))`-free plain variant with
    * the +1-inside-log idf so scores stay positive).
    *
    * Scale shape: the term-frequency table is filtered to the query's
    * terms BEFORE any shuffle (the explode feeds a `where` that prunes
    * ~all rows map-side), document length joins on the doc key once, and
    * the per-term idf table is a handful of rows broadcast to the tf
    * side. One shuffle keyed by doc for the tf aggregate, one for the
    * final per-doc score sum, one window for the top-k — no corpus-wide
    * materialization anywhere, so the plan is the same at 100 TB with a
    * 3-term query as at 60k rows.
    *
    * Determinism: doc-length sums are exact longs; idf/score arithmetic
    * is written in one fixed association order (mirrored verbatim in the
    * oracle SQL); the ranking orders by the ROUNDED score with the doc id
    * as tie-break, so a last-ulp difference can never flip the cut.
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val id = col(idCol)
    val words = df.select(id,
      explode(split(trim(col(textCol)), "\\s+")).as("word"))
    // doc length in words + corpus stats. dl PERSISTS (kept — one
    // narrow (id, long) row per doc): stats, the scoring join, and a
    // naive re-derivation would otherwise each re-scan the corpus TEXT
    // column just to recount words — the 100 TB cost is the text scan,
    // not the 16-byte cache row.
    val dl = Lineage.keep(df.select(id,
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // tf PERSISTS too (bounded: only docs hitting a probe term, one
    // row per (doc, term)) — df-counting and scoring both read it
    val tf = Lineage.keep(words.where(col("word").isin(queryTerms: _*))
      .groupBy(id, col("word")).agg(count(lit(1)).as("tf")))
    val dfc = tf.groupBy("word").agg(count(lit(1)).as("dfc"))
    val idf = dfc.crossJoin(broadcast(stats)).select(col("word"),
      log((col("n_docs").cast("double") - col("dfc") + 0.5) /
        (col("dfc") + 0.5) + 1.0).as("idf"))
    val scored = tf.join(broadcast(idf), "word")
      .join(dl, idCol).crossJoin(broadcast(stats))
      .select(id, col("word"),
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
    // fixed per-term association order for the doc total (left-to-right
    // over the query's term order, exactly as the oracle SQL writes it)
    val termSums = queryTerms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("word") === t, col("s"))), lit(0.0)).as(s"__s$i")
    }
    val perDoc = scored.groupBy(id).agg(termSums.head, termSums.tail: _*)
    val total = queryTerms.indices.map(i => col(s"__s$i"))
      .reduceLeft(_ + _)
    val ranked = perDoc.select(id, round(total, 6).as("score"))
    // distributed top-k (TakeOrderedAndProject — per-partition heaps,
    // k rows to the driver stage), THEN the rank window over only k rows;
    // a bare global row_number window would funnel every scored doc
    // through one task
    val w = Window.orderBy(col("score").desc, id.asc)
    ranked.orderBy(col("score").desc, id.asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** MULTI-QUERY Okapi BM25 — thousands of probes in ONE job, the
    * shape a corpus-wide contamination or curation audit needs (the
    * single-query [[bm25TopK]] bakes its terms into the plan as `isin`
    * literals, so N probes would mean N corpus scans).
    *
    * `queries` is a bounded (query_id, term) frame. The corpus scans
    * ONCE: the exploded word stream is pruned map-side by a BROADCAST
    * semi-join against the distinct probe vocabulary (the 100 TB
    * analog of the literal filter — still no shuffle before the
    * prune), tf/df/idf are computed once over that vocabulary, and
    * each query's scores materialize by broadcast-joining the tiny
    * (query_id, term) table onto the scored (doc, term) rows — the
    * same broadcast-probe shape [[Similarity.cosineTopK]] uses. One
    * doc-keyed shuffle for tf, one (query, doc)-keyed aggregate, one
    * per-query ranking window over ≤ |docs-with-hits| rows.
    *
    * Determinism: per-(doc, term) scores are the [[bm25TopK]] formula
    * verbatim; the per-query total routes through DetAgg (decimal) so
    * the sum is association-order-free, then rounds to 6 dp; ranking
    * orders by the rounded score with the doc id tie-break. Output:
    * (query_id, rank, idCol, score), k rows per query. Compose with
    * [[rrfFuse]](queryCols = Seq("query_id")) to fuse against a
    * per-query semantic ranking.
    */
  def bm25TopKQueries(df: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import graft.core.DetAgg
    val id = col(idCol)
    // duplicate (query_id, term) rows would double-count that term's
    // per-doc score — the single-query path's isin literals are set-
    // semantic, so mirror that here instead of silently inflating
    val probes = queries.select(col("query_id"), col("term")).distinct()
    val vocab = probes.select(col("term").as("word")).distinct()
    val words = df.select(id,
      explode(split(trim(col(textCol)), "\\s+")).as("word"))
    // dl and tf persist (kept) for the same reason as [[bm25TopK]]:
    // the corpus TEXT must scan exactly twice (word stream + lengths),
    // never once more per derived aggregate — dl is a narrow
    // (id, long) row per doc, tf is bounded by probe-vocabulary hits
    val dl = Lineage.keep(df.select(id,
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = Lineage.keep(words
      .join(broadcast(vocab), Seq("word"), "left_semi")
      .groupBy(id, col("word")).agg(count(lit(1)).as("tf")))
    val dfc = tf.groupBy("word").agg(count(lit(1)).as("dfc"))
    val idf = dfc.crossJoin(broadcast(stats)).select(col("word"),
      log((col("n_docs").cast("double") - col("dfc") + 0.5) /
        (col("dfc") + 0.5) + 1.0).as("idf"))
    val scored = tf.join(broadcast(idf), "word")
      .join(dl, idCol).crossJoin(broadcast(stats))
      .select(id, col("word"),
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
    val perDoc = scored
      .join(broadcast(probes.select(col("query_id"),
        col("term").as("word"))), Seq("word"))
      .groupBy(col("query_id"), id)
      .agg(round(DetAgg.detSum(col("s")), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, id.asc)
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), id, col("score"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of N
    * ranked candidate lists into one hybrid ranking:
    * `score(d) = Σ_i 1/(kRrf + rank_i(d))`, a document missing from a
    * list contributing 0 for it. The standard way to combine lexical
    * (BM25) and semantic (embedding top-k) retrieval without score
    * calibration — only ranks enter, so the two scorers' incomparable
    * scales never meet.
    *
    * Inputs carry `queryCols ++ (idCol, rank)`; pass `queryCols` to
    * fuse many queries' lists at once (e.g. [[Similarity.cosineTopK]]'s
    * `query_id`), leave it empty for a single query.
    *
    * Scale shape: each input is already a per-query top-N, so the
    * full-outer join chain runs on O(queries × N × lists) rows — the
    * heavy corpus scans live inside the upstream rankers, never here.
    * With `queryCols` the final ranking windows by query (≤ N×lists
    * rows per partition); the single-query shape takes the
    * TakeOrderedAndProject route instead of a one-task global window.
    *
    * Determinism: ranks are exact longs, each contribution is the same
    * double `1/(kRrf+rank)` on any engine, the sum runs left-to-right
    * in list order (mirrored in the oracle SQL), and the output orders
    * by the ROUNDED score with the doc id as tie-break.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int = 10,
      kRrf: Int = 60, queryCols: Seq[String] = Nil): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    val keys = queryCols :+ idCol
    val prepared = rankings.zipWithIndex.map { case (r, i) =>
      r.select(keys.map(col) :+ col("rank").as(s"__r$i"): _*)
    }
    val joined = prepared.reduceLeft(_.join(_, keys, "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf) + col(s"__r$i")), lit(0.0)))
      .reduceLeft(_ + _)
    val fused = joined.select(
      keys.map(col) :+ round(score, 9).as("rrf_score"): _*)
    if (queryCols.isEmpty) {
      val w = Window.orderBy(col("rrf_score").desc, col(idCol).asc)
      fused.orderBy(col("rrf_score").desc, col(idCol).asc).limit(k)
        .withColumn("rank", row_number().over(w).cast("long"))
    } else {
      val w = Window.partitionBy(queryCols.map(col): _*)
        .orderBy(col("rrf_score").desc, col(idCol).asc)
      fused.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
    }
  }

  /** Ranking-quality metrics — recall@k and binary-relevance nDCG@k of
    * a ranked list against a gold list (both `(idCol, rank)` top-k
    * frames from upstream retrievers): the eval an index/retriever
    * audit needs, as one engine-deterministic row
    * `(n_gold, n_hits, recall, ndcg)`.
    *
    * recall@k = |ranked_k ∩ gold_k| / |gold_k|; DCG sums ln2/ln(pos+1)
    * over the hits at the RANKED positions, IDCG over all gold
    * positions. Both sums are DetAgg-routed (decimal) so the score is
    * bit-stable across runs and engines; an empty intersection scores
    * 0.0, never null. Inputs are top-k lists — everything here is
    * bounded; the corpus-scale work lives in the retrievers upstream.
    */
  def rankingMetrics(ranked: DataFrame, gold: DataFrame, idCol: String,
      k: Int, queryCols: Seq[String] = Nil): DataFrame = {
    import graft.core.DetAgg
    require(k >= 1, s"k must be >= 1 (got $k)")
    val keys = queryCols :+ idCol
    val l = ranked.where(col("rank") <= k)
      .select(keys.map(col) :+ col("rank"): _*)
    val g = gold.where(col("rank") <= k)
      .select(keys.map(col) :+ col("rank").as("__grank"): _*)
    def dcgTerm(rank: org.apache.spark.sql.Column) =
      lit(math.log(2.0)) / log(rank.cast("double") + 1.0)
    val hits = l.join(g, keys)
    // loud failure on an empty gold list (single-query branch only —
    // the per-query branch is gold-driven, so its groups always carry
    // n_gold >= 1): a null recall/ndcg row would read as "evaluated"
    val goldN = when(col("n_gold") > 0, col("n_gold").cast("double"))
      .otherwise(raise_error(lit(
        "rankingMetrics: empty gold list — nothing to evaluate " +
          "against")).cast("double"))
    def metrics(m: DataFrame): DataFrame =
      m.select(queryCols.map(col) :+ col("n_gold") :+
        coalesce(col("n_hits"), lit(0L)).as("n_hits") :+
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          goldN, 6).as("recall") :+
        round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6)
          .as("ndcg"): _*)
    if (queryCols.isEmpty) {
      val m = hits.agg(count(lit(1)).as("n_hits"),
        coalesce(DetAgg.detSum(dcgTerm(col("rank"))), lit(0.0))
          .as("__dcg"))
      val i = g.agg(count(lit(1)).as("n_gold"),
        DetAgg.detSum(dcgTerm(col("__grank"))).as("__idcg"))
      metrics(m.crossJoin(i))
    } else {
      // per-query: gold drives (a query with zero hits still reports),
      // one keyed shuffle per aggregate, join back on the query key
      val qk = queryCols.map(col)
      val m = hits.groupBy(qk: _*).agg(count(lit(1)).as("n_hits"),
        DetAgg.detSum(dcgTerm(col("rank"))).as("__dcg"))
      val i = g.groupBy(qk: _*).agg(count(lit(1)).as("n_gold"),
        DetAgg.detSum(dcgTerm(col("__grank"))).as("__idcg"))
      metrics(i.join(m, queryCols, "left"))
    }
  }
}
