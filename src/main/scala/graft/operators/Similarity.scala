package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (a broadcast nested-loop
  * of queries × corpus — correct at any corpus size when the query set is
  * small); the random-hyperplane LSH variant is the scale path: bucket the
  * corpus once, then only compare within matching buckets, turning the
  * quadratic scan into a bucket-keyed equi-join.
  *
  * All vector math is SQL higher-order functions (`zip_with` +
  * `aggregate`) over doubles — sequential left-fold, so results are
  * deterministic; no UDFs, no ml.Vector conversions on the hot path.
  */
object Similarity {

  /** Bounded, deterministic, UNBIASED codebook training sample: the
    * `n` rows that sort first by `xxhash64(id)` (id ASC tie-break) —
    * a seeded-hash order, so the sample is a uniform draw from the
    * corpus regardless of how ids are laid out. The previous
    * `orderBy(id).limit(n)` form took the first n rows BY ID, which on
    * a real corpus — where ids correlate with crawl time, shard, or
    * domain — fits the k-means codebook on one corner of the embedding
    * distribution: cells degrade, recall drops, and cap pressure
    * concentrates (round-9 verdict; the id-clustered ScaleGen probe in
    * SCALE.md measures exactly that failure and this fix). Same
    * TakeOrdered cost and full determinism (the hash is a pure
    * function of the id), one extra hash per row. */
  private[graft] def codebookSample(df: DataFrame, idCol: String,
      vecCol: String, n: Int): Array[Array[Double]] =
    df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)
      .select(col(vecCol).cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Dot product of two array<float/double> columns, accumulated in
    * double in element order — a native codegen'd Catalyst expression
    * (graft.functions.VectorDot); bit-identical to the sequential
    * higher-order-function fold but ~5× faster on all-pairs scans. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.VectorDot(
        org.apache.spark.sql.graftshim.ColumnShim.expression(a),
        org.apache.spark.sql.graftshim.ColumnShim.expression(b)))

  /** The pure-SQL higher-order-function formulation (kept as the
    * portability fallback and for plan-comparison tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, z) => acc + z)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Per-group dimension-wise centroid of an embedding column, in long
    * `(group, dim, centroid)` form — the "class prototype" / cluster-mean
    * building block. posexplode fans each row into `dim` narrow rows, but
    * the hash aggregate on (group, dim) is map-side combinable, so what
    * crosses the one shuffle is at most `groups × dim` partial sums per
    * task, independent of corpus size. The mean routes through DetAgg so
    * every engine and run produces identical bits. `dim` is 1-based. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String)
      : DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col(groupCol), (col("__p") + 1).cast(LongType).as("dim"))
      .agg(round(graft.core.DetAgg.detAvg(col("__v").cast(DoubleType)), 6)
        .as("centroid"))

  /** L2-normalize a vector column to unit length (double elements). The
    * norm is let-bound through a single-element array so it is computed
    * once per row, not once per element (HOF lambdas re-evaluate captured
    * expressions per element — the O(d²) trap). Zero vectors pass through
    * unchanged rather than dividing by zero. */
  def l2Normalize(vec: Column): Column = {
    val dv = transform(vec, x => x.cast(DoubleType))
    element_at(transform(array(l2Norm(vec)), n =>
      transform(dv, x => when(n === lit(0.0), x).otherwise(x / n))), 1)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). The query side is broadcast; the
    * per-query ranking window partitions by query id, so the shuffle is
    * keyed by query — fine for interactive query sets. Ties broken by
    * (rounded cosine desc, corpus id asc) for full determinism. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // Norms are projected BELOW the join so each side's norm is computed
    // once per row, not once per pair (3× fewer vector folds).
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * k most-similar corpus vectors whose label DIFFERS from the query's
    * — the highest-value negatives a retrieval/embedding trainer can
    * sample. Same broadcast-query + keyed-ranking shape as
    * [[cosineTopK]]; the label-mismatch predicate prunes before the
    * ranking window, so the per-query state stays k rows. At corpus
    * scale swap the scoring join for [[ivfTopK]] cells and keep the
    * label filter — the mining semantics are unchanged. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"), l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("__cl"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id") &&
        !(col("__cl") <=> col("__ql")))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** Random-hyperplane (SimHash-for-vectors) bucket id: `planes` is a
    * driver-seeded matrix of unit-less hyperplane normals emitted as
    * literal arrays; bit i = sign of <v, plane_i>. The corpus is bucketed
    * in one codegen'd projection — at scale, persist/bucket the output by
    * `bucket` and every subsequent lookup is a bucket-pruned scan. */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Deterministic pseudo-random hyperplanes (driver-side, seeded). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Materialize the per-table bucket ids as columns `__bkt0..__bktN-1`
    * in ONE codegen'd projection (numPlanes dots per table). Key
    * generators downstream must reference these MATERIALIZED columns,
    * never re-embed `hyperplaneBucket` expressions: building the
    * multi-probe keys by duplicating the bucket expression per probe
    * put (1+numPlanes)×numTables×numPlanes VectorDot nodes in a single
    * projection, blowing codegen's method limit and falling back to
    * interpreted eval — measured ~2 ms/row (3.6 s for 2 000 rows) vs
    * ~0.1 µs/row compiled. CollapseProject will not re-inline a
    * non-cheap expression referenced more than once, so the two-level
    * Project keeps each bucket computed exactly once per row. */
  private def withTableBuckets(df: DataFrame, vecCol: String,
      numPlanes: Int, numTables: Int, dim: Int, seed: Long)
      : (DataFrame, Seq[String]) = {
    val names = (0 until numTables).map(t => s"__bkt$t")
    val withB = df.withColumns(names.zipWithIndex.map { case (n, t) =>
      n -> hyperplaneBucket(col(vecCol), randomPlanes(numPlanes, dim, seed + t))
    }.toMap)
    (withB, names)
  }

  /** (table, bucket) keys for `numTables` independent hyperplane tables —
    * the standard multi-table LSH layout: per-table collision probability
    * is (1 − θ/π)^numPlanes, and tables union, so recall is
    * 1 − (1 − p)^numTables. Emitted as one generator column over the
    * materialized bucket columns; the candidate join is a single
    * equi-join on (table, bucket). */
  private def indexKeys(bktCols: Seq[String]): Column =
    explode(array(bktCols.zipWithIndex.map { case (n, t) =>
      struct(lit(t).as("t"), col(n).as("bkt"))
    }: _*))

  /** Multi-probe query keys (Lv et al., VLDB'07): besides its own
    * bucket, each query probes every bucket at Hamming distance 1 (one
    * hyperplane bit flipped) in every table. Near-misses — a neighbor
    * landing just on the other side of ONE plane — dominate LSH recall
    * loss, so probing them buys most of the recall extra tables would,
    * at (1+numPlanes)x QUERY-side keys only: the corpus index (the
    * scale side) is untouched. XORs reference the materialized bucket
    * columns (see [[withTableBuckets]]). */
  private def probeKeys(bktCols: Seq[String], numPlanes: Int): Column =
    explode(flatten(array(bktCols.zipWithIndex.map { case (n, t) =>
      array((-1 until numPlanes).map { i =>
        val probed = if (i < 0) col(n) else col(n).bitwiseXOR(lit(1L << i))
        struct(lit(t).as("t"), probed.as("bkt"))
      }: _*)
    }: _*)))

  /** LSH-bucketed approximate top-k: compare queries only against corpus
    * vectors sharing a bucket in ANY of `numTables` hyperplane tables
    * (one equi-join on (table, bucket), then a per-pair dedup), ranked as
    * in [[cosineTopK]]. numPlanes trades candidate volume for per-table
    * recall; numTables buys recall back at linear cost. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = 4, numTables: Int = 8,
      dim: Int = 64, seed: Long = 42L, multiProbe: Boolean = false)
      : DataFrame = {
    val (cb, cNames) = withTableBuckets(corpus, vecCol, numPlanes,
      numTables, dim, seed)
    val c = cb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"), indexKeys(cNames).as("tb"))
    val (qb, qNames) = withTableBuckets(queries, vecCol, numPlanes,
      numTables, dim, seed)
    val qKeys =
      if (multiProbe) probeKeys(qNames, numPlanes) else indexKeys(qNames)
    val q = qb.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), qKeys.as("tb"))
    // score per candidate, then collapse multi-table duplicates with a
    // (query, neighbor) aggregate — the score is identical across tables,
    // so max() is a dedup, not a choice
    val scored = c.join(broadcast(q), Seq("tb"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest cells and ranks only those vectors. The classic
    * billion-scale ANN layout: the corpus is scanned once to assign
    * cells (then persisted/bucketed by cell in a real deployment), and
    * every query touches ~nprobe/nlist of the data.
    *
    * Centroids are fit with [[LocalKMeans]] on a bounded,
    * deterministically-ordered sample collected to the driver (standard
    * IVF practice — the quantizer training set is a sample regardless of
    * corpus size, and an in-process fit costs zero Spark jobs where
    * spark.ml's k-means|| pays dozens of scheduler round-trips); cell
    * assignment and probe selection are pure expressions over the
    * centroid literals — no UDFs, no per-row ml calls.
    */
  /** Distance-sorted `(d, cell)` centroid assignment with the codebook
    * shipped as ONE `typedlit` — a single literal node at ANY `nlist`.
    * The per-centroid literal-array formulation it replaces unrolls
    * nlist × dim literal nodes into the plan, and Catalyst's optimizer
    * passes go superlinear in plan size: at nlist=200 (the right cell
    * count for a 200k-vector corpus) the 100x probe watched the DRIVER
    * spend minutes optimizing while executors idled. Math is identical
    * per element — d = v·v − 2·(v·c) + Σc², same VectorDot fold order,
    * Σc² pre-folded on the driver the same way — so assignments (and
    * every recall gate) are bit-identical to the old form. */
  private def sortedCellStructs(vec: Column,
      centroids: Seq[Seq[Double]]): Column = {
    val cents = typedlit(centroids.zipWithIndex.map { case (c, i) =>
      (c, c.map(x => x * x).sum, i)
    })
    val vv = dot(vec, vec)
    array_sort(transform(cents, s =>
      struct((vv - lit(2.0) * dot(vec, s.getField("_1"))
        + s.getField("_2")).as("d"),
        s.getField("_3").as("cell"))))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, nassign: Int = 1): DataFrame = {
    val sample = codebookSample(corpus, idCol, vecCol, 4096)
    val centroids: Seq[Seq[Double]] =
      LocalKMeans.fit(sample, nlist, seed)._2.toSeq.map(_.toSeq)

    def cellOf(vec: Column): Column =
      element_at(sortedCellStructs(vec, centroids), 1).getField("cell")
    def sortedCells(vec: Column): Column =
      transform(sortedCellStructs(vec, centroids), s => s.getField("cell"))
    def probeCells(vec: Column): Column = slice(sortedCells(vec), 1, nprobe)

    // nassign > 1 = IVF with replication: each corpus vector is indexed
    // under its nassign nearest cells (storage x nassign, boundary
    // vectors stop falling between probed cells). Pairs seen via
    // several cells collapse in the (query, neighbor) aggregate — the
    // score is identical per pair, so max() is a dedup, not a choice.
    val cCell =
      if (nassign <= 1) cellOf(col(vecCol)).as("cell")
      else explode(slice(sortedCells(col(vecCol)), 1, nassign)).as("cell")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"), cCell)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"),
        explode(probeCells(col(vecCol))).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Product-quantized ANN top-k (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI'11) — the memory-side companion
    * to [[ivfTopK]]'s routing: the corpus is stored as m sub-vector
    * codes (m · nbits bits per vector instead of 4·dim bytes), and each
    * query scores candidates with the asymmetric distance computation:
    * per-block lookup tables of query→centroid distances, summed by
    * code index. At 100 TB this is what makes the candidate scan fit in
    * memory — the full-precision vectors are only needed to TRAIN the
    * codebooks (a bounded driver-side sample, same recipe as the IVF
    * quantizer) and for optional re-ranking.
    *
    * Shapes: codebooks are driver [[LocalKMeans]] fits per block (zero
    * Spark jobs); encoding and the LUTs are literal-array expressions
    * (no UDFs — the dots go through the codegen'd VectorDot); scoring is
    * a broadcast of the (tiny) query LUT table against the coded corpus
    * + one window top-k. Rank by ADC distance ASC with id tie-break —
    * deterministic, so the driver recall gate is stable. Callers who
    * want cosine ranking should L2-normalize both sides first (then L2
    * order == cosine order). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 4, nbits: Int = 4,
      shortlist: Int = 0, sampleRows: Int = 1024, seed: Long = 42L)
      : DataFrame = {
    val ncent = 1 << nbits
    val sample = codebookSample(corpus, idCol, vecCol, sampleRows)
    require(sample.nonEmpty, "pqTopK needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m blocks")
    val sub = dim / m
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { b =>
      val pts = sample.map(v => v.slice(b * sub, (b + 1) * sub))
      LocalKMeans.fit(pts, ncent, seed + b)._2.toSeq.map(_.toSeq)
    }
    // slice is positional (1-based) and lambda-free: sub-vectors feed
    // VectorDot directly (float array × double literal array)
    def block(vec: Column, b: Int): Column = slice(vec, b * sub + 1, sub)
    def dist2(xb: Column, c: Seq[Double]): Column = {
      val cl = array(c.map(lit): _*)
      dot(xb, xb) - lit(2.0) * dot(xb, cl) + lit(c.map(x => x * x).sum)
    }
    // both PQ kernels are native expressions (graft.functions.PqEncode /
    // PqLut — codebooks ride along as reference objects, generated code
    // is fixed nested loops): the literal-expression formulation
    // (m × ncent dist2 trees of literal centroid arrays) grew past
    // Janino's 64 KB method limit at m=16 and dropped BOTH scans to
    // interpreted eval. Scores are bit-identical to the literal form —
    // same association order, same argmin tie-break.
    def shim(e: Column) =
      org.apache.spark.sql.graftshim.ColumnShim.expression(e)
    val coded = corpus.select(col(idCol).as("neighbor_id"),
      org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.functions.PqEncode(shim(col(vecCol)), books)).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.functions.PqLut(shim(col(vecCol)), books)).as("lut"))
    val adc = (0 until m)
      .map(b => element_at(col("lut"),
        lit(b * ncent) + element_at(col("codes"), b + 1) + 1))
      .reduce(_ + _)
    val scored = coded.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adc, 6).as("adc_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val pq = scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= math.max(k, shortlist))
    if (shortlist <= k)
      pq.select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_dist"))
    else {
      // exact re-rank of the ADC shortlist (the standard PQ deployment:
      // codes prune 99%+ of the corpus, full-precision vectors score
      // only |queries| · shortlist candidates). One id-keyed join pulls
      // the candidate vectors; queries broadcast.
      val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
      val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qn"))
      val re = pq.select(col("query_id"), col("neighbor_id"))
        .join(cv, "neighbor_id").join(broadcast(qv), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
            .as("cos_sim"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      re.withColumn("rank", row_number().over(w2).cast(LongType))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cos_sim"))
    }
  }

  /** LSH-bucketed near-duplicate pairs — the 100 TB path for
    * [[cosineNearDupPairs]]: only vectors sharing a bucket in ANY of
    * `numTables` hyperplane tables are compared (one self-join of the
    * bucketed corpus keyed by (table, bucket), multi-table duplicates
    * collapsed by a (a, b) aggregate). Recall < 1 by construction:
    * per-table collision is (1 − θ/π)^numPlanes, unioned across tables —
    * at real near-dup thresholds (cos ≥ 0.9) a handful of tables reach
    * ≥ 0.99 recall while still pruning hard. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 4, numTables: Int = 8,
      dim: Int = 64, seed: Long = 42L, multiProbe: Boolean = false)
      : DataFrame = {
    // persisted because both join sides read it (columnar cache beats
    // localCheckpoint's row blocks 6×); release path =
    // Dedup.releaseIntermediates() after the pairs are consumed
    // (Bench/Verify do).
    // Candidate generation carries IDS ONLY: the bucket equi-join and the
    // multi-table/multi-probe duplicate collapse (`distinct`) shuffle
    // 16-byte (a, b) rows, never the vectors. Shipping both 64-float
    // vectors through every collision row (the obvious formulation) made
    // the shuffle ~30x wider and every multi-table duplicate paid it —
    // measured 17 s vs 1.3 s at sf0.1 with multiProbe. Vectors re-enter
    // ONCE, joined by id against the distinct pair set, which at any
    // scale is far smaller than the raw collision stream.
    val (withB, bNames) = withTableBuckets(df, vecCol, numPlanes,
      numTables, dim, seed)
    // persist the narrow (id, bkt0..bktN) projection: both key
    // generators below read it, and it holds the numPlanes×numTables
    // dot products — computed once per row, not once per probe key
    val buckets = Dedup.tracked(
      withB.select(col(idCol).as("id") +: bNames.map(col): _*))
    val bucketed = buckets.select(col("id"), indexKeys(bNames).as("tb"))
    // multiProbe expands ONE side to Hamming-1 buckets ((1+numPlanes)x
    // that side's index rows): a pair split by exactly one hyperplane
    // in every table still collides. Asymmetric on purpose — expanding
    // both sides would square the key volume for no extra pair.
    val left =
      if (multiProbe)
        buckets.select(col("id"), probeKeys(bNames, numPlanes).as("tb"))
      else bucketed
    val cand = left.select(col("tb"), col("id").as("a"))
      .join(bucketed.select(col("tb"), col("id").as("b")), Seq("tb"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    scoreCandidatePairs(df, idCol, vecCol, cand, threshold)
  }

  /** Scoring tail of [[lshNearDupPairs]]: re-join the vectors ONCE
    * against the distinct (a, b) candidate set and keep pairs at/above
    * the cosine threshold. Correct in LSH's sparse-candidate regime
    * (strong thresholds), where the distinct pair set is far smaller
    * than the raw collision stream; the dense-regime operators
    * ([[ivfNearDupPairs]], [[semDedup]]) score inline in their cell
    * join instead — see the regime note on ivfNearDupPairs. */
  private def scoreCandidatePairs(df: DataFrame, idCol: String,
      vecCol: String, cand: DataFrame, threshold: Double): DataFrame = {
    val va = df.select(col(idCol).as("a"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"))
    val vb = df.select(col(idCol).as("b"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Cell-blocked (IVF-style) near-duplicate pairs — the WEAK-threshold
    * scale path. Hyperplane LSH prunes by angle agreement per random
    * bit: at cos ≥ 0.8 (θ ≤ 37°) each plane agrees with probability
    * ~0.8 vs 0.5 for random pairs and a few planes separate sharply —
    * but at cos ≈ 0.3 (θ ≈ 72°) the per-bit gap is 0.6 vs 0.5, and no
    * plane/table setting beats the exact scan (measured, SCALE.md
    * round-7: at 20k vectors every LSH parameterization was slower
    * than brute force or lost half the pairs). When the corpus has
    * CLUSTER structure, cell co-membership is the signal that works at
    * those angles: candidates are pairs sharing any of their `nassign`
    * nearest k-means cells (quantizer fit driver-side on a bounded
    * ordered sample — the [[ivfTopK]] recipe), so per-cell work is
    * |cell|², never n², and the threshold only gates the final scored
    * pairs.
    *
    * Execution shape — INLINE scoring, deliberately NOT the
    * [[lshNearDupPairs]] id-only discipline: membership rows carry
    * their vector through ONE cell-keyed exchange (nassign·n rows —
    * linear in the corpus) and the cosine is computed in the pipelined
    * output of the cell join, so only threshold SURVIVORS ever reach
    * another exchange (the closing distinct). The id-only alternative
    * (dedup candidate ids first, join vectors back per pair) moves
    * pair-proportional rows through a distinct plus two joins — in
    * this operator's dense-candidate regime (weak threshold, cluster
    * structure: candidate volume ≈ Σ|cell|·min(|cell|, cap) ≫ corpus)
    * the 100× probe measured it at 294 GB of spill / 437 s on 200k
    * vectors, vs zero spill inline (SCALE.md round 9). LSH keeps
    * id-only because its regime is the opposite: strong thresholds,
    * sparse candidates, collision rows far wider than the distinct
    * pair set. The extra inline cost is one dot product per shared
    * cell beyond the first (≤ nassign−1 recomputes, flops not bytes).
    * `nlist` scales with corpus (cells of ~1–10k members — and it must
    * budget for `nassign`: each vector lands in nassign cells, so cell
    * membership is nassign·n/nlist; the 100× probe's original
    * nlist = n/1000 choice left 4000-member cells whose pair streams
    * spilled the disk). Keep the literal-expression cell assignment
    * ≤ ~64 cells or move it to a native expression (the
    * [[graft.functions.PqEncode]] precedent).
    *
    * `cellCap` is the skew guard (the [[graft.operators.Dedup.minhashLsh]]
    * `bucketCap` analog): a degenerate quantizer cell — all-identical
    * embeddings, a zero-vector dump, a collapsed centroid — emits
    * |cell|² pairs with no ceiling. Rather than dropping hot cells
    * whole (a clump's members share ALL their nassign cells, so the
    * whole clump would vanish), the cap bounds the join one-sided, the
    * [[semDedup]] keeper recipe: per cell only the `cellCap` lowest
    * ids generate pairs as the LEFT (a) side, the right side is
    * uncapped — per-cell work is |cell| · min(|cell|, cellCap), and a
    * pair survives iff its LOWER id is cap-ranked in a shared cell.
    * Inside a hot clump every member still pairs with the clump's
    * lowest ids, so dedup connectivity (one survivor per clique) is
    * preserved; only beyond-cap-to-beyond-cap pairs are lost. */
  def ivfNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, nassign: Int = 2,
      seed: Long = 42L, sampleRows: Int = 4096,
      cellCap: Int = 10000): DataFrame = {
    val sample = codebookSample(df, idCol, vecCol, sampleRows)
    require(sample.nonEmpty, "ivfNearDupPairs needs a non-empty corpus")
    val centroids: Seq[Seq[Double]] =
      LocalKMeans.fit(sample, nlist, seed)._2.toSeq.map(_.toSeq)
    // typedlit codebook: plan size stays O(1) as nlist scales with the
    // corpus (see sortedCellStructs)
    val sortedCells = transform(sortedCellStructs(col(vecCol), centroids),
      s => s.getField("cell"))
    // membership rows carry (vector, norm): the window's cell-keyed
    // exchange is the ONE place vectors move, and the cap filter, both
    // join sides, and the join itself all reuse that partitioning (the
    // cached post-window rows are already cell-partitioned)
    val cw = Window.partitionBy("cell").orderBy(col("id").asc)
    val mv = Dedup.tracked(df.select(col(idCol).as("id"),
        col(vecCol).as("v"), l2Norm(col(vecCol)).as("n"),
        explode(slice(sortedCells, 1, math.max(1, nassign))).as("cell"))
      .withColumn("__rk", row_number().over(cw)))
    val a = mv.where(col("__rk") <= cellCap)
      .select(col("cell"), col("id").as("a"), col("v").as("va"),
        col("n").as("na"))
    val b = mv.select(col("cell"), col("id").as("b"), col("v").as("vb"),
      col("n").as("nb"))
    // cosine computed in the join's pipelined output; only survivors
    // reach the closing distinct (which also collapses a pair that met
    // in several shared cells — the rounded cosine is identical there)
    a.join(b, Seq("cell"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).
    * Exact all-pairs — O(n²) by construction: a VALIDATION-scale tool
    * (ground truth for the LSH recall gates), guarded by `maxRows` so it
    * cannot be pointed at a large corpus by accident. The LSH bucket
    * join above is the 100 TB path. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Int = 100000): DataFrame = {
    // one bounded probe job: the row-cap count AND the vector width
    // (the width gates the broadcast below; riding the existing limit
    // probe costs nothing — round 20, the r19 ADVICE finding)
    val probe = df.limit(maxRows + 1)
      .agg(count(lit(1)).as("n"), max(size(col(vecCol))).as("d"))
      .collect().head
    val n = probe.getLong(0)
    require(n <= maxRows,
      s"cosineNearDupPairs is the exact O(n^2) validation tool (corpus > " +
        s"$maxRows rows); use lshNearDupPairs for the scale path")
    val dim = if (probe.isNullAt(1)) 1L else probe.getInt(1).toLong
    // the stream side of the nested-loop cross join inherits the
    // SCAN's partitioning — a small embeddings table is one parquet
    // file, so the whole n² loop was running in ONE task while the
    // other cores idled (guide §2.5/§2.6: stragglers from input
    // partitioning, not data skew). Spreading the stream side to the
    // session's parallelism before the join divides the quadratic
    // work evenly; the broadcast side is explicit so the planner can
    // never pick the repartitioned side to broadcast.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val a = df.repartition(par)
      .select(col(idCol).as("a"), col(vecCol).as("va"),
        l2Norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("b"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    // SIZE-GATED broadcast (round 20, the r19 ADVICE medium): at the
    // documented row cap a high-dimensional vector table is hundreds
    // of MB materialized on the driver and replicated to every
    // executor — past ~256 MB estimated (rows × dim × 8 B plus row
    // overhead) fall back to the non-broadcast cartesian join, which
    // spreads the same n² work without driver/executor OOM risk.
    // Results identical either way (same join, same predicate).
    val estBytes = n * (dim * 8L + 32L)
    val joined =
      if (estBytes <= (256L << 20)) a.crossJoin(broadcast(b))
      else a.crossJoin(b)
    joined.where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** SemDeDup — semantic (embedding-space) deduplication (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540). Where MinHash/SimHash
    * catch *lexical* duplicates, this catches paraphrases, templated
    * rewrites, and translations: cluster the embedding space with a
    * driver-fit k-means codebook (bounded 4096-row sample, literal-
    * expression assignment — the [[ivfTopK]] recipe, zero per-row ML
    * calls), then compare vectors ONLY within their cluster and drop
    * all but one member of every cosine-epsilon ball.
    *
    * Keep rule (deterministic): members carry a GLOBAL priority key —
    * distance to their nearest centroid, farthest first when
    * `keepFarthest` (the paper's choice: the example far from the
    * centroid is the informative one), id ASC tie-break — and a member
    * is removed iff a higher-priority member sits within `threshold`
    * cosine of it in a shared cell; its recorded keeper is the
    * highest-priority such member. Because the priority is a total
    * order (not a per-cluster rank), the top-priority member of every
    * epsilon-ball survives no matter which cell a pair meets in.
    * Output: one row per removed doc `(id, keeper, cos_sim, cluster)`
    * — the keep set is the anti-join of the corpus against this.
    *
    * Scale shape: one equi-join keyed by cell id against the
    * `keeperCap` highest-priority members per cell — per-cluster work
    * is |cluster| × min(|cluster|, keeperCap), never all-pairs;
    * candidate pairs are generated by cluster co-membership, and the
    * cosine is scored INLINE in the join's pipelined output (the
    * [[ivfNearDupPairs]] discipline, and for the same measured
    * reason: membership rows carrying vectors cross one cell-keyed
    * exchange — nassign·n rows, linear — while the id-only
    * dedup-candidates-then-join-vectors-back alternative moves
    * pair-proportional rows through an aggregate plus two joins, which
    * the 100× probe caught at 26 GB of spill / 147 s on 200k vectors;
    * inline, only threshold survivors reach the closing per-doc
    * aggregate). `nassign` > 1
    * indexes each vector under its nassign nearest cells (the
    * [[ivfTopK]] replication trick) so near-dup pairs straddling a
    * Voronoi boundary still meet — the recall lever. At 100 TB: scale
    * `nlist` with the corpus (clusters of ~1–10k keep the join
    * quadratic-free, budgeting nlist for the nassign-fold replication)
    * — nlist is a codebook size, not a partition count, so the driver
    * fit stays bounded (`sampleRows` controls it: O(sampleRows · nlist
    * · dim) per Lloyd iteration; raise it toward ~8·nlist when nlist
    * grows so the codebook has data to separate). Members beyond
    * `keeperCap` can still be REMOVED (matched against the cap-ranked
    * core) but not serve as keepers — a removed doc's true nearest dup
    * may rank past the cap, in which case the doc survives; that
    * truncation is the documented recall trade. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, seed: Long = 42L,
      keepFarthest: Boolean = true, keeperCap: Int = 1000,
      nassign: Int = 1, sampleRows: Int = 4096): DataFrame = {
    val sample = codebookSample(df, idCol, vecCol, sampleRows)
    require(sample.nonEmpty, "semDedup needs a non-empty corpus")
    val centroids: Seq[Seq[Double]] =
      LocalKMeans.fit(sample, nlist, seed)._2.toSeq.map(_.toSeq)
    // typedlit codebook: plan size stays O(1) as nlist scales with the
    // corpus (see sortedCellStructs)
    val sortedCells = sortedCellStructs(col("v"), centroids)
    // priority key: globally total-ordered (not a per-cluster rank), so
    // remove decisions stay consistent when nassign > 1 lets a pair
    // meet in any shared cell, and the top-priority member of every
    // CONNECTED near-dup component survives (nothing outranks it).
    // Lexicographic struct compare: smaller okey = higher keep priority.
    def okey(d2c: Column, id: Column): Column =
      struct((if (keepFarthest) -d2c else d2c).as("o1"), id.as("o2"))
    // membership rows carry (vector, norm, priority): the keeper
    // window's cell-keyed exchange is where vectors move — nassign·n
    // rows, linear in the corpus — and the candidate join reuses the
    // cached cell-partitioned rows on both sides
    val assigned = Dedup.tracked(df.select(col(idCol).as("id"),
        col(vecCol).as("v"), l2Norm(col(vecCol)).as("n"))
      .select(col("id"), col("v"), col("n"), sortedCells.as("sc"))
      .select(col("id"), col("v"), col("n"),
        explode(slice(col("sc"), 1, math.max(1, nassign))).as("c"),
        okey(element_at(col("sc"), 1).getField("d"), col("id")).as("ok"))
      .select(col("id"), col("v"), col("n"), col("c.cell").as("cell"),
        col("ok")))
    // keeper side capped per cell (keyed window over ~cluster-sized
    // partitions); the removed side is uncapped — a doc past the cap
    // can still be removed, just not serve as keeper
    val w = Window.partitionBy("cell").orderBy(col("ok").asc)
    val keepers = assigned
      .withColumn("rk", row_number().over(w)).where(col("rk") <= keeperCap)
      .select(col("cell"), col("id").as("keeper"), col("v").as("kv"),
        col("n").as("kn"), col("ok").as("kok"))
    // cosine scored in the join's pipelined output: only threshold
    // survivors reach the closing aggregate, which both picks the
    // earliest qualifying keeper and collapses a pair that met in
    // several shared cells (same kok/keeper there; cell is the next
    // struct field, so min() lands on the lowest shared cell)
    assigned.join(keepers, Seq("cell"))
      .where(col("kok") < col("ok"))
      .withColumn("cos_sim",
        round(dot(col("v"), col("kv")) / (col("n") * col("kn")), 6))
      .where(col("cos_sim") >= threshold)
      // earliest qualifying keeper; cell breaks the tie when the same
      // pair met in several shared cells (cos is identical there)
      .groupBy(col("id"))
      .agg(min(struct(col("kok"), col("keeper"), col("cell"),
        col("cos_sim"))).as("k"))
      .select(col("id"), col("k.keeper").as("keeper"),
        col("k.cos_sim").as("cos_sim"),
        col("k.cell").cast(LongType).as("cluster"))
  }

  /** CROSS-corpus SemDeDup — the incremental semantic-dedup primitive
    * (the [[graft.operators.Dedup.minhashLshCross]] analog in embedding
    * space): a new increment is deduplicated against an
    * already-deduplicated reference lake. The quantizer codebook is fit
    * on the REFERENCE side (the lake defines the embedding-space
    * geometry; increments ride its cells), reference members are
    * cap-ranked per cell by the same global priority key as
    * [[semDedup]], and a NEW doc is removed iff it lands within
    * `threshold` cosine of a cap-ranked reference keeper in any of its
    * `nassign` cells — reported with the highest-priority such keeper.
    * Deliberately NO priority comparison between the two sides: a lake
    * member always outranks an increment member (the lake was already
    * admitted — that asymmetry is what "incremental" means), so
    * new×new near-dups are NOT examined here (run [[semDedup]] on the
    * increment first, or rely on the next increment seeing this one in
    * the lake). Candidate volume is new-memberships × keeperCap per
    * cell — never ref×ref, the quadratic-in-history cost this operator
    * exists to avoid. Scoring is inline ([[ivfNearDupPairs]]
    * discipline): vectors ride membership rows through one cell-keyed
    * exchange each side, survivors alone reach the closing per-doc
    * aggregate.
    * @return one row per REMOVED new doc: (id, keeper, cos_sim,
    *         cluster), same schema as [[semDedup]] */
  def semDedupCross(newDf: DataFrame, refDf: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nlist: Int = 16,
      seed: Long = 42L, keepFarthest: Boolean = true,
      keeperCap: Int = 1000, nassign: Int = 1,
      sampleRows: Int = 4096): DataFrame = {
    val sample = codebookSample(refDf, idCol, vecCol, sampleRows)
    require(sample.nonEmpty, "semDedupCross needs a non-empty reference")
    val centroids: Seq[Seq[Double]] =
      LocalKMeans.fit(sample, nlist, seed)._2.toSeq.map(_.toSeq)
    // no persist on the ref assignment: it feeds exactly one consumer
    // (the keeper rank → the cell join) — single-use caching is pure
    // overhead (the minhashLshCross finding, ProfQ190); cross-increment
    // reuse belongs to the artifact path ([[writeSemDedupArtifacts]])
    val keepers = semKeeperRank(
      semAssign(refDf, idCol, vecCol, centroids, keepFarthest, nassign,
        withOk = true), keeperCap)
    semCrossTail(semAssign(newDf, idCol, vecCol, centroids, keepFarthest,
      nassign, withOk = false), keepers, threshold)
  }

  /** Cell assignment of a corpus against a fixed codebook: one row per
    * (doc, assigned cell) carrying (vector, norm[, keep-priority]) —
    * the shared front of [[semDedup]]/[[semDedupCross]] and the
    * artifact write/read paths. */
  private def semAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], keepFarthest: Boolean, nassign: Int,
      withOk: Boolean): DataFrame = {
    val sortedCells = sortedCellStructs(col("v"), centroids)
    def okey(d2c: Column, id: Column): Column =
      struct((if (keepFarthest) -d2c else d2c).as("o1"), id.as("o2"))
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        l2Norm(col(vecCol)).as("n"))
      .select(col("id"), col("v"), col("n"), sortedCells.as("sc"))
      .select(col("id"), col("v"), col("n"),
        explode(slice(col("sc"), 1, math.max(1, nassign))).as("c"),
        okey(element_at(col("sc"), 1).getField("d"), col("id")).as("ok"))
    val cols = Seq(col("id"), col("v"), col("n"),
      col("c.cell").as("cell")) ++
      (if (withOk) Seq(col("ok")) else Nil)
    base.select(cols: _*)
  }

  /** Cap-rank the assigned reference rows into the per-cell keeper
    * table (cell, keeper, kv, kn, kok). */
  private def semKeeperRank(assigned: DataFrame, keeperCap: Int)
      : DataFrame = {
    val w = Window.partitionBy("cell").orderBy(col("ok").asc)
    assigned
      .withColumn("rk", row_number().over(w)).where(col("rk") <= keeperCap)
      .select(col("cell"), col("id").as("keeper"), col("v").as("kv"),
        col("n").as("kn"), col("ok").as("kok"))
  }

  /** Shared scoring tail: increment memberships × keeper table, inline
    * cosine, earliest-qualifying-keeper aggregate. */
  private def semCrossTail(newAssigned: DataFrame, keepers: DataFrame,
      threshold: Double): DataFrame =
    newAssigned.join(keepers, Seq("cell"))
      .where(col("id") =!= col("keeper")) // overlapping-side insurance
      .withColumn("cos_sim",
        round(dot(col("v"), col("kv")) / (col("n") * col("kn")), 6))
      .where(col("cos_sim") >= threshold)
      .groupBy(col("id"))
      .agg(min(struct(col("kok"), col("keeper"), col("cell"),
        col("cos_sim"))).as("k"))
      .select(col("id"), col("k.keeper").as("keeper"),
        col("k.cos_sim").as("cos_sim"),
        col("k.cell").cast(LongType).as("cluster"))

  /** Persist the semantic lake artifacts — job 1 of the incremental
    * SemDeDup contract the [[semDedupCross]] scaladoc promises: the
    * fitted codebook at `<path>/codebook` (cell, centroid) and the
    * cap-ranked keeper table at `<path>/keepers` (cell, keeper, kv,
    * kn, kok). Each increment then pays ONE assignment pass over
    * itself plus a cell-keyed join against the keeper table — the
    * lake is never re-sampled, re-fit, re-assigned, or re-ranked. At
    * cluster scale, partition the keeper table by `cell` so an
    * increment's probe prunes to its touched cells. */
  def writeSemDedupArtifacts(refDf: DataFrame, idCol: String,
      vecCol: String, path: String, nlist: Int = 16, seed: Long = 42L,
      keepFarthest: Boolean = true, keeperCap: Int = 1000,
      nassign: Int = 1, sampleRows: Int = 4096): Unit = {
    val sample = codebookSample(refDf, idCol, vecCol, sampleRows)
    require(sample.nonEmpty, "writeSemDedupArtifacts needs a reference")
    val centroids: Seq[Seq[Double]] =
      LocalKMeans.fit(sample, nlist, seed)._2.toSeq.map(_.toSeq)
    val spark = refDf.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    semKeeperRank(semAssign(refDf, idCol, vecCol, centroids, keepFarthest,
        nassign, withOk = true), keeperCap)
      .write.mode("overwrite").parquet(s"$path/keepers")
  }

  /** Load the fitted codebook back (bounded: nlist rows). */
  def readSemCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Double]] =
    LakeRead.parquet(spark, s"$path/codebook").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** Job 3 of the incremental SemDeDup contract: fold an increment's
    * SURVIVORS into the keeper table, so the next increment dedups
    * against everything admitted so far — the semantic sibling of
    * [[graft.operators.Dedup.appendContentHashes]], completing the
    * build→dedup→append cycle for the embedding column. The codebook
    * is read back from the lake itself (geometry is fixed at write
    * time — the contract), only the survivors pay an assignment pass,
    * and the lake's vectors are never re-assigned or re-ranked from
    * the corpus: the merge works entirely on the CAPPED keeper table.
    *
    * Unlike the hash and signature lakes, keepers cannot be blind-
    * appended: `keeperCap` ranks by the GLOBAL priority key (distance
    * to centroid, id), so a high-priority survivor must displace a
    * stored keeper beyond the cap, not queue behind it. The fold-in is
    * therefore a rank-merge REWRITE: union the stored keepers with the
    * survivors' cap-candidate rows, re-rank per cell by `kok`, keep
    * the top `keeperCap`, and overwrite the table. That preserves the
    * build invariant — append(write(A), survivors(B)) produces exactly
    * the keeper table write(A ∪ survivors(B)) would under the same
    * codebook (spec-pinned) — and it stays O(keeper table), which the
    * cap bounds at nlist × keeperCap rows regardless of corpus size
    * (the rewrite never scales with the lake's documents, only with
    * its cells). `dropDuplicates(cell, keeper)` makes re-appends
    * idempotent (a duplicate row must not burn a cap slot). The merged
    * table is materialized eagerly ([[graft.operators.Lineage.cut]])
    * before the overwrite — its plan reads the path it replaces.
    * CALLERS carry the same duty: any still-lazy frame whose plan
    * reads the keeper table (the increment's removal set, survivors
    * derived from it) must be materialized BEFORE this call — the
    * rewrite replaces the files underneath it (q201 cuts its
    * survivors first; [[semDedupLakeStep]] fuses the jobs and owns
    * the ordering internally).
    * `keepFarthest`/`keeperCap`/`nassign` must match the write. */
  def appendSemKeepers(survivors: DataFrame, idCol: String,
      vecCol: String, path: String, keepFarthest: Boolean = true,
      keeperCap: Int = 1000, nassign: Int = 1): Unit = {
    val spark = survivors.sparkSession
    val centroids = readSemCodebook(spark, path)
    val stored = LakeRead.parquet(spark, s"$path/keepers")
    require(stored.columns.toSet == Set("cell", "keeper", "kv", "kn",
      "kok"), "keepers must be a writeSemDedupArtifacts table; got " +
      stored.columns.mkString(","))
    val incoming = semAssign(survivors, idCol, vecCol, centroids,
        keepFarthest, nassign, withOk = true)
      .select(col("cell"), col("id").as("keeper"), col("v").as("kv"),
        col("n").as("kn"), col("ok").as("kok"))
    overwriteMergedKeepers(stored, incoming, keeperCap,
      s"$path/keepers")
  }

  /** Jobs 2+3 of the semantic lake contract FUSED — the
    * [[graft.operators.Dedup.minhashLshLakeStep]] analog: assign the
    * increment ONCE (the two-job path assigns it to probe, then
    * re-assigns the survivors to fold in — the assignment's
    * literal-codebook distance expressions are the append's dominant
    * cost at production nlist), dedup against the keeper artifact,
    * rank-merge the survivors' already-assigned rows into the keeper
    * table under `keeperCap`, and return the survivors.
    * Results are spec-pinned identical to the two-job path.
    * SIDE-EFFECTING (the keeper-table rewrite); the survivors and the
    * merged table are eagerly materialized BEFORE the overwrite —
    * both their plans read the table being replaced. */
  def semDedupLakeStep(newDf: DataFrame, idCol: String, vecCol: String,
      path: String, threshold: Double, keepFarthest: Boolean = true,
      keeperCap: Int = 1000, nassign: Int = 1): DataFrame = {
    val spark = newDf.sparkSession
    val centroids = readSemCodebook(spark, path)
    val stored = LakeRead.parquet(spark, s"$path/keepers")
    val (survivors, fold) = semDedupLakeStepDeferred(newDf, idCol,
      vecCol, centroids, stored, s"$path/keepers", threshold,
      keepFarthest, keeperCap, nassign)
    fold()
    survivors
  }

  /** The fused semantic step against an EXPLICIT stored-keeper frame
    * and an EXPLICIT output snapshot directory, with the keeper-snapshot
    * rewrite returned as a deferred thunk — the micro-batch form used
    * by [[graft.streaming.StreamLakeIngest]]: because the keeper table
    * is a capped rank-merge REWRITE (not an append), the streaming
    * layout versions it as one snapshot per micro-batch; the caller
    * passes the latest snapshot OLDER than the current batch as
    * `stored` and the batch's own snapshot directory as `outDir`, so a
    * replay recomputes from the same visible state and rewrites its
    * own snapshot (exactly-once without a transaction log; the
    * snapshot is O(nlist × keeperCap) regardless of corpus size, so a
    * per-batch rewrite never scales with the lake). The thunk's merge
    * plan reads `stored` and the survivors' cut blocks, so it must
    * complete before the caller frees the survivors or rewrites
    * `stored`'s directory; the in-place batch form
    * [[semDedupLakeStep]] (read keepers, same keepers dir) therefore
    * runs it at once.
    *
    * `dedupWithinIncrement` additionally removes WITHIN-increment
    * near-dups (larger id of every same-cell pair at `threshold`
    * cosine — pair-based, so chains hold) from the SAME assignment
    * rows — no second assignment pass. Cross-only default matches the
    * batch cycles (q201/q204); see [[graft.operators.Dedup
    * .minhashLshLakeStepDeferred]] for the rationale. */
  private[graft] def semDedupLakeStepDeferred(newDf: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]],
      stored: DataFrame, outDir: String, threshold: Double,
      keepFarthest: Boolean = true, keeperCap: Int = 1000,
      nassign: Int = 1, dedupWithinIncrement: Boolean = false)
      : (DataFrame, () => Unit) = {
    require(stored.columns.toSet == Set("cell", "keeper", "kv", "kn",
      "kok"), "keepers must be a writeSemDedupArtifacts table; got " +
      stored.columns.mkString(","))
    val assigned = Dedup.tracked(semAssign(newDf, idCol, vecCol,
      centroids, keepFarthest, nassign, withOk = true))
    val crossRemoved = semCrossTail(assigned.drop("ok"), stored,
      threshold).select(col("id"))
    val removed =
      if (!dedupWithinIncrement) crossRemoved
      else crossRemoved.unionByName(
        assigned.select(col("cell"), col("id").as("wa"),
            col("v").as("va"), col("n").as("na"))
          .join(assigned.select(col("cell"), col("id").as("wb"),
            col("v").as("vb"), col("n").as("nb")), Seq("cell"))
          .where(col("wa") < col("wb"))
          .where(dot(col("va"), col("vb")) / (col("na") * col("nb"))
            >= threshold)
          .select(col("wb").as("id")).distinct()).distinct()
    val survivors = graft.operators.Lineage.cut(
      newDf.join(removed.select(col("id").as(idCol)), Seq(idCol),
        "left_anti"))
    val incoming = assigned
      .join(survivors.select(col(idCol).as("id")), Seq("id"),
        "left_semi")
      .select(col("cell"), col("id").as("keeper"), col("v").as("kv"),
        col("n").as("kn"), col("ok").as("kok"))
    (survivors,
      () => overwriteMergedKeepers(stored, incoming, keeperCap, outDir))
  }

  /** Shared fold-in tail: rank-merge incoming keeper-candidate rows
    * against the stored table under `keeperCap`, materialize eagerly
    * (the plan reads the table being replaced), overwrite, free. */
  private def overwriteMergedKeepers(stored: DataFrame,
      incoming: DataFrame, keeperCap: Int, outDir: String): Unit = {
    val w = Window.partitionBy("cell").orderBy(col("kok").asc)
    val merged = stored.unionByName(incoming)
      .dropDuplicates("cell", "keeper")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= keeperCap).drop("rk")
    val cut = graft.operators.Lineage.cut(merged)
    cut.write.mode("overwrite").parquet(outDir)
    graft.operators.Lineage.free(cut)
  }

  /** Job 2 of the incremental SemDeDup contract: dedup an increment
    * against pre-built artifacts ([[writeSemDedupArtifacts]]) — the
    * keeper table is joined as loaded and the codebook drives only the
    * INCREMENT's assignment; the lake side contributes zero scans
    * beyond the artifact read (plan-guarded in the spec). Output and
    * semantics identical to [[semDedupCross]] with the same
    * parameters (`nassign`/`threshold` may differ per increment;
    * `keepFarthest`/`keeperCap`/codebook geometry are fixed at write
    * time, which is exactly the lake contract). */
  def semDedupCrossFromArtifacts(newDf: DataFrame, keepers: DataFrame,
      centroids: Seq[Seq[Double]], idCol: String, vecCol: String,
      threshold: Double, nassign: Int = 1): DataFrame = {
    require(keepers.columns.toSet == Set("cell", "keeper", "kv", "kn",
      "kok"), "keepers must be a writeSemDedupArtifacts table; got " +
      keepers.columns.mkString(","))
    semCrossTail(semAssign(newDf, idCol, vecCol, centroids,
      keepFarthest = true, nassign = nassign, withOk = false),
      keepers, threshold)
  }

  /** PCA of an embedding column: ONE distributed pass accumulates the
    * d×d Gram matrix and mean per partition (`mapPartitions` — the
    * legitimate imperative-accumulation case: d² doubles of state, no
    * per-row shuffle), partials reduce to the driver, and the d×d
    * covariance eigendecomposes there (breeze `eigSym` — d is the
    * embedding width, driver-trivial at any corpus size; this is
    * exactly how spark.ml computes PCA). Returns the eigen-spectrum
    * descending plus invariant flags.
    *
    * Cross-partition double reduction is not order-stable, so raw
    * eigenvalues carry ulp noise run-to-run — the oracle-checkable
    * output is therefore the INVARIANT gate (trace preservation,
    * monotone non-negative spectrum), with the spectrum itself exposed
    * via [[pca]] for callers and specs. */
  def pca(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Double) = {
    val parts = df.select(col(vecCol)).na.drop()
      .queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var gram: Array[Double] = null; var sum: Array[Double] = null
        var d = 0
        it.foreach { row =>
          val arr = row.getArray(0)
          if (gram == null) {
            d = arr.numElements(); gram = new Array[Double](d * d)
            sum = new Array[Double](d)
          }
          require(arr.numElements() == d,
            s"ragged embedding width: expected $d, got ${arr.numElements()}")
          val v = new Array[Double](d)
          var i = 0
          while (i < d) { v(i) = arr.getFloat(i).toDouble; i += 1 }
          i = 0
          while (i < d) {
            sum(i) += v(i)
            var j = 0
            val vi = v(i)
            while (j <= i) { gram(i * d + j) += vi * v(j); j += 1 }
            i += 1
          }
          n += 1L
        }
        if (n == 0L) Iterator.empty
        else Iterator.single((n, d, gram, sum))
      }
    // fold with an empty-safe zero: reduce on an RDD whose partitions
    // are all empty (empty/all-null input) throws "empty collection"
    val zero = (0L, -1, null: Array[Double], null: Array[Double])
    val (n, d, gram, sum) = parts.fold(zero) { (a, b) =>
      if (a._1 == 0L) b
      else if (b._1 == 0L) a
      else {
        require(a._2 == b._2, "ragged embedding widths across partitions")
        var i = 0
        while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
        i = 0
        while (i < a._4.length) { a._4(i) += b._4(i); i += 1 }
        (a._1 + b._1, a._2, a._3, a._4)
      }
    }
    if (n == 0L) return (0L, Array.empty[Double], 0.0)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j <= i) {
        val c = gram(i * d + j) / n - (sum(i) / n) * (sum(j) / n)
        cov(i, j) = c; cov(j, i) = c; j += 1
      }
      i += 1
    }
    val ev = breeze.linalg.eigSym(cov).eigenvalues.toArray.sorted.reverse
    (n, ev, breeze.linalg.trace(cov))
  }

  /** Invariant-gated PCA summary (the oracle-checkable form): row
    * count, width, and 1-flags for trace preservation (Σλ == Σvar) and
    * a monotone non-negative spectrum. */
  def pcaGate(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n, ev, trace) = pca(df, vecCol)
    val d = ev.length
    val traceOk = math.abs(ev.sum - trace) <= 1e-6 * math.max(1.0, trace)
    // vacuously true on empty input (n=0, dim=0 row, gates pass)
    val monotone = ev.isEmpty || (ev.sliding(2).forall {
      case Array(a, b) => a >= b - 1e-9; case _ => true
    } && ev.last >= -1e-9)
    Seq((n, d.toLong, if (traceOk) 1L else 0L, if (monotone) 1L else 0L))
      .toDF("n", "dim", "trace_ok", "monotone_ok")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` candidates, each maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} cos(c, s)` — the standard
    * diversity-aware cut over a retriever's candidate list (diverse
    * few-shot example selection, de-redundified search hits).
    *
    * The greedy recurrence is inherently sequential in k, so this is
    * a DRIVER-SIDE fold over a BOUNDED candidate list (`maxCandidates`
    * loudly enforced) — the same adjudicated pattern as the codebook
    * collects: the corpus scan lives in the upstream distributed
    * retriever ([[cosineTopK]]/[[ivfTopK]]); MMR only ever sees that
    * top-N, and k·N cosine folds over ≤4096 rows are driver-trivial.
    * Nothing changes at 100 TB — the bound is per QUERY, not corpus.
    *
    * Determinism: pairwise cosines and marginal scores round to 6
    * (Spark's HALF_UP BigDecimal semantics, mirrored here) before any
    * comparison; ties break by id ascending; the first pick scores
    * `λ·rel − (1−λ)·0` (empty selected set ⇒ zero redundancy), and
    * later maxes run over the true selected-set cosines (no zero
    * clamp — all-negative similarity neighborhoods stay negative).
    * The oracle SQL unrolls the same k steps verbatim.
    */
  def mmrRerank(candidates: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambda: Double = 0.7,
      maxCandidates: Int = 4096): DataFrame = {
    val spark = candidates.sparkSession
    val idField = candidates.schema(idCol)
    require(Seq(LongType, IntegerType, StringType)
        .contains(idField.dataType),
      s"mmrRerank: unsupported id type ${idField.dataType.sql} for " +
        s"'$idCol' — tie-breaks need a long, int, or string id")
    val rows = candidates.select(col(idCol),
        col(vecCol).cast(ArrayType(DoubleType)),
        col(relCol).cast(DoubleType))
      .limit(maxCandidates + 1).collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank re-ranks a bounded candidate list on the driver; " +
        s"got > $maxCandidates rows — cut the list with a distributed " +
        "top-N retriever first")
    val picked = mmrGreedy(rows.iterator.map(r =>
      (r.get(0), r.getSeq[Double](1).toArray, r.getDouble(2))), k,
      lambda)
    val out = picked.zipWithIndex.map { case ((id, s), i) =>
      org.apache.spark.sql.Row((i + 1).toLong, id, s)
    }
    spark.createDataFrame(
      new java.util.ArrayList(out.asJava),
      StructType(Seq(StructField("rank", LongType, nullable = false),
        idField.copy(name = idCol),
        StructField("mmr_score", DoubleType, nullable = false))))
  }

  /** MMR id types whose toString order matches their natural order —
    * loudly rejected otherwise (Short/Double/Decimal would sort "10"
    * before "2" in the oracle's tie-break). */
  private def mmrIdTypeOk(dt: DataType): Boolean =
    Seq(LongType, IntegerType, StringType).contains(dt)

  private val mmrIdLt: (Any, Any) => Boolean = {
    case (x: Long, y: Long)     => x < y
    case (x: Int, y: Int)       => x < y
    case (x: String, y: String) => x < y
    case (x, _) => throw new IllegalArgumentException(
      s"mmr rerank: unsupported id type ${x.getClass.getName} — " +
        "use a long, int, or string id column")
  }

  /** The ONE greedy MMR fold over a bounded candidate list — shared
    * by the driver-side single-query [[mmrRerank]] and the
    * distributed per-group [[mmrRerankPerQuery]], so the two can
    * never drift. Order-independent in the input order: every pick is
    * the max by (rounded score desc, id asc) over the remaining SET.
    * Returns (id, score) in pick order. */
  private def mmrGreedy(rows: Iterator[(Any, Array[Double], Double)],
      k: Int, lambda: Double): Seq[(Any, Double)] = {
    def round6(x: Double): Double =
      BigDecimal.decimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) {
        dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i)
        i += 1
      }
      // a zero-norm side contributes similarity 0.0 (not NaN — a NaN
      // would poison every maxSim comparison downstream and make the
      // greedy pick order-dependent)
      if (daa == 0.0 || dbb == 0.0) 0.0
      else round6(dab / (math.sqrt(daa) * math.sqrt(dbb)))
    }
    final case class Cand(id: Any, vec: Array[Double], rel: Double,
        var maxSim: Double)
    val remaining = scala.collection.mutable.ArrayBuffer.empty[Cand]
    rows.foreach { case (id, vec, rel) =>
      remaining += Cand(id, vec, rel, Double.NegativeInfinity)
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
    while (picked.length < k && remaining.nonEmpty) {
      // first pick sees an empty selected set: redundancy term is 0
      def score(c: Cand): Double = round6(lambda * c.rel -
        (1.0 - lambda) * (if (picked.isEmpty) 0.0 else c.maxSim))
      val best = remaining.reduceLeft { (a, b) =>
        val (sa, sb) = (score(a), score(b))
        if (sa > sb || (sa == sb && mmrIdLt(a.id, b.id))) a else b
      }
      picked += ((best.id, score(best)))
      remaining -= best
      remaining.foreach { c =>
        c.maxSim = math.max(c.maxSim, cos6(c.vec, best.vec))
      }
    }
    picked.toSeq
  }

  /** PER-QUERY MMR — the [[mmrRerank]] greedy run independently for
    * every query key, DISTRIBUTED: the multi-probe audit shape
    * ([[graft.operators.Retrieval.rrfFuse]]'s `queryCols` pattern),
    * where a thousand probes' candidate lists each need diversifying
    * and a driver-side loop per probe would serialize the fleet.
    *
    * One shuffle keyed by `queryCols`; within each task, candidates
    * sort by (queryCols, id) and each query's run folds through the
    * SAME bounded greedy as the single-query path (group size loudly
    * capped at `maxCandidates` — the list must come from an upstream
    * per-query top-N retriever). Nothing global: memory per task is
    * one query's list, so the operator scales in queries, not
    * candidates × queries. Determinism is the single-query contract
    * per group (rounded scores, id tie-breaks, pick-order output).
    *
    * Output: queryCols ++ (rank, idCol, mmr_score), `k` rows (or the
    * group size, if smaller) per query key.
    */
  def mmrRerankPerQuery(candidates: DataFrame, queryCols: Seq[String],
      idCol: String, vecCol: String, relCol: String, k: Int,
      lambda: Double = 0.7, maxCandidates: Int = 4096): DataFrame = {
    require(queryCols.nonEmpty,
      "mmrRerankPerQuery needs at least one query column — use " +
        "mmrRerank for a single list")
    val spark = candidates.sparkSession
    val idField = candidates.schema(idCol)
    require(mmrIdTypeOk(idField.dataType),
      s"mmrRerankPerQuery: unsupported id type " +
        s"${idField.dataType.sql} for '$idCol' — tie-breaks need a " +
        "long, int, or string id")
    // group-run detection compares key values with Seq equality —
    // loudly reject key types where that equality is identity-based
    // (arrays/maps/structs/binary), which would split every group
    queryCols.foreach { c =>
      val dt = candidates.schema(c).dataType
      require(!dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType] &&
          !dt.isInstanceOf[StructType] && dt != BinaryType,
        s"mmrRerankPerQuery: query column '$c' has non-atomic type " +
          s"${dt.sql} — use scalar query keys")
    }
    val nq = queryCols.length
    val prepared = candidates.select(
        queryCols.map(col) ++ Seq(col(idCol),
          col(vecCol).cast(ArrayType(DoubleType)),
          col(relCol).cast(DoubleType)): _*)
      .repartition(queryCols.map(col): _*)
      .sortWithinPartitions(queryCols.map(col) :+ col(idCol): _*)
    val outSchema = StructType(
      queryCols.map(c => prepared.schema(c)) ++ Seq(
        StructField("rank", LongType, nullable = false),
        idField.copy(name = idCol),
        StructField("mmr_score", DoubleType, nullable = false)))
    val (kk, lam, cap) = (k, lambda, maxCandidates)
    val rdd = prepared.rdd.mapPartitions { it =>
      val bit = it.buffered
      new Iterator[Seq[org.apache.spark.sql.Row]] {
        override def hasNext: Boolean = bit.hasNext
        override def next(): Seq[org.apache.spark.sql.Row] = {
          val key = bit.head.toSeq.take(nq)
          val group = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          while (bit.hasNext && bit.head.toSeq.take(nq) == key) {
            group += bit.next()
            require(group.length <= cap,
              s"mmrRerankPerQuery: query group $key exceeds " +
                s"$cap candidates — cut each list with a per-query " +
                "top-N retriever first")
          }
          val picks = mmrGreedy(group.iterator.map(r =>
            (r.get(nq), r.getSeq[Double](nq + 1).toArray,
              r.getDouble(nq + 2))), kk, lam)
          picks.zipWithIndex.map { case ((id, s), i) =>
            org.apache.spark.sql.Row.fromSeq(
              key ++ Seq((i + 1).toLong, id, s))
          }
        }
      }.flatten
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
