package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames (the curation uses:
  * centrality of duplicate-cluster members, influence in citation/link
  * graphs distilled from the corpus). Connected components live in
  * [[Dedup]] next to their dedup callers; this holds the value-weighted
  * iterations.
  */
object Graph {

  /** Free every frame this module cut or kept outside any open
    * [[Lineage.scope]] — the same root release as
    * `Dedup.releaseIntermediates` (Bench/Verify call both between
    * queries). */
  def releaseIntermediates(): Unit = Lineage.releaseRoot()

  /** PageRank mass by fixed-round power iteration on the UNDIRECTED
    * graph (edges are symmetrized and deduplicated; random-walk
    * normalization is by degree). Works in total-mass-N units — every
    * node starts at mass 1.0 and updates as
    * `m' = (1−d) + d·Σ_{u∼v} m(u)/deg(u)` with d = 7/8 — so per-node
    * magnitudes are O(1) at ANY graph size (true-PageRank probability =
    * mass/N, one division away).
    *
    * Scale shape: each round is ONE equi-join of the edge list against
    * the rank state plus one hash aggregate keyed by destination — the
    * textbook BSP round, no collect, no windows. The edge list is
    * persisted once and reused every round; the state is
    * lineage-cut per round ([[Lineage.cut]]) so 10 rounds don't stack
    * 10 joins of lineage into one exponential plan; set
    * `spark.graft.checkpoint.reliable=true` (+ `.dir`) on a cluster so
    * the cut survives executor loss.
    *
    * Determinism (the engine's gate discipline): the ENTIRE iteration is
    * 64-bit integer arithmetic — masses are fixed-point units of
    * 10^-unitScale, damping is the rational 7/8, and the per-edge spread
    * and damped gather use integer division — so every partitioning and
    * every engine computes bit-identical states at every round. This is
    * deliberate: a double formulation with per-round `round()` parks
    * quantized values exactly on decimal rounding boundaries, where
    * engines' double-tie behavior diverges (observed at both 9 and
    * 12 dp before this rewrite); integers make the gate exact by
    * construction. The truncation perturbs the true fixed point by
    * ≤ deg·10^-unitScale per node per round — invisible at 12 digits.
    * Overflow bound: the damped-gather intermediate 7·Σ is below
    * 7·N·10^unitScale; int64 holds that while N·10^unitScale < 1.3e18,
    * so pass a smaller `unitScale` for huge graphs (9 ⇒ ~10^9 nodes).
    *
    * @return (id, mass): every node of the symmetrized graph, mass in
    *         1.0-start units (exact double: units / 10^unitScale) */
  def pageRankMass(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, unitScale: Int = 12): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(unitScale >= 3 && unitScale <= 15, "unitScale in [3, 15]")
    val unit = math.pow(10, unitScale).toLong
    // the edge list is hash-partitioned by src ONCE and cached that way:
    // every round's spread join then reuses the cached partitioning and
    // shuffles only the (N-row) rank state, never the (E-row) edges —
    // the difference between O(E) and O(N) network per round at scale.
    // deg keeps its groupBy partitioning (same key), so the update join
    // against the gather output (also agg-partitioned by id) is
    // exchange-free.
    val sym = Lineage.keep(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .repartition(col("src")))
    val deg = Lineage.keep(sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")))
    // (1 − 7/8)·unit is exact: 10^q is divisible by 8 for q >= 3
    val baseUnits = unit / 8L
    var state = deg.select(col("id"), col("deg"), lit(unit).as("mu"))
    var i = 0
    while (i < iters) {
      val contrib = sym.join(state, sym("src") === state("id"))
        .select(sym("dst").as("id"), expr("mu DIV deg").as("__t"))
      val gathered = contrib.groupBy("id").agg(sum(col("__t")).as("__g"))
      // every node of an undirected graph has >= 1 incoming edge, so the
      // gather covers the full vertex set — no left-join patch needed
      // Cut the lineage EVERY round: skipping cuts deepens the next
      // round's plan by one join+agg each and was measured to buy
      // nothing — A/B of cadence 1/2/4 over 10 rounds (SCALE.md round
      // 9): statistically tied at 600k edges, and per-round cuts were
      // FASTEST at 120M edges (73.7 s vs 81.8/84.0) — so the cadence
      // knob was removed rather than kept unexplained
      val next = gathered.join(deg, "id")
        .select(col("id"), col("deg"),
          (lit(baseUnits) + expr("(7 * __g) DIV 8")).as("mu"))
      val prev = state
      state = Lineage.cut(next)
      // the cut is eager, so the superseded round is dead the moment it
      // returns; free its checkpoint blocks/files (unpersist can't —
      // cut frames are invisible to CacheManager). Round 0's `state` is
      // a plain derived frame, for which free degrades to a no-op.
      if (i > 0) Lineage.free(prev)
      i += 1
    }
    state.select(col("id"), (col("mu") / lit(unit.toDouble)).as("m"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007,
    * arXiv:0709.2938) — community detection, the DETERMINISTIC
    * variant: every round each node adopts the most frequent label
    * among its neighbors, ties broken by the SMALLEST label, for
    * exactly `iters` rounds. (Classic LPA's random tie-breaks and
    * asynchronous visit order are irreproducible; fixed rounds +
    * lexicographic ties make the result engine-replayable, so the
    * oracle is an unrolled CTE chain.) Labels start as node ids;
    * node ids must be non-negative (the argmax packs `-label` into a
    * struct max).
    *
    * Same BSP shape as [[pageRankMass]]: symmetrized edges
    * hash-partitioned ONCE and cached, per-round shuffle is the N-row
    * label state (never the E-row edges), per-round lineage cut +
    * superseded-round block reclamation. The per-node argmax is one
    * `max(struct(cnt, -label))` aggregate — map-side combined, no
    * ranking window anywhere.
    *
    * @return (node, label) for every node of the symmetrized graph */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame =
    lpaCore(edges, srcCol, dstCol, iters, track = false)._1

  /** [[labelPropagation]] with CONVERGENCE REPORTING: returns one row
    * per round, `(round, n_changed)` — the count of nodes whose label
    * changed that round. The evidence for choosing `iters`: a run
    * whose final rounds still churn needs more; one that hits 0 early
    * can stop sooner. Tracking costs one N-row join + count per round
    * against the already-cut states (the edges never re-shuffle), so
    * it is opt-in rather than baked into every LPA call. */
  def labelPropagationConvergence(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 4): DataFrame = {
    val (state, changed) = lpaCore(edges, srcCol, dstCol, iters,
      track = true)
    val spark = state.sparkSession
    import spark.implicits._
    changed.zipWithIndex
      .map { case (n, i) => ((i + 1).toLong, n) }
      .toDF("round", "n_changed")
  }

  private def lpaCore(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, track: Boolean): (DataFrame, Seq[Long]) = {
    require(iters >= 1, "iters must be >= 1")
    val sym = Lineage.keep(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .repartition(col("src")))
    var state = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    val changed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < iters) {
      val nbr = sym.join(state, sym("src") === state("id"))
        .select(sym("dst").as("id"), col("lab"))
      val counts = nbr.groupBy("id", "lab").agg(count(lit(1)).as("__c"))
      // argmax (count desc, label asc) as ONE aggregate: struct max
      // orders by count, then by -label (largest -label = smallest)
      val next = counts.groupBy("id")
        .agg(max(struct(col("__c"), (-col("lab")).as("__nl"))).as("__b"))
        .select(col("id"), (-col("__b.__nl")).as("lab"))
      // symmetrized graph: every node has >= 1 incoming edge, so the
      // gather covers the full vertex set (the pageRankMass argument)
      val prev = state
      state = Lineage.cut(next)
      if (track)
        // one agg over the two N-row cut states — the round's churn
        changed += state
          .join(prev.withColumnRenamed("lab", "__pl"), "id")
          .where(col("lab") =!= col("__pl")).count()
      if (i > 0) Lineage.free(prev)
      i += 1
    }
    (state.select(col("id").as("node"), col("lab").as("label")),
      changed.toSeq)
  }
}
