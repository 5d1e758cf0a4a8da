package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.streaming.{StreamNearDup, StreamSemDedup}

/** Enroll-cap pressure probe for the streaming near-dup gates
  * (round-9 verdict #6): once a bucket/cell fills, later docs are
  * compared against the stored prefix but never enrolled, so a true
  * duplicate of a POST-cap arrival is invisible by design. This
  * measures the removal-recall curve as the cap shrinks below the hot
  * mass, with truth computed empirically (exact pair operators on the
  * same corpus), so the cap defaults are evidence, not argument.
  *
  * Adversarial construction, same for both gates: a HOT CLIQUE
  * (near-identical members) saturates the gate state early, while
  * distinct VICTIM DUP PAIRS (x_k, y_k) — mutually dissimilar, and
  * dissimilar to the clique — arrive interleaved; a victim pair is
  * caught only if x_k enrolled before saturation. Layout: every 8-id
  * block carries 6 hot docs + one victim pair, so victim enrollment
  * opportunity decays smoothly with the cap.
  *
  * The two gates should SPLIT here, and that split is the finding:
  * MinHash buckets are keyed by the band signature, so distinct dup
  * pairs land in their own buckets and never contend with the hot
  * clique's buckets — removal recall should stay ~1.0 at any cap.
  * IVF cells are coarse Voronoi regions, so the victims SHARE the
  * clique's cell and the cap starves their enrollment — recall decays
  * toward the hot-only share as the cap shrinks.
  *
  * Usage: runMain graft.tools.StreamCapProbe
  * Output: one "STREAMCAP <json>" line per (gate, cap).
  */
object StreamCapProbe {
  private val Blocks = 500 // 6 hot + 1 victim pair per 8-id block
  private val Dim = 32

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // deterministic pseudo-randoms from a splitmix-style hash
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(Dim)(d =>
        (mix(seed * 1024 + d).toDouble / Long.MaxValue))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def axpy(a: Double, x: Array[Double], y: Array[Double]): Array[Double] =
      x.zip(y).map { case (xi, yi) => a * xi + yi }
    def norm(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val e1 = Array.tabulate(Dim)(d => if (d == 0) 1.0 else 0.0)

    // ---- corpora --------------------------------------------------
    val rows = (0 until Blocks * 8).map { id =>
      val block = id / 8; val slot = id % 8
      val isVictim = slot >= 6
      val vec: Array[Float] =
        if (!isVictim) norm(axpy(0.02, unit(id.toLong), e1)) // hot
        else {
          val x = axpy(1.0, unit(1000000L + block), axpy(0.3, e1,
            Array.fill(Dim)(0.0)))
          if (slot == 6) norm(x)
          else norm(axpy(0.03, unit(2000000L + block), x)) // y ≈ x
        }
      val words =
        if (!isVictim) (1 to 70).map(i => s"hot$i").mkString(" ") +
          s" tail$id"
        else (1 to 70).map(i => s"b${block}w$i").mkString(" ") +
          (if (slot == 6) s" vx$id" else s" vy$id")
      (id.toLong, words, vec)
    }
    val docs = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      .repartition(8).cache()
    val emb = rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
      .repartition(8).cache()
    docs.count(); emb.count()

    // ---- empirical truth ------------------------------------------
    // lexical: exact jaccard >= 0.5 (the gates' verification regime)
    val lexPairs = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id",
      shingleLen = 3, minJaccard = 0.5).select("a", "b").cache()
    val lexRemovable = lexPairs.select(col("b").as("id")).distinct().cache()
    // semantic: exact cosine >= 0.5 via tiny brute force (4k vectors)
    val l = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
    val r = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
    val semPairs = l.crossJoin(r).where(col("a") < col("b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .where(col("cos") >= 0.5).select("a", "b").cache()
    val semRemovable = semPairs.select(col("b").as("id")).distinct().cache()

    def victims(removable: DataFrame): DataFrame =
      removable.where(pmod(col("id"), lit(8)) === 7)

    def report(gate: String, cap: Int, removable: DataFrame,
        removed: DataFrame): Unit = {
      val rem = removed.select(col("id")).distinct().cache()
      val nRemovable = removable.count()
      val hit = removable.join(rem, Seq("id"), "left_semi").count()
      val vAll = victims(removable).count()
      val vHit = victims(removable).join(rem, Seq("id"), "left_semi").count()
      println(s"""STREAMCAP {"gate":"$gate","cap":$cap,""" +
        s""""removable":$nRemovable,"removed_true":$hit,""" +
        f""""recall":${hit.toDouble / nRemovable}%.4f,""" +
        s""""victim_pairs":$vAll,"victims_caught":$vHit,""" +
        f""""victim_recall":${vHit.toDouble / math.max(1, vAll)}%.4f}""")
      rem.unpersist()
    }

    val caps = Seq(250, 500, 1000, 2000, 4000)
    caps.foreach { cap =>
      // lexical gate: a doc is removed when it emits a candidate
      // against an earlier stored partner (the q187 consumption)
      val cands = StreamNearDup.batch(docs, "text", "doc_id",
        shingleLen = 3, bands = 8, rowsPerBand = 2,
        minEstJaccard = 0.35, bucketCap = cap)
      report("lexical", cap, lexRemovable,
        cands.select(col("b").as("id")))
      Dedup.releaseIntermediates()
    }
    caps.foreach { cap =>
      // semantic gate: nlist=1 puts the whole corpus in one cell — the
      // regime where the cap is the ONLY defense (worst case); vec_id
      // order is arrival order in the batch twin
      val removed = StreamSemDedup.batch(emb, "vec_id", "embedding",
        threshold = 0.5, nlist = 1, nassign = 1, cellCap = cap)
      report("semantic", cap, semRemovable,
        removed.select(col("vec_id").as("id")))
      Dedup.releaseIntermediates()
    }
  }
}
