package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamLakeIngest

/** The semantic keeper fold: the narrow rank-merge equals the window
  * formulation it replaced (union, dropDuplicates(cell, keeper),
  * row_number ≤ keeperCap per cell) on every case the snapshot
  * invariants allow, moves no vector through an exchange, and keeps
  * the snapshot's file count fold after fold. */
class KeeperFoldSpec extends SparkTestBase {
  import spark.implicits._

  /** The window formulation the fold used to run, kept as reference. */
  private def windowMerge(stored: DataFrame, incoming: DataFrame,
      keeperCap: Int): DataFrame =
    stored.unionByName(incoming)
      .dropDuplicates("cell", "keeper")
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("kok").asc)))
      .where(col("rk") <= keeperCap).drop("rk")

  /** Both ways with `exceptAll`, over driver-pinned copies: the two
    * plans share their stored scan, and an `exceptAll` of two plans over
    * one relation trips attribute binding in Spark 4.1. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = pinned(got.select("cell", "keeper", "kv", "kn", "kok"))
    val w = pinned(want.select("cell", "keeper", "kv", "kn", "kok"))
    val extra = g.exceptAll(w).collect()
    val missing = w.exceptAll(g).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"merge differs from the window formulation: extra " +
        s"${extra.toSeq}, missing ${missing.toSeq}")
  }

  /** A frame's rows pinned on the driver: the in-place fold overwrites
    * the directory a lazy read would still point at. */
  private def pinned(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      df.collect().toSeq, 2), df.schema)

  private def keeperRow(cell: Int, keeper: Long, o1: Double): Row =
    Row(cell, keeper, Seq(o1, 1.0), 1.0, Row(o1, keeper))

  private val keeperSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("cell", IntegerType),
      StructField("keeper", LongType),
      StructField("kv", ArrayType(DoubleType)),
      StructField("kn", DoubleType),
      StructField("kok", StructType(Seq(StructField("o1", DoubleType),
        StructField("o2", LongType))))))
  }

  private def keeperTable(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      keeperSchema)

  test("mergeKeepers equals the window formulation: cap binding in " +
      "some cells only, ties broken by id, stored and incoming " +
      "duplicates, an empty increment") {
    val cap = 3
    // cell 0 is at the cap, cell 1 below it, cell 2 empty in storage
    val stored = keeperTable(
      keeperRow(0, 1L, -0.9), keeperRow(0, 2L, -0.5),
      keeperRow(0, 3L, -0.2),
      keeperRow(1, 4L, -0.7))
    val incoming = keeperTable(
      // displaces keeper 3; ties keeper 2 on o1 and wins on id
      keeperRow(0, 10L, -0.95), keeperRow(0, 0L, -0.5),
      // ranks past the cap
      keeperRow(0, 11L, -0.1),
      // duplicates a stored key (same row) and an incoming key
      keeperRow(0, 2L, -0.5), keeperRow(1, 12L, -0.3),
      keeperRow(1, 12L, -0.3),
      // cell 1 reaches the cap exactly; cell 2 stays below it
      keeperRow(1, 13L, -0.8), keeperRow(2, 14L, -0.4))
    val merged = Similarity.mergeKeepers(stored, incoming, cap)
    assertSameRows(merged, windowMerge(stored, incoming, cap))
    assert(merged.select("cell", "keeper").as[(Int, Long)].collect()
      .toSet == Set((0, 10L), (0, 1L), (0, 0L), (1, 13L), (1, 4L),
        (1, 12L), (2, 14L)))
    // an empty increment leaves the table as it is
    val none = keeperTable()
    assertSameRows(Similarity.mergeKeepers(stored, none, cap), stored)
    assertSameRows(Similarity.mergeKeepers(stored, none, cap),
      windowMerge(stored, none, cap))
    // a cap below one would keep every row, where the build keeps none
    intercept[IllegalArgumentException](
      Similarity.mergeKeepers(stored, incoming, 0))
  }

  // three directions, uneven cluster sizes: with nlist 3 and keeperCap 3
  // the cap binds in the crowded cell and not in the sparse ones
  private def axisVec(axis: Int, eps: Float): Array[Float] = {
    val v = Array.fill(3)(eps); v(axis) = 1f; v
  }
  private val ref = (
    (0 until 6).map(i => (i.toLong, axisVec(0, 0.01f * i))) ++
    (0 until 2).map(i => (10L + i, axisVec(1, 0.01f * i))) ++
    (0 until 3).map(i => (20L + i, axisVec(2, 0.01f * i)))
  ).toDF("vec_id", "embedding")
  private val inc = Seq(
    (30L, axisVec(0, 0.3f)),  // farthest from its centroid: displaces
    (34L, axisVec(0, 0.25f)),
    (31L, axisVec(0, 0.2f)),  // 31 and 33 share a vector: a tie at the
    (33L, axisVec(0, 0.2f)),  // cap, broken by id
    (30L, axisVec(0, 0.3f)),  // a duplicate within the increment
    (10L, axisVec(1, 0f)),    // stored keys, same rows
    (21L, axisVec(2, 0.01f)),
    (32L, axisVec(1, 0.05f))  // the sparse cell stays below the cap
  ).toDF("vec_id", "embedding")

  private def freshLake(name: String): String = {
    val path = Files.createTempDirectory(name).toString
    Similarity.writeSemDedupArtifacts(ref, "vec_id", "embedding", path,
      nlist = 3, keeperCap = 3, nassign = 1, seed = 7L)
    path
  }

  private def candidates(rows: DataFrame, path: String): DataFrame =
    Similarity.keeperRows(Similarity.semAssign(rows, "vec_id",
      "embedding", Similarity.readSemCodebook(spark, path),
      keepFarthest = true, nassign = 1, withOk = true))

  /** The fixture reaches the cases the spec names: the cap binds in
    * some cell and not in another, and two candidates of a cell tie on
    * distance. */
  private def assertCoverage(stored: DataFrame, cands: DataFrame): Unit = {
    val union = stored.unionByName(cands).dropDuplicates("cell", "keeper")
    val perCell = union.groupBy("cell").count().collect().map(_.getLong(1))
    assert(perCell.exists(_ > 3L) && perCell.exists(_ <= 3L),
      s"rows per cell: ${perCell.toSeq}")
    val o1s = union.select("cell", "kok").collect()
      .map(r => (r.getInt(0), r.getStruct(1).getDouble(0)))
    assert(o1s.distinct.length < o1s.length, "no distance tie")
  }

  test("keeper tables store kok as struct<col1: double, id: bigint>, " +
      "from the artifact write and from the fold") {
    import org.apache.spark.sql.types._
    def kok(dir: String): Seq[(String, DataType)] =
      spark.read.parquet(dir).schema("kok").dataType
        .asInstanceOf[StructType].fields.map(f => (f.name, f.dataType))
        .toSeq
    val stored = Seq("col1" -> DoubleType, "id" -> LongType)
    val path = freshLake("graft_keepfold_kok")
    assert(kok(s"$path/keepers") == stored)
    Similarity.appendSemKeepers(inc, "vec_id", "embedding", path,
      keeperCap = 3, nassign = 1)
    assert(kok(s"$path/keepers") == stored)
    Dedup.releaseIntermediates()
  }

  test("appendSemKeepers (in place) equals the window formulation, " +
      "for an increment and for an empty one") {
    for (rows <- Seq(inc, inc.limit(0))) {
      val path = freshLake("graft_keepfold_a")
      val stored = pinned(spark.read.parquet(s"$path/keepers"))
      val cands = pinned(candidates(rows, path))
      if (!rows.isEmpty) assertCoverage(stored, cands)
      val want = windowMerge(stored, cands, 3)
      Similarity.appendSemKeepers(rows, "vec_id", "embedding", path,
        keeperCap = 3, nassign = 1)
      val got = spark.read.parquet(s"$path/keepers")
      assertSameRows(got, want)
      if (rows.isEmpty) assertSameRows(got, stored)
    }
    Dedup.releaseIntermediates()
  }

  test("semDedupLakeStepDeferred (versioned) writes the window " +
      "formulation's table to its own directory") {
    for (rows <- Seq(inc, inc.limit(0))) {
      val path = freshLake("graft_keepfold_d")
      val stored = spark.read.parquet(s"$path/keepers")
      if (!rows.isEmpty) assertCoverage(stored, candidates(rows, path))
      // threshold above any cosine: every increment row survives, so
      // every candidate reaches the fold
      val (survivors, merged) = Similarity.semDedupLakeStepDeferred(rows,
        "vec_id", "embedding", Similarity.readSemCodebook(spark, path),
        stored, threshold = 1.01, keeperCap = 3)
      assert(survivors.count() == rows.count())
      merged.write.parquet(s"$path/keepers_b0")
      assertSameRows(spark.read.parquet(s"$path/keepers_b0"),
        windowMerge(stored, candidates(rows, path), 3))
    }
    Dedup.releaseIntermediates()
  }

  test("an in-place fold keeps a one-file snapshot at one file when " +
      "its scan splits the file") {
    val path = freshLake("graft_keepfold_f")
    def dataFiles(): Int = new java.io.File(s"$path/keepers").listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(dataFiles() == 1)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "512")
    try {
      assert(spark.read.parquet(s"$path/keepers").rdd.getNumPartitions > 1)
      Similarity.appendSemKeepers(inc, "vec_id", "embedding", path,
        keeperCap = 3, nassign = 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(dataFiles() == 1, s"the snapshot grew to ${dataFiles()} files")
    Dedup.releaseIntermediates()
  }

  test("the versioned fold's final plan moves no vector through a " +
      "shuffle exchange, with or without a size estimate of the " +
      "increment") {
    // an RDD-backed increment has no estimate (a streamed micro-batch's
    // is inflated by its upstream joins), so no join broadcasts it
    val unsized = spark.createDataFrame(inc.rdd, inc.schema)
    assert(unsized.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold))
    for (rows <- Seq(inc, unsized)) assertNarrowFold(rows)
  }

  private def assertNarrowFold(rows: DataFrame): Unit = {
    val path = freshLake("graft_keepfold_p")
    // nothing is removed, so AQE cannot prune the increment's branch
    val (_, merged) = Similarity.semDedupLakeStepDeferred(rows,
      "vec_id", "embedding", Similarity.readSemCodebook(spark, path),
      spark.read.parquet(s"$path/keepers"), threshold = 1.01,
      keeperCap = 3, nassign = 2, dedupWithinIncrement = true)
    merged.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries)
        .flatMap(nodes)
    }
    val finalPlan = merged.queryExecution.executedPlan
    assert(finalPlan.toString.contains("isFinalPlan=true"), finalPlan)
    assert(nodes(finalPlan).exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"the increment's rows must reach the merge:\n$finalPlan")
    val shuffles = nodes(finalPlan).collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.nonEmpty, s"the cutoff rank shuffles:\n$finalPlan")
    val carrying = shuffles.filter(_.output.exists(a =>
      a.name == "kv" || a.dataType.isInstanceOf[ArrayType]))
    assert(carrying.isEmpty,
      s"a shuffle exchange carries a vector:\n$finalPlan")
    Dedup.releaseIntermediates()
  }

  test("streamed folds keep the keeper snapshot at the init " +
      "snapshot's file count") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_keepfold_s").toString
    val lake = s"$root/lake"
    val p = StreamLakeIngest.Params(windowLen = 20, semThreshold = 0.99,
      nlist = 2, nassign = 2, minQuality = 0.0, maxTopBigramFrac = 1.0,
      lang = "en")
    val words = Seq("amber", "birch", "cedar", "delta", "ember", "fjord",
      "grove", "heron", "inlet", "juniper", "kestrel", "lagoon")
    def doc(id: Long): IngestDoc = {
      val r = new scala.util.Random(id)
      IngestDoc(id, Seq.fill(24)(words(r.nextInt(words.size)))
        .mkString(" ") + s" doc$id", Array.fill(3)(r.nextFloat() - 0.5f))
    }
    StreamLakeIngest.initLake((0L until 12L).map(doc).toDF(),
      Seq((1L, "NOBENCHMARKTEXTAPPEARSINANYDOCUMENT")).toDF("doc_id",
        "text"), "text", "doc_id", "vec", lake, p)
    def dataFiles(dir: String): Int = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    val initFiles = dataFiles(s"$lake/sem/keepers")
    val initRows = spark.read.parquet(s"$lake/sem/keepers").count()
    assert(initFiles >= 1)
    val stream = MemoryStream[IngestDoc]
    val q = StreamLakeIngest.ingest(stream.toDF(), lake, s"$root/admitted",
      s"$root/ckpt", "text", "doc_id", "vec", p)
    for (b <- 0 until 3) {
      stream.addData((100L * (b + 1) until 100L * (b + 1) + 6L).map(doc): _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(dataFiles(s"$lake/sem/keepers_b2") == initFiles,
      s"keepers_b2 holds ${dataFiles(s"$lake/sem/keepers_b2")} data " +
        s"files, the init snapshot $initFiles")
    // the folds did merge rows in (the cap of 1000 never binds here)
    assert(spark.read.parquet(s"$lake/sem/keepers_b2").count() > initRows)
  }
}
