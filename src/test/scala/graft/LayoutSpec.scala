package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** Proves the storage-layout claims in SCALE.md: bucketed tables join and
  * aggregate with no Exchange in the physical plan. */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join and aggregate without a shuffle") {
    val a = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("va"))
    val b = spark.range(1000).select($"id".as("k"), ($"id" * 3).as("vb"))
    Layout.writeBucketed(a, "graft_bucket_a", "k", 4)
    Layout.writeBucketed(b, "graft_bucket_b", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(j.count() == 1000)
      // groupBy on the bucket key is also exchange-free
      val g = spark.table("graft_bucket_a").groupBy("k").agg(sum("va"))
      assert(!g.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("writeShards: lands the assignment shuffle-free (zero shuffle " +
      "bytes in the write job) and the layout round-trips exactly") {
    import java.util.concurrent.atomic.AtomicLong
    val docs = spark.range(0, 500).select($"id".as("doc_id"),
      (pmod($"id" * 37 + 11, lit(50)) + 1).as("w"))
    val assigned = graft.operators.Sampling.shardAssign(docs, "doc_id",
      "w", shardWeight = 600L)
    val expected = assigned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // shuffle-bytes listener over exactly the write's jobs: the
    // assignment's range sort already ran (shardAssign's construction
    // collects partition totals over the persisted sorted frame), so
    // the landing must move nothing through a shuffle
    val written = new AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    val path = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    spark.sparkContext.addSparkListener(l)
    try {
      graft.operators.Sampling.writeShards(assigned, path)
      // the listener bus drains asynchronously — wait for quiescence
      var last = -1L; var cur = written.get()
      while (cur != last) { Thread.sleep(100); last = cur; cur = written.get() }
      assert(written.get() == 0L,
        s"writeShards shuffled ${written.get()} bytes — the layout " +
          "write must stream task-locally")
    } finally spark.sparkContext.removeSparkListener(l)
    // hive-style shard=N directories, one per assigned shard
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val shards = expected.map(_._3)
    assert(dirs == shards.map(s => s"shard=$s"))
    // read-back equals the assignment exactly (sets AND offsets)
    val back = spark.read.parquet(path)
      .select($"doc_id", $"w", $"shard".cast("long"), $"offset")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(back == expected)
  }

  test("shardManifest: per-shard counts/sums and an order-sensitive " +
      "digest (md5 of ids in offset order)") {
    val docs = spark.range(0, 50).select($"id".as("doc_id"),
      (pmod($"id" * 13 + 5, lit(20)) + 1).as("w"))
    val assigned = graft.operators.Sampling.shardAssign(docs, "doc_id",
      "w", shardWeight = 100L)
    val rows = assigned.collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(0), r.getLong(1)))
    val man = graft.operators.Sampling.shardManifest(assigned, "doc_id", "w")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val inOrder = rs.sortBy(_._2)
      val expectDigest = java.security.MessageDigest.getInstance("MD5")
        .digest(inOrder.map(_._3).mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(man(shard) ==
        ((rs.size.toLong, rs.map(_._4).sum, expectDigest)))
    }
  }

  test("StreamShardLayout: MemoryStream appends equal the direct " +
      "twin, closed shards are never rewritten, replays are idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val docs = (0L until 200L).map(i => (i, (i * 37 + 11) % 50 + 1))
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardstream").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    // drive two micro-batches through the real foreachBatch loop
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamShardLayout.ingest(
      mem.toDF().toDF("doc_id", "n_tokens"), root,
      java.nio.file.Files.createTempDirectory("graft_sscp").toString,
      "doc_id", "n_tokens", shardWeight = 300L)
    try {
      mem.addData(docs.filter(_._1 % 2 == 0): _*)
      q.processAllAvailable()
      // snapshot batch-0 file (name, mtime, size) per closed shard
      val b0dir = new java.io.File(s"$root/layout/inc_b0")
      def fileState(d: java.io.File): Set[(String, Long, Long)] =
        d.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getPath, f.lastModified(), f.length())).toSet
      val b0state = fileState(b0dir)
      mem.addData(docs.filter(_._1 % 2 == 1): _*)
      q.processAllAvailable()
      // batch 0's files are untouched by the append
      assert(fileState(b0dir) == b0state)
      // batch 1 starts at the cursor: its lowest shard is the one
      // batch 0 left open (or the next), never an earlier one
      val cursor0 = spark.read
        .parquet(s"$root/cursor/cursor_b0").collect().head.getLong(0)
      val b1shards = new java.io.File(s"$root/layout/inc_b1")
        .listFiles().filter(_.isDirectory).map(_.getName)
        .map(_.stripPrefix("shard=").toLong)
      assert(b1shards.min == cursor0 / 300L)
    } finally q.stop()
    // the cumulative read-back equals the direct two-append twin run
    // against a fresh root (stream == batch)
    val twin = java.nio.file.Files
      .createTempDirectory("graft_shardtwin").toString
    graft.streaming.StreamShardLayout.initLayout(spark, twin)
    val ddf = docs.toDF("doc_id", "n_tokens")
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" % 2 === 0), twin, "doc_id", "n_tokens",
      300L, 0L)
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" % 2 === 1), twin, "doc_id", "n_tokens",
      300L, 1L)
    def layout(r: String): Set[(Long, Long, Long, Long)] =
      graft.streaming.StreamShardLayout.readLayout(spark, r)
        .select($"doc_id", $"n_tokens", $"shard".cast("long"),
          $"offset")
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSet
    val streamed = layout(root)
    assert(streamed == layout(twin))
    // REPLAY of batch 1 (same id, same rows): the cursor read excludes
    // its own version, so the re-append reproduces the layout exactly
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" % 2 === 1), twin, "doc_id", "n_tokens",
      300L, 1L)
    assert(layout(twin) == streamed)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("packClosedShards: packs only CLOSED shards, and more batches " +
      "only ADD newly closed shards' sequences — earlier ones never " +
      "change") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_packclosed").toString
    // 60 docs x 4 tokens each, shardWeight 16 -> a shard closes every
    // 4 docs; batches of 20 docs land 3 at a time
    val docs = (0L until 60L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 60L).flatMap(i => (1L to 4L).map(p =>
      (i, p, s"t${i}_$p"))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def land(b: Long): Unit =
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(col("doc_id") >= b * 20 && col("doc_id") < (b + 1) * 20),
        root, "doc_id", "n_tokens", shardWeight = 16L, batchId = b)
    def packed(): Map[(Long, Long), String] =
      graft.streaming.StreamShardLayout
        .packClosedShards(spark, root, toks, seqLen = 8L)
        .groupBy("shard", "seq")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("seq_off"),
            col("token").as("__t")))),
          x => x.getField("__t")), ",")).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
    land(0L); land(1L)
    val p1 = packed()
    val openThen = graft.streaming.StreamShardLayout
      .readLayout(spark, root)
      .agg(max(col("shard").cast("long"))).collect().head.getLong(0)
    assert(p1.nonEmpty && p1.keys.forall(_._1 < openThen),
      "only shards below the open one may pack")
    land(2L)
    val p2 = packed()
    // incremental: every previously packed (shard, seq) digest is
    // unchanged; the new pack only ADDS newly closed shards
    p1.foreach { case (k, d) => assert(p2(k) == d,
      s"closed shard $k changed across batches") }
    assert(p2.size > p1.size)
    // the trainer's WATERMARK: packing from the previous open shard
    // yields exactly the new rows — incremental cost is O(new shards)
    val pNew = graft.streaming.StreamShardLayout
      .packClosedShards(spark, root, toks, seqLen = 8L,
        fromShard = openThen)
      .groupBy("shard", "seq")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("seq_off"),
          col("token").as("__t")))),
        x => x.getField("__t")), ",")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(pNew == p2.filterNot { case (k, _) => p1.contains(k) })
    graft.operators.Dedup.releaseIntermediates()
  }

  test("appendTokens + packLandedShards: the landed-token pack equals " +
      "the corpus-stream pack, the watermark yields exactly the new " +
      "rows, and a layout shard without landed tokens refuses loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_packlanded").toString
    // 80 docs x 4 tokens, shardWeight 16 -> a shard closes every 4
    // docs; batches of 20 docs
    val docs = (0L until 80L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 80L).flatMap(i => (1L to 4L).map(p =>
      (i, p, s"t${i}_$p"))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def land(b: Long, withTokens: Boolean = true): Unit = {
      val part = docs.where(
        col("doc_id") >= b * 20 && col("doc_id") < (b + 1) * 20)
      val a = graft.streaming.StreamShardLayout.appendIncrement(
        part, root, "doc_id", "n_tokens", shardWeight = 16L,
        batchId = b)
      if (withTokens)
        graft.streaming.StreamShardLayout.appendTokens(
          toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
          a, root, batchId = b)
    }
    def dig(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), String] =
      df.groupBy("shard", "seq")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("seq_off"),
            col("token").as("__t")))),
          x => x.getField("__t")), ",")).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
    land(0L); land(1L)
    // the two physical paths land on identical digests
    val viaCorpus = dig(graft.streaming.StreamShardLayout
      .packClosedShards(spark, root, toks, seqLen = 8L))
    val viaLanded = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L))
    assert(viaLanded.nonEmpty && viaLanded == viaCorpus)
    // ... including with the separator threaded through both
    val sepCorpus = dig(graft.streaming.StreamShardLayout
      .packClosedShards(spark, root, toks, seqLen = 8L,
        sep = Some("<eos>")))
    val sepLanded = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L, sep = Some("<eos>")))
    assert(sepLanded == sepCorpus && sepLanded != viaLanded)
    // the watermarked landed pack yields exactly the newly closed
    // shards' rows — O(new) on BOTH sides
    val openThen = graft.streaming.StreamShardLayout
      .readLayout(spark, root)
      .agg(max(col("shard").cast("long"))).collect().head.getLong(0)
    land(2L)
    val full = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L))
    val incr = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L,
        fromShard = openThen))
    assert(incr == full.filterNot { case (k, _) => viaLanded.contains(k) })
    // the steady-state guard: the corpus-stream pack REFUSES the
    // watermark shape on a layout that HAS landed tokens (the caller
    // would pay O(corpus) per poll for nothing), pointing at the
    // landed form
    val eG = intercept[IllegalArgumentException] {
      graft.streaming.StreamShardLayout.packClosedShards(
        spark, root, toks, seqLen = 8L, fromShard = openThen)
    }
    assert(eG.getMessage.contains("packLandedShards"), eG.getMessage)
    // a layout increment whose tokens were never landed: the pack
    // names the missing shards and refuses (silent doc loss otherwise)
    land(3L, withTokens = false)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamShardLayout
        .packLandedShards(spark, root, seqLen = 8L)
    }
    assert(e.getMessage.contains("appendTokens"))
    // an empty (never-appended) layout refuses loudly, not an NPE
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_packlandedempty").toString
    graft.streaming.StreamShardLayout.initLayout(spark, fresh)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamShardLayout
        .packClosedShards(spark, fresh, toks, seqLen = 8L)
    }
    // ingest-time coverage: a token stream missing a whole assigned
    // document refuses AT appendTokens (where the batch can still be
    // replayed), naming the count gap
    val fresh2 = java.nio.file.Files
      .createTempDirectory("graft_tokless").toString
    graft.streaming.StreamShardLayout.initLayout(spark, fresh2)
    val part = docs.where(col("doc_id") < 10)
    val a2 = graft.streaming.StreamShardLayout.appendIncrement(
      part, fresh2, "doc_id", "n_tokens", shardWeight = 16L,
      batchId = 0L)
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamShardLayout.appendTokens(
        toks.where(col("doc_id") < 9), a2, fresh2, batchId = 0L)
    }
    assert(e2.getMessage.contains("9 of 10"))
    // the OTHER direction: a mis-scoped token stream carrying docs
    // NOT in the assigned batch refuses too (the landing join would
    // silently discard their rows), naming some of the extras
    val e3 = intercept[IllegalArgumentException] {
      graft.streaming.StreamShardLayout.appendTokens(
        toks, a2, fresh2, batchId = 0L)
    }
    assert(e3.getMessage.contains("NOT in the assigned batch"),
      e3.getMessage)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("packLandedShards pushes the shard watermark into the token " +
      "scan as PartitionFilters — the O(new) claim is in the plan") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_packplan").toString
    val docs = (0L until 40L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 40L).flatMap(i => (1L to 4L).map(p =>
      (i, p, s"t${i}_$p"))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    val a = graft.streaming.StreamShardLayout.appendIncrement(
      docs, root, "doc_id", "n_tokens", shardWeight = 16L, batchId = 0L)
    graft.streaming.StreamShardLayout.appendTokens(toks, a, root, 0L)
    val packed = graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L, fromShard = 3L)
    val p = packed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      (p.contains("shard#") || p.contains("shard =")),
      s"the token scan must prune shard partitions:\n$p")
    // and the pruned pack returns only [3, open): 160 total weight /
    // 16 per shard -> shards 0..9 exist, 9 is the open maximum
    val shards = packed.select("shard").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(shards == (3L until 9L).toSet)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("ingestWithTokens: one foreachBatch lands layout + tokens; " +
      "packLandedShards over the streamed result equals the direct " +
      "batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (0L until 60L).map(i =>
      (i, 4L, (1L to 4L).map(p => s"t${i}_$p").mkString(" ")))
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingesttok").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def tokenize(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StreamShardLayout.ingestWithTokens(
      mem.toDF().toDF("doc_id", "n_tokens", "text"), root,
      java.nio.file.Files.createTempDirectory("graft_itcp").toString,
      "doc_id", "n_tokens", shardWeight = 16L, tokenize)
    def dig(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), String] =
      df.groupBy("shard", "seq")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("seq_off"),
            col("token").as("__t")))),
          x => x.getField("__t")), ",")).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
    try {
      mem.addData(rows.filter(_._1 < 30): _*)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, root, seqLen = 8L))
    // direct twin: two appendIncrement + appendTokens pairs
    val twin = java.nio.file.Files
      .createTempDirectory("graft_ingesttoktwin").toString
    graft.streaming.StreamShardLayout.initLayout(spark, twin)
    val ddf = rows.toDF("doc_id", "n_tokens", "text")
    Seq(0L, 1L).foreach { b =>
      val part = ddf.where(if (b == 0L) $"doc_id" < 30 else $"doc_id" >= 30)
      val a = graft.streaming.StreamShardLayout.appendIncrement(
        part.select("doc_id", "n_tokens"), twin, "doc_id", "n_tokens",
        16L, b)
      graft.streaming.StreamShardLayout.appendTokens(
        tokenize(part), a, twin, b)
    }
    val twinDig = dig(graft.streaming.StreamShardLayout
      .packLandedShards(spark, twin, seqLen = 8L))
    assert(streamed.nonEmpty && streamed == twinDig)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("ingestTrainerArc: one streaming query lands layout + tokens " +
      "AND polls the sequence lake — the streamed lake equals the " +
      "direct batch twin, with zero state outside the artifacts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    // token ids = the owning doc id (castable — the packSequences
    // contract), 4 per doc
    val rows = (0L until 60L).map(i =>
      (i, 4L, (1L to 4L).map(_ => i.toString).mkString(" ")))
    val root = java.nio.file.Files
      .createTempDirectory("graft_arc").toString
    val lake = java.nio.file.Files
      .createTempDirectory("graft_arclake").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def tokenize(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StreamShardLayout.ingestTrainerArc(
      mem.toDF().toDF("doc_id", "n_tokens", "text"), root, lake,
      java.nio.file.Files.createTempDirectory("graft_arccp").toString,
      "doc_id", "n_tokens", shardWeight = 16L, tokenize, seqLen = 8L)
    try {
      mem.addData(rows.filter(_._1 < 30): _*)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 30): _*)
      q.processAllAvailable()
    } finally q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("shard").cast("long"), col("seq"),
          col("ids_digest"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    val streamed = rowsOf(SequenceLake.readSequenceLake(spark, lake))
    val twin = rowsOf(Sampling.packSequences(
      graft.streaming.StreamShardLayout.packLandedShards(spark, root,
        seqLen = 8L),
      groupCol = Some("shard")))
    assert(streamed.nonEmpty && streamed == twin)
    // the consumed stream over the streamed lake covers it all
    assert(SequenceLake.consume(spark, lake, epoch = 1L).count() ==
      streamed.size)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("compactLayoutIsolated folds manifest AND token increments " +
      "through the pointer protocol; readShardManifest and " +
      "packLandedShards read back unchanged") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mancompact").toString
    val docs = (0L until 80L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 80L).flatMap(i => (1L to 4L).map(p =>
      (i, p, s"t${i}_$p"))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def land(b: Long): Unit = {
      val part = docs.where(
        col("doc_id") >= b * 20 && col("doc_id") < (b + 1) * 20)
      val a = graft.streaming.StreamShardLayout.appendIncrement(
        part, root, "doc_id", "n_tokens", shardWeight = 16L,
        batchId = b)
      graft.streaming.StreamShardLayout.appendTokens(
        toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
        a, root, batchId = b)
    }
    (0L to 2L).foreach(land)
    def man(): Set[(Long, Long, Long, String)] =
      graft.streaming.StreamShardLayout
        .readShardManifest(spark, root, "n_tokens")
        .select($"shard".cast("long"), $"n_docs", $"n_tokens", $"digest")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getString(3))).toSet
    def packed(): Map[(Long, Long), String] =
      graft.streaming.StreamShardLayout
        .packLandedShards(spark, root, seqLen = 8L)
        .groupBy("shard", "seq")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("seq_off"),
            col("token").as("__t")))),
          x => x.getField("__t")), ",")).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
    val manBefore = man()
    val packBefore = packed()
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    def dirsOf(sub: String): Set[String] =
      new java.io.File(s"$root/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
    // manifest and tokens both folded into pointer generations (the
    // newest increment stays out, the protocol's replayable-batch rule)
    assert(dirsOf("manifest") ==
      Set("base_v1", "inc_b0", "inc_b1", "inc_b2"))
    assert(dirsOf("tokens") ==
      Set("base_v1", "inc_b0", "inc_b1", "inc_b2"))
    assert(new java.io.File(s"$root/manifest/_live_v1").exists())
    assert(man() == manBefore)
    assert(packed() == packBefore)
    // keep appending through the folded state: the next reads resolve
    // base + newer incs
    land(3L)
    assert(packed().size > packBefore.size)
    assert(man().map(_._1).max >= manBefore.map(_._1).max)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("writeSequences/readSequences: the landed trainer-batch " +
      "artifact round-trips digest-verified; replays converge; a " +
      "tampered artifact refuses") {
    import graft.operators.Sampling
    // 3 docs x 5 ids, seqLen 4 -> 4 sequences, doc 2 straddles
    val ids = (1L to 3L).flatMap(d => (1L to 5L).map(p =>
      (d, p, (d * 100 + p).toString))).toDF("doc_id", "pos", "token")
    val packed = Sampling.packTokens(ids, seqLen = 4L)
    val seqs = Sampling.packSequences(packed)
    val rows = seqs.orderBy("seq").collect()
    // sequence 0 holds doc 1's first four ids in order
    assert(rows.head.getAs[scala.collection.Seq[Long]]("ids") == Seq(101L, 102L, 103L, 104L))
    // spans: (start_off, doc_id, n_tokens), contiguous, summing to n_ids
    rows.foreach { r =>
      val spans = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans")
      assert(spans.map(_.getLong(2)).sum == r.getAs[Long]("n_ids"))
      val sorted = spans.map(s => (s.getLong(0), s.getLong(2)))
      sorted.sliding(2).foreach {
        case Seq((o1, n1), (o2, _)) => assert(o1 + n1 == o2)
        case _ => ()
      }
    }
    // every sequence but the last is exactly full
    assert(rows.init.forall(_.getAs[Long]("n_ids") == 4L) &&
      rows.last.getAs[Long]("n_ids") == 3L)
    val path = java.nio.file.Files
      .createTempDirectory("graft_seqart").toString
    Sampling.writeSequences(seqs, path)
    def back(): Set[(Long, Seq[Long], String)] =
      Sampling.readSequences(spark, path)
        .select($"seq", $"ids", $"ids_digest").collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Long]](1).toSeq, r.getString(2)))
        .toSet
    val first = back()
    assert(first.size == 4)
    // replay: the overwrite landing converges on the same artifact
    Sampling.writeSequences(Sampling.packSequences(packed), path)
    assert(back() == first)
    // tamper: drop a row from sequences/ without refreshing the meta
    // -> the count+digest re-verification refuses (rows collected
    // first: Spark refuses an overwrite of a path it is reading)
    val df = spark.read.parquet(s"$path/sequences")
    val kept = df.where($"seq" =!= 0).collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(kept, 1), df.schema)
      .write.mode("overwrite").parquet(s"$path/sequences")
    intercept[IllegalArgumentException] {
      Sampling.readSequences(spark, path)
    }
    // zero-row tamper refuses with the same descriptive diagnosis —
    // not an NPE from the null sum aggregate
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.Row], 1), df.schema)
      .write.mode("overwrite").parquet(s"$path/sequences")
    val ez = intercept[IllegalArgumentException] {
      Sampling.readSequences(spark, path)
    }
    assert(ez.getMessage.contains("corrupt"), ez.getMessage)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("packSequences padTo: the tail sequence pads to seqLen with " +
      "the registered pad id — n_ids stays real, spans never cover " +
      "pads, full sequences unchanged, digest attests ids as landed") {
    import graft.operators.Sampling
    val ids = (1L to 3L).flatMap(d => (1L to 5L).map(p =>
      (d, p, (d * 100 + p).toString))).toDF("doc_id", "pos", "token")
    val packed = Sampling.packTokens(ids, seqLen = 4L)
    val plain = Sampling.packSequences(packed)
      .collect().map(r => r.getAs[Long]("seq") -> r).toMap
    val padded = Sampling.packSequences(packed,
        padTo = Some((4L, 99L)))
      .collect().map(r => r.getAs[Long]("seq") -> r).toMap
    assert(padded.keySet == plain.keySet)
    padded.foreach { case (seq, r) =>
      val idsArr = r.getAs[scala.collection.Seq[Long]]("ids")
      // every landed row is exactly seqLen ids
      assert(idsArr.size == 4, s"seq $seq: ${idsArr.size}")
      val real = r.getAs[Long]("n_ids")
      val plainIds = plain(seq).getAs[scala.collection.Seq[Long]]("ids")
      // prefix = the unpadded ids; suffix = the pad run
      assert(idsArr.take(real.toInt) == plainIds)
      assert(idsArr.drop(real.toInt).forall(_ == 99L))
      // n_ids and spans are identical to the unpadded artifact
      assert(real == plain(seq).getAs[Long]("n_ids"))
      assert(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
        "spans") == plain(seq)
          .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans"))
      // digest covers the ids AS LANDED (pad included)
      val exp = java.security.MessageDigest.getInstance("MD5")
        .digest(idsArr.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getAs[String]("ids_digest") == exp)
      // full sequences carry zero pads, so their digests match the
      // unpadded artifact exactly
      if (real == 4L)
        assert(r.getAs[String]("ids_digest") ==
          plain(seq).getAs[String]("ids_digest"))
    }
    // exactly one (the stream's last) sequence is short
    assert(padded.values.count(_.getAs[Long]("n_ids") < 4L) == 1)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("loader consumption: consumeEpoch resumes mid-epoch " +
      "exactly-once from a persisted cursor; a finished epoch's " +
      "cursor yields the whole next epoch; a future cursor refuses") {
    import graft.operators.Sampling
    val seqs = (for (s <- 0L to 3L; q <- 0L to 4L) yield (s, q))
      .toDF("shard", "seq")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard_rank", "seq_rank").collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq"),
          r.getAs[Long]("shard_rank"), r.getAs[Long]("seq_rank")))
    val all = rows(Sampling.consumeEpoch(seqs, epoch = 1L))
    assert(all.length == 20)
    // the consumed order is the epoch schedule's total order: whole
    // shards sequentially (shard_rank), intra-shard by seq_rank
    assert(all.map(r => (r._3, r._4)).toSeq ==
      all.map(r => (r._3, r._4)).sorted.toSeq)
    // "crash" after 7 consumed rows; checkpoint the cursor at the
    // last fully-processed (epoch, shard_rank, seq_rank)
    val (done, pending) = all.splitAt(7)
    val cpath = java.nio.file.Files
      .createTempDirectory("graft_loadercursor").toString + "/cur"
    Sampling.writeLoaderCursor(spark, cpath,
      Sampling.LoaderCursor(1L, done.last._3, done.last._4))
    val cur = Sampling.readLoaderCursor(spark, cpath)
    assert(cur.contains(
      Sampling.LoaderCursor(1L, done.last._3, done.last._4)))
    // the restart consumes exactly the pending rows, in order —
    // nothing re-read, nothing skipped
    val resumed = rows(Sampling.consumeEpoch(seqs, 1L, cur))
    assert(resumed.toSeq == pending.toSeq)
    assert((done ++ resumed).toSeq == all.toSeq)
    // an end-of-epoch cursor rolls into the NEXT epoch complete
    val endCur = Some(Sampling.LoaderCursor(1L, all.last._3,
      all.last._4))
    assert(rows(Sampling.consumeEpoch(seqs, 2L, endCur)).length == 20)
    // a cursor PAST the requested epoch refuses (double-training)
    intercept[IllegalArgumentException] {
      Sampling.consumeEpoch(seqs, 1L,
        Some(Sampling.LoaderCursor(2L, 0L, 0L)))
    }
    // no checkpoint yet -> None -> whole epoch
    assert(Sampling.readLoaderCursor(spark, cpath + "_absent").isEmpty)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("sequence lake: poll artifacts land as increments; isolated " +
      "compaction folds closed polls with the meta fold re-attested; " +
      "reads equal before/after; a tampered increment refuses the " +
      "fold before the pointer swaps") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_seqlake").toString
    def mk(lo: Long, hi: Long) = {
      val ids = (lo until hi).flatMap(d => (1L to 5L).map(p =>
        (d, p, (d * 100 + p).toString))).toDF("doc_id", "pos", "token")
      Sampling.packSequences(Sampling.packTokens(ids, seqLen = 4L))
    }
    def snap(): Seq[(Long, String, Long)] =
      SequenceLake.readSequenceLake(spark, root)
        .select($"seq", $"ids_digest", $"n_ids").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    SequenceLake.appendSequences(mk(0, 3), root, 0L)
    SequenceLake.appendSequences(mk(3, 6), root, 1L)
    SequenceLake.appendSequences(mk(6, 9), root, 2L)
    val before = snap()
    assert(before.size == 12) // 3 polls x 4 sequences
    SequenceLake.compactSequenceLake(spark, root)
    // the fold (polls 0+1; the newest stays out) changes nothing a
    // reader sees, and every live artifact still meta-verifies
    assert(snap() == before)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/base_v1/sequences_meta")))
    // another poll, a second compaction: reap + fold of inc_b2
    SequenceLake.appendSequences(mk(9, 12), root, 3L)
    val before2 = snap()
    assert(before2.size == 16)
    SequenceLake.compactSequenceLake(spark, root)
    assert(snap() == before2)
    // a replayed poll rewrites exactly what it wrote (idempotent)
    SequenceLake.appendSequences(mk(9, 12), root, 3L)
    assert(snap() == before2)
    // tamper the open increment (drop one row, keep its meta), then
    // try to fold it: the fold's meta re-attestation refuses BEFORE
    // the pointer swap, and the lake read refuses too
    SequenceLake.appendSequences(mk(12, 15), root, 4L)
    val incSeqs = s"$root/inc_b3/sequences"
    val df = spark.read.parquet(incSeqs)
    val kept = df.where($"seq" =!= 0).collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(kept, 1), df.schema)
      .write.mode("overwrite").parquet(incSeqs)
    val eFold = intercept[IllegalArgumentException] {
      SequenceLake.compactSequenceLake(spark, root)
    }
    assert(eFold.getMessage.contains("refusing before the pointer"),
      eFold.getMessage)
    intercept[IllegalArgumentException] {
      SequenceLake.readSequenceLake(spark, root)
    }
    graft.operators.Dedup.releaseIntermediates()
  }

  test("pollLandedShards: the watermark IS the lake — cold restart " +
      "resumes where the lake ends, a no-new-shards poll is a no-op, " +
      "the lake equals the batch pack, and a torn landing self-heals") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_polllayout").toString
    val lakeR = java.nio.file.Files
      .createTempDirectory("graft_polllake").toString
    val docs = (0L until 60L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 60L).flatMap(i => (1L to 4L).map(p =>
      (i, p, i.toString))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def land(b: Long): Unit = {
      val part = docs.where(
        col("doc_id") >= b * 20 && col("doc_id") < (b + 1) * 20)
      val a = graft.streaming.StreamShardLayout.appendIncrement(
        part, root, "doc_id", "n_tokens", shardWeight = 16L,
        batchId = b)
      graft.streaming.StreamShardLayout.appendTokens(
        toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
        a, root, batchId = b)
    }
    def lakeRows(): Set[(Long, Long, String)] =
      SequenceLake.readSequenceLake(spark, lakeR)
        .select(col("shard").cast("long"), col("seq"),
          col("ids_digest"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    def batchRows(): Set[(Long, Long, String)] =
      Sampling.packSequences(graft.streaming.StreamShardLayout
          .packLandedShards(spark, root, seqLen = 8L),
          groupCol = Some("shard"))
        .select(col("shard").cast("long"), col("seq"),
          col("ids_digest"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    land(0L)
    val r1 = SequenceLake.pollLandedShards(spark, root, lakeR,
      seqLen = 8L)
    assert(r1.exists(_._1 == 0L), s"$r1")
    // nothing new closed -> no-op, nothing written
    assert(SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
      .isEmpty)
    land(1L)
    // a COLD process (no in-memory watermark) resumes from the lake
    val r2 = SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
    assert(r2.exists(_._1 == r1.get._2), s"$r1 -> $r2")
    assert(lakeRows() == batchRows())
    // torn landing: the meta commit marker vanishes -> the watermark
    // falls back to before that increment and the replay OVERWRITES
    // it under the same id, converging on the same lake
    val before = lakeRows()
    val fs = new org.apache.hadoop.fs.Path(lakeR)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$lakeR/inc_b${r2.get._1}/sequences_meta/_SUCCESS"), false)
    val r3 = SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
    assert(r3 == r2, s"replay must re-land the torn poll: $r3 vs $r2")
    assert(lakeRows() == before)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("SequenceLake.consume: lake read x epoch schedule x cursor — " +
      "the loader entry point walks every landed sequence exactly " +
      "once per epoch, resumable") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_seqconsume").toString
    // two polls over DISJOINT shards (the production key discipline)
    def mk(shard: Long, docs: Range) = {
      val ids = docs.flatMap(d => (1L to 4L).map(p =>
        (d.toLong, p, (d * 100 + p).toString)))
        .toDF("doc_id", "pos", "token")
        .withColumn("shard", lit(shard))
      Sampling.packSequences(
        Sampling.packTokens(ids, seqLen = 4L,
          groupCol = Some("shard")),
        groupCol = Some("shard"))
    }
    SequenceLake.appendSequences(mk(0L, 0 until 3), root, 0L,
      groupCol = Some("shard"))
    SequenceLake.appendSequences(mk(1L, 3 until 6), root, 1L,
      groupCol = Some("shard"))
    SequenceLake.compactSequenceLake(spark, root,
      groupCol = Some("shard"))
    val all = SequenceLake.consume(spark, root, epoch = 1L)
      .orderBy("shard_rank", "seq_rank").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq"),
        r.getAs[Long]("shard_rank"), r.getAs[Long]("seq_rank"),
        r.getAs[String]("ids_digest")))
    assert(all.length == 6 && all.map(t => (t._1, t._2)).distinct
      .length == 6)
    // resume from the cursor after row 2: exactly the rest, in order
    val c = Sampling.LoaderCursor(1L, all(1)._3, all(1)._4)
    val rest = SequenceLake.consume(spark, root, 1L, Some(c))
      .orderBy("shard_rank", "seq_rank").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq"),
        r.getAs[Long]("shard_rank"), r.getAs[Long]("seq_rank"),
        r.getAs[String]("ids_digest")))
    assert(rest.toSeq == all.drop(2).toSeq)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("pinned epoch manifest: a poll lands between cursor write and " +
      "resume — pinned consumption is exactly-once over the pinned " +
      "set, and the unpinned resume demonstrably drifts") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_pinnedlake").toString
    val manifestP = java.nio.file.Files
      .createTempDirectory("graft_pinnedmf").toString + "/mf"
    val cursorP = java.nio.file.Files
      .createTempDirectory("graft_pinnedcur").toString + "/cur"
    def mkShard(shard: Long, docs: Range) = {
      val ids = docs.flatMap(d => (1L to 4L).map(p =>
        (d.toLong, p, (d * 100 + p).toString)))
        .toDF("doc_id", "pos", "token")
        .withColumn("shard", lit(shard))
      Sampling.packSequences(
        Sampling.packTokens(ids, seqLen = 4L,
          groupCol = Some("shard")),
        groupCol = Some("shard"))
    }
    def mkPoll(shards: Range) = shards
      .map(sh => mkShard(sh, sh * 3 until sh * 3 + 3))
      .reduce(_.unionByName(_))
    // poll 0 lands shards 0..4; the epoch pins against THAT set
    SequenceLake.appendSequences(mkPoll(0 until 5), root, 0L,
      groupCol = Some("shard"))
    val mf = SequenceLake.pinEpoch(spark, root, manifestP, epoch = 1L)
    assert(mf.shards == (0L until 5L).toSeq)
    type R = (Long, Long, Long, Long, String)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[R] =
      df.orderBy("shard_rank", "seq_rank").collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq"),
          r.getAs[Long]("shard_rank"), r.getAs[Long]("seq_rank"),
          r.getAs[String]("ids_digest"))).toSeq
    val all = rows(SequenceLake.consume(spark, root, 1L,
      pinned = Some(mf)))
    assert(all.length == 15 &&
      all.map(t => (t._1, t._2)).distinct.length == 15)
    // on the un-grown lake the pinned schedule IS the unpinned one
    assert(all == rows(SequenceLake.consume(spark, root, 1L)))
    // trainer checkpoints after 4 rows...
    Sampling.writeLoaderCursor(spark, cursorP,
      Sampling.LoaderCursor(1L, all(3)._3, all(3)._4))
    // ...and a poll lands FIVE NEW SHARDS before it restarts (every
    // pinned shard's md5 rank shifts under the grown set: 0..4 rank
    // (2,5,4,3,1) pinned but (4,10,7,5,3) grown)
    SequenceLake.appendSequences(mkPoll(5 until 10), root, 1L,
      groupCol = Some("shard"))
    // restart path: manifest + cursor re-read from disk
    val mf2 = Sampling.readEpochManifest(spark, manifestP)
    assert(mf2 == mf)
    val cur = Sampling.readLoaderCursor(spark, cursorP)
    val rest = rows(SequenceLake.consume(spark, root, 1L, cur,
      pinned = Some(mf2)))
    // exactly-once over the pinned set: precisely the unconsumed
    // remainder, same ranks, no mid-epoch shard leaks in
    assert(rest == all.drop(4), s"$rest\nvs\n${all.drop(4)}")
    assert(rest.map(_._1).toSet.subsetOf((0L until 5L).toSet))
    // the bug the pin kills: the UNPINNED resume over the grown lake
    // re-ranks everything — different rows than the true remainder
    val unpinned = rows(SequenceLake.consume(spark, root, 1L, cur))
    assert(unpinned.map(t => (t._1, t._2)) !=
      rest.map(t => (t._1, t._2)))
    // next epoch re-pins and picks up the growth
    val mf3 = SequenceLake.pinEpoch(spark, root, manifestP, epoch = 2L)
    assert(mf3.shards == (0L until 10L).toSeq)
    assert(rows(SequenceLake.consume(spark, root, 2L,
      pinned = Some(mf3))).length == 30)
    // guards: wrong-epoch manifest and lost-shard manifest refuse
    intercept[IllegalArgumentException] {
      SequenceLake.consume(spark, root, 2L, pinned = Some(mf))
        .collect()
    }
    val eLost = intercept[IllegalArgumentException] {
      Sampling.consumeEpoch(
        SequenceLake.readSequenceLake(spark, root)
          .withColumn("shard", col("shard").cast("long"))
          .where(col("shard") =!= 3L),
        epoch = 1L, pinned = Some(mf))
    }
    assert(eLost.getMessage.contains("absent from the live"),
      eLost.getMessage)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("writeLoaderCursor versions snapshots: a torn re-checkpoint " +
      "falls back to the newest committed cursor; an uncommitted-" +
      "only directory refuses instead of impersonating a fresh " +
      "trainer") {
    import graft.operators.Sampling
    val p = java.nio.file.Files
      .createTempDirectory("graft_vcursor").toString + "/cur"
    // absent path -> genuinely fresh
    assert(Sampling.readLoaderCursor(spark, p).isEmpty)
    Sampling.writeLoaderCursor(spark, p, Sampling.LoaderCursor(1, 2, 3))
    assert(Sampling.readLoaderCursor(spark, p)
      .contains(Sampling.LoaderCursor(1, 2, 3)))
    Sampling.writeLoaderCursor(spark, p, Sampling.LoaderCursor(1, 2, 7))
    assert(Sampling.readLoaderCursor(spark, p)
      .contains(Sampling.LoaderCursor(1, 2, 7)))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // superseded generations were reaped after the new commit
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.startsWith("cursor_v")).sorted
    assert(gens.toSeq == Seq("cursor_v2"), gens.mkString(","))
    // torn NEW snapshot (dir exists, no _SUCCESS): reads fall back to
    // the newest COMMITTED generation — never None, never the torn one
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p/cursor_v3"))
    assert(Sampling.readLoaderCursor(spark, p)
      .contains(Sampling.LoaderCursor(1, 2, 7)))
    // every committed generation gone (hand-damage the protocol can't
    // produce): LOUD refusal, not "fresh trainer"
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/cursor_v2/_SUCCESS"),
      false)
    val e = intercept[IllegalArgumentException] {
      Sampling.readLoaderCursor(spark, p)
    }
    assert(e.getMessage.contains("torn checkpoint"), e.getMessage)
  }

  test("appendSequences de-commits before a replay overwrite: a " +
      "crash mid-rewrite leaves the increment UNcommitted — the " +
      "watermark falls back and the next poll re-lands it") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_decommitlayout").toString
    val lakeR = java.nio.file.Files
      .createTempDirectory("graft_decommitlake").toString
    val docs = (0L until 40L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    val toks = (0L until 40L).flatMap(i => (1L to 4L).map(p =>
      (i, p, i.toString))).toDF("doc_id", "pos", "token")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def land(b: Long): Unit = {
      val part = docs.where(
        col("doc_id") >= b * 20 && col("doc_id") < (b + 1) * 20)
      val a = graft.streaming.StreamShardLayout.appendIncrement(
        part, root, "doc_id", "n_tokens", shardWeight = 16L,
        batchId = b)
      graft.streaming.StreamShardLayout.appendTokens(
        toks.join(part.select("doc_id"), Seq("doc_id"), "left_semi"),
        a, root, batchId = b)
    }
    def lakeRows(): Set[(Long, Long, String)] =
      SequenceLake.readSequenceLake(spark, lakeR)
        .select(col("shard").cast("long"), col("seq"),
          col("ids_digest"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    land(0L)
    val r1 = SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
    land(1L)
    val r2 = SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
    assert(r1.nonEmpty && r2.nonEmpty)
    val before = lakeRows()
    // the ADVICE round-18 window: a REPLAYED poll re-overwrites its
    // committed increment and crashes mid-rewrite. Simulate what the
    // de-commit-first rule leaves on disk: meta gone (appendSequences
    // deleted it up front), sequences/ partially rewritten (a shard
    // dir missing)
    val fs = new org.apache.hadoop.fs.Path(lakeR)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inc = s"$lakeR/inc_b${r2.get._1}"
    fs.delete(new org.apache.hadoop.fs.Path(s"$inc/sequences_meta"),
      true)
    val shardDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$inc/sequences"))
      .filter(_.getPath.getName.startsWith("shard="))
    fs.delete(shardDirs.head.getPath, true)
    // the watermark must NOT count the torn increment's surviving
    // shard dirs: the next poll returns to r2's fromShard and
    // re-lands the same range — the lake converges
    val r3 = SequenceLake.pollLandedShards(spark, root, lakeR, 8L)
    assert(r3 == r2, s"replay must re-land the torn poll: $r3 vs $r2")
    assert(lakeRows() == before)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("ingestTrainerArc compactEvery: the arc runs its own " +
      "maintenance between polls — pointers exist, digests are " +
      "unchanged across the folds, and the lake equals the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val rows = (0L until 120L).map(i =>
      (i, 4L, (1L to 4L).map(_ => i.toString).mkString(" ")))
    val root = java.nio.file.Files
      .createTempDirectory("graft_arcc").toString
    val lake = java.nio.file.Files
      .createTempDirectory("graft_arcclake").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    def tokenize(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("token"))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StreamShardLayout.ingestTrainerArc(
      mem.toDF().toDF("doc_id", "n_tokens", "text"), root, lake,
      java.nio.file.Files.createTempDirectory("graft_arcccp").toString,
      "doc_id", "n_tokens", shardWeight = 16L, tokenize, seqLen = 8L,
      compactEvery = 1)
    try {
      (0 until 4).foreach { b =>
        mem.addData(rows.filter(r => r._1 >= b * 30 &&
          r._1 < (b + 1) * 30): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the in-arc maintenance really ran: both families are pointer-
    // maintained now
    def hasPointer(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
        fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .exists(_.getPath.getName.startsWith("_live_v"))
    assert(hasPointer(s"$root/layout"), "layout pointer missing")
    assert(hasPointer(s"$root/tokens"), "tokens pointer missing")
    assert(hasPointer(lake), "sequence-lake pointer missing")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("shard").cast("long"), col("seq"),
          col("ids_digest"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    val streamed = rowsOf(SequenceLake.readSequenceLake(spark, lake))
    val twin = rowsOf(Sampling.packSequences(
      graft.streaming.StreamShardLayout.packLandedShards(spark, root,
        seqLen = 8L),
      groupCol = Some("shard")))
    assert(streamed.nonEmpty && streamed == twin)
    assert(SequenceLake.consume(spark, lake, epoch = 1L).count() ==
      streamed.size)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("shardAssignOrdered startWeight continues the running weight; " +
      "appendIncrementOrdered streams the curriculum in (batch, " +
      "order, id) order with the cursor threading automatically") {
    import graft.operators.Sampling
    val rows = (0L until 40L).map(i => (i, i % 7 + 1, (i * 13) % 23))
    val ddf = rows.toDF("doc_id", "w", "score")
    // local replay: batch order, then (score, id) within each batch
    def expected(parts: Seq[Seq[(Long, Long, Long)]],
        shardWeight: Long): Map[Long, (Long, Long)] = {
      var cum = 0L
      val out = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      parts.foreach { p =>
        p.sortBy(r => (r._3, r._1)).foreach { case (id, w, _) =>
          out(id) = (cum / shardWeight, cum % shardWeight); cum += w
        }
      }
      out.toMap
    }
    val even = rows.filter(_._1 % 2 == 0)
    val odd = rows.filter(_._1 % 2 == 1)
    // batch form with explicit startWeight threading
    val a0 = Sampling.shardAssignOrdered(
      ddf.where($"doc_id" % 2 === 0), "doc_id", "w", "score", 20L)
    val w0 = even.map(_._2).sum
    val a1 = Sampling.shardAssignOrdered(
      ddf.where($"doc_id" % 2 === 1), "doc_id", "w", "score", 20L,
      startWeight = w0)
    val got = (a0.collect() ++ a1.collect())
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected(Seq(even, odd), 20L))
    // streamed form: the cursor threads startWeight for you
    val root = java.nio.file.Files
      .createTempDirectory("graft_currstream").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    graft.streaming.StreamShardLayout.appendIncrementOrdered(
      ddf.where($"doc_id" % 2 === 0), root, "doc_id", "w",
      orderCol = "score", shardWeight = 20L, batchId = 0L)
    graft.streaming.StreamShardLayout.appendIncrementOrdered(
      ddf.where($"doc_id" % 2 === 1), root, "doc_id", "w",
      orderCol = "score", shardWeight = 20L, batchId = 1L)
    val streamed = graft.streaming.StreamShardLayout
      .readLayout(spark, root)
      .select($"doc_id", $"shard".cast("long"), $"offset").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == got)
    // and the streamed manifest digest contract extends unchanged
    val fromManifest = graft.streaming.StreamShardLayout
      .readShardManifest(spark, root, "w")
      .select($"shard".cast("long"), $"digest").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fromLayout = Sampling.shardManifest(
      graft.streaming.StreamShardLayout.readLayout(spark, root),
      "doc_id", "w")
      .select($"shard".cast("long"), $"digest").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fromManifest == fromLayout && fromManifest.nonEmpty)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("pointer compaction of a single-increment layout and of a " +
      "single-poll sequence lake is a no-op") {
    import graft.operators.Sampling
    import graft.streaming.SequenceLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardcompact1").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    graft.streaming.StreamShardLayout.appendIncrement(
      (0L until 10L).map(i => (i, i % 5 + 1)).toDF("doc_id", "n_tokens"),
      root, "doc_id", "n_tokens", 300L, 0L)
    def entries(d: String): Set[String] =
      new java.io.File(d).list().filterNot(_.startsWith(".")).toSet
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    assert(entries(s"$root/layout") == Set("inc_b0"))
    assert(entries(s"$root/manifest") == Set("inc_b0"))
    val seqRoot = java.nio.file.Files
      .createTempDirectory("graft_seqlake1").toString
    val ids = (0L until 3L).flatMap(d => (1L to 5L).map(p =>
      (d, p, (d * 100 + p).toString))).toDF("doc_id", "pos", "token")
    SequenceLake.appendSequences(
      Sampling.packSequences(Sampling.packTokens(ids, seqLen = 4L)),
      seqRoot, 0L)
    def snap(): Seq[(Long, String)] =
      SequenceLake.readSequenceLake(spark, seqRoot)
        .select($"seq", $"ids_digest").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val before = snap()
    SequenceLake.compactSequenceLake(spark, seqRoot)
    assert(entries(seqRoot) == Set("inc_b0"))
    assert(snap() == before)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("compactLayoutIsolated: a reader holding the old view stays " +
      "consistent through the promote; reap is deferred; plain " +
      "compactLayout refuses a pointer-maintained layout") {
    val docs = (0L until 300L).map(i => (i, (i * 37 + 11) % 50 + 1))
    val ddf = docs.toDF("doc_id", "n_tokens")
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardiso").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    (0 to 2).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        ddf.where($"doc_id" % 3 === b), root, "doc_id", "n_tokens",
        300L, b.toLong)
    }
    def layout(): Set[(Long, Long, Long, Long)] =
      graft.streaming.StreamShardLayout.readLayout(spark, root)
        .select($"doc_id", $"n_tokens", $"shard".cast("long"),
          $"offset")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSet
    def dirsOf(r: String): Set[String] =
      new java.io.File(s"$r/layout").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
    val before = layout()
    // a LISTING-mode reader's view, captured before the compaction —
    // the trainer that resolved its shard set before the promote
    val oldView = Seq("inc_b0", "inc_b1", "inc_b2")
    def readVia(names: Seq[String]): Set[(Long, Long, Long, Long)] =
      names.map(n => spark.read.parquet(s"$root/layout/$n"))
        .reduce(_.unionByName(_))
        .select($"doc_id", $"n_tokens", $"shard".cast("long"),
          $"offset")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSet
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    // the promote created a generation + pointer WITHOUT deleting the
    // old dirs: the old-view reader still streams a consistent layout
    // for the whole compaction interval
    assert(dirsOf(root) ==
      Set("base_v1", "inc_b0", "inc_b1", "inc_b2"))
    assert(readVia(oldView) == before)
    // the new pointer view is the same cumulative layout
    assert(layout() == before)
    // append one more batch; the NEXT isolated compaction reaps the
    // FIRST round's retired dirs (inc_b0/inc_b1), folds
    // {base_v1, inc_b2} into base_v2 — and v1's generation survives
    // THIS promote too (deferred reap: a trainer holding _live_v1
    // keeps base_v1 + inc_b2 + inc_b3, a complete consistent layout,
    // for one more compaction interval)
    graft.streaming.StreamShardLayout.appendIncrement(
      (300L until 350L).map(i => (i, i % 40 + 1))
        .toDF("doc_id", "n_tokens"),
      root, "doc_id", "n_tokens", 300L, 3L)
    val withB3 = layout()
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    assert(dirsOf(root) ==
      Set("base_v1", "inc_b2", "inc_b3", "base_v2"))
    assert(readVia(Seq("base_v1", "inc_b2", "inc_b3")) == withB3)
    assert(layout() == withB3)
    // a third run reaps v1's retired dirs and is otherwise a no-op
    // (nothing new to fold: only inc_b3, the kept-out newest)
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    assert(dirsOf(root) == Set("base_v2", "inc_b3"))
    assert(layout() == withB3)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("compactLayoutIsolated: a crash between the rename and the " +
      "pointer creation resumes by pointer creation alone — the " +
      "orphaned generation is never abandoned") {
    val docs = (0L until 300L).map(i => (i, (i * 37 + 11) % 50 + 1))
    val ddf = docs.toDF("doc_id", "n_tokens")
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardorphan").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    (0 to 2).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        ddf.where($"doc_id" % 3 === b), root, "doc_id", "n_tokens",
        300L, b.toLong)
    }
    def layout(): Set[(Long, Long, Long, Long)] =
      graft.streaming.StreamShardLayout.readLayout(spark, root)
        .select($"doc_id", $"n_tokens", $"shard".cast("long"),
          $"offset")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSet
    val before = layout()
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    // simulate the crash window: base_v1 renamed in (manifest rode
    // along), _live_v1 never created
    assert(new java.io.File(s"$root/layout/_live_v1").delete())
    // a listing-mode reader in the window never double-counts: the
    // orphaned base_v1 is visible through its pointer only
    assert(layout() == before)
    // the rerun resumes the promote (no re-stage, no data loss): the
    // pointer reappears naming base_v1 with the folded incs' max id
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    assert(new java.io.File(s"$root/layout/_live_v1").exists())
    assert(layout() == before)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/layout/_live_v1")), "UTF-8")
      .trim.split("\n")
    assert(ptr(0) == "base_v1" && ptr(1).toLong == 1L)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("appendIncrement: an empty batch writes the cursor only (no " +
      "rows-free increment to brick later reads); the stream resumes " +
      "exactly") {
    val docs = (0L until 100L).map(i => (i, i % 20 + 1))
    val ddf = docs.toDF("doc_id", "n_tokens")
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardempty").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" < 50), root, "doc_id", "n_tokens", 200L, 0L)
    // batch 1 admits nothing (everything deduped upstream)
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" < 0), root, "doc_id", "n_tokens", 200L, 1L)
    // no layout or manifest increment for batch 1; its cursor carries
    // batch 0's running weight forward unchanged
    assert(!new java.io.File(s"$root/layout/inc_b1").exists())
    assert(!new java.io.File(s"$root/manifest/inc_b1").exists())
    val c0 = spark.read.parquet(s"$root/cursor/cursor_b0")
      .collect().head.getLong(0)
    val c1 = spark.read.parquet(s"$root/cursor/cursor_b1")
      .collect().head.getLong(0)
    assert(c0 == c1)
    // the read path never sees the empty batch; batch 2 lands through
    // the carried cursor exactly where batch 1 would have
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" >= 50), root, "doc_id", "n_tokens", 200L, 2L)
    val streamed = graft.streaming.StreamShardLayout
      .readLayout(spark, root)
      .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"offset")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSet
    val twin = java.nio.file.Files
      .createTempDirectory("graft_shardemptytwin").toString
    graft.streaming.StreamShardLayout.initLayout(spark, twin)
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" < 50), twin, "doc_id", "n_tokens", 200L, 0L)
    graft.streaming.StreamShardLayout.appendIncrement(
      ddf.where($"doc_id" >= 50), twin, "doc_id", "n_tokens", 200L, 1L)
    val twinSet = graft.streaming.StreamShardLayout
      .readLayout(spark, twin)
      .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"offset")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSet
    assert(streamed == twinSet)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("readShardManifest: the per-batch manifest rows fold to " +
      "exactly shardManifest over the read-back layout — a trainer " +
      "needs no directory listing") {
    val docs = (0L until 300L).map(i => (i, (i * 37 + 11) % 50 + 1))
    val ddf = docs.toDF("doc_id", "n_tokens")
    val root = java.nio.file.Files
      .createTempDirectory("graft_shardman").toString
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    (0 to 2).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        ddf.where($"doc_id" % 3 === b), root, "doc_id", "n_tokens",
        300L, b.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard".cast("long"), $"n_docs", $"n_tokens", $"digest")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getString(3))).toSet
    val fromManifest = rows(graft.streaming.StreamShardLayout
      .readShardManifest(spark, root, "n_tokens"))
    val fromLayout = rows(graft.operators.Sampling.shardManifest(
      graft.streaming.StreamShardLayout.readLayout(spark, root),
      "doc_id", "n_tokens"))
    assert(fromManifest == fromLayout && fromManifest.nonEmpty)
    // and the manifest rows name the increment directories a trainer
    // opens — (shard, inc) covers every landed shard directory
    val named = spark.read
      .parquet((0 to 2).map(b => s"$root/manifest/inc_b$b"): _*)
      .select($"inc", $"shard".cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val landed = (0 to 2).flatMap { b =>
      new java.io.File(s"$root/layout/inc_b$b").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .map(n => (s"inc_b$b", n.stripPrefix("shard=").toLong))
    }.toSet
    assert(named == landed)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    val path = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val fact = spark.range(1000).select($"id",
      (col("id") % 10).cast("int").as("part_key"))
    Layout.writePartitioned(fact, path, "part_key")
    // the dim must be a file source with a surviving selective Filter,
    // otherwise the DPP rule sees no predicate to derive pruning from
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim").toString
    spark.range(10).select($"id".cast("int").as("part_key"),
        when($"id" < 2, "keep").otherwise("drop").as("tag"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"tag" === "keep")
    val j = spark.read.parquet(path).join(dim, "part_key")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected dynamic partition pruning in:\n$plan")
    assert(j.count() == 200)
  }

  test("partitioned write prunes files under a partition predicate") {
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = spark.range(100).select($"id",
      (col("id") % 4).cast("int").as("bucket_day"))
    Layout.writePartitioned(df, path, "bucket_day")
    val pruned = spark.read.parquet(path).where($"bucket_day" === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 25)
    assert(scan.contains("PartitionFilters") &&
      (scan.contains("bucket_day#") || scan.contains("bucket_day =")))
  }
}
