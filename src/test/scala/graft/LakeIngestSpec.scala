package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{LakeDir, StreamLakeIngest}
import graft.operators.Dedup

/** The streaming lake-ingest loop: every stage of the five-stage chain
  * removes exactly what it is designed to remove across micro-batches,
  * the lake artifacts are the only state (a doc admitted in batch 1
  * dedups a doc in batch 2), a quality-FILTERED doc still dedups later
  * copies (fold-before-filter), keeper snapshots version and prune,
  * and re-running a micro-batch against its own leftover state
  * reproduces identical results (the replay exactly-once property the
  * layout exists for). */
case class IngestDoc(doc_id: Long, text: String, vec: Array[Float])

class LakeIngestSpec extends SparkTestBase {
  import spark.implicits._

  // semThreshold 0.7: the designed semantic pairs sit at cos ≈ 0.995
  // and the survivors' vectors at ≤ 0.58 — with ±axis keepers in 3-D,
  // 0.4 would leave NO direction a survivor could occupy
  private val p = StreamLakeIngest.Params(windowLen = 20,
    minEstJaccard = 0.35, semThreshold = 0.7, nlist = 2, nassign = 2,
    minQuality = 0.0, maxTopBigramFrac = 1.0, lang = "en")

  // admitted history: two long English docs, orthogonal embeddings
  private val histT10 = "the quick brown fox jumps over the lazy dog " +
    "and the dog is of a sleepy kind so it naps under the old oak " +
    "tree near the barn"
  private val histT12 = "a steady flow of data is the heart of any " +
    "engine and the pipes must hold under pressure every day of the " +
    "year in all seasons"
  private val benchT = "THEBENCHMARKSECRETPASSAGEBODY IS HERE NOW OK"

  private val t5 = "counting stars is a fine way of passing the " +
    "night and the sky is full of the brightest lights you will " +
    "ever see up there"
  private val t11 = "fresh words entirely new and the content here " +
    "is of a different nature than the rest of all the corpus so " +
    "far today"
  private val t13 = "rivers carve the canyon and the water is of a " +
    "patient kind that wins against the stone over the long " +
    "centuries always"
  private val t15de = "der hund und die katze das ist und der die " +
    "das und ist immer so weiter und der tag ist lang und die " +
    "nacht ist kurz"
  private val t208 = "glass towers rise over the bay and the light " +
    "is of a golden shade at dusk when the ferries cross the water " +
    "home again"
  private val t210 = "seven drummers kept the beat and the crowd is " +
    "of a joyful mood tonight while the lanterns float over the " +
    "quiet river"

  private val batch1 = Seq(
    // copies a >=20-char benchmark window -> decon (stage 1)
    IngestDoc(101L, "the model memorized THEBENCHMARKSECRETPASSAGEBODY " +
      "and the answer is of a kind", Array(0f, 0f, 1f)),
    // exact copy of lake history -> exact cross (stage 2)
    IngestDoc(103L, histT10, Array(0f, 0f, 1f)),
    IngestDoc(105L, t5, Array(0f, 0f, 1f)),
    // within-batch exact dup of 105 -> min-id rule (stage 2)
    IngestDoc(107L, t5, Array(0f, 0f, 1f)),
    // one word changed vs lake history -> near-dup cross (stage 3)
    IngestDoc(109L, histT10.replace("near the barn", "near the house"),
      Array(0f, 0f, 1f)),
    // embedding next to lake history h12 -> semantic cross (stage 4)
    IngestDoc(111L, t11, Array(0.05f, 0.995f, 0f)),
    IngestDoc(113L, t13, Array(-1f, 0f, 0f)),
    // German -> quality filter (stage 5), but still enrolled in lakes
    IngestDoc(115L, t15de, Array(0f, -1f, 0f)))

  private val batch2 = Seq(
    // exact copy of batch-1 ADMITTED doc -> cross-batch exact
    IngestDoc(202L, t13, Array(0f, 0f, 1f)),
    // exact copy of batch-1 FILTERED doc -> proves fold-before-filter
    IngestDoc(204L, t15de, Array(0f, 0f, 1f)),
    // one word changed vs batch-1 admitted 105 -> cross-batch near-dup
    IngestDoc(206L, t5.replace("up there", "up above"),
      Array(0f, 0f, -1f)),
    // embedding next to batch-1 admitted 113 -> cross-batch semantic
    IngestDoc(208L, t208, Array(-0.995f, 0.05f, 0f)),
    IngestDoc(210L, t210, Array(0f, 0f, -1f)))

  private def admittedIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  test("five-stage streaming ingest: lake state dedups across " +
      "micro-batches, snapshots version and prune") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("lake_ingest").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    StreamLakeIngest.initLake(hist, bench, "text", "doc_id", "vec",
      lake, p)

    val stream = MemoryStream[IngestDoc]
    val q = StreamLakeIngest.ingest(stream.toDF(), lake, admitted,
      s"$root/ckpt", "text", "doc_id", "vec", p)
    stream.addData(batch1: _*); q.processAllAvailable()
    stream.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    // every removal lands at its designed stage
    assert(admittedIds(s"$admitted/inc_b0") == Set(105L, 113L))
    assert(admittedIds(s"$admitted/inc_b1") == Set(210L))

    // the hash lake folded the EXACT-stage survivors (105 109 111 113
    // 115) — near-dup/sem/filter removals still enroll their hashes
    assert(spark.read.parquet(s"$lake/hashes/inc_b0").count() == 5L)
    // batch 2: 206 208 210 survive the exact stage (202/204 are dups;
    // 208's TEXT is unique — it is removed later, in embedding space)
    assert(spark.read.parquet(s"$lake/hashes/inc_b1").count() == 3L)
    // the signature lake folded the NEAR-DUP-stage survivors
    assert(spark.read.parquet(s"$lake/sigs/inc_b0")
      .select("id").distinct().count() == 4L) // 105 111 113 115
    // keeper snapshots: b0 and b1 exist, the init snapshot was pruned
    // once no replay could read it
    val sem = new java.io.File(s"$lake/sem")
    val dirs = sem.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("codebook", "keepers_b0", "keepers_b1"))
  }

  test("micro-batch replay against its own leftover state is " +
      "exactly-once: identical admitted rows, identical lake") {
    val root = Files.createTempDirectory("lake_replay").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    StreamLakeIngest.initLake(hist, bench, "text", "doc_id", "vec",
      lake, p)

    def runBatch(rows: Seq[IngestDoc], bid: Long): Set[Long] = {
      val out = StreamLakeIngest.curateIncrement(rows.toDF(), lake,
        admitted, "text", "doc_id", "vec", bid, p)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.operators.Lineage.free(out)
      Dedup.releaseIntermediates()
      ids
    }
    def lakeState(): (Long, Long, Set[String]) = (
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$lake/hashes").count(),
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$lake/sigs").count(),
      spark.read.parquet(s"$lake/sem/keepers_b1").collect()
        .map(_.toString).toSet)

    assert(runBatch(batch1, 0L) == Set(105L, 113L))
    assert(runBatch(batch2, 1L) == Set(210L))
    val before = lakeState()
    // the replay: batch 1's own fold-ins are already on disk — the
    // visible-state assembly must exclude them, the writes must
    // overwrite them
    assert(runBatch(batch2, 1L) == Set(210L))
    assert(lakeState() == before)
    assert(admittedIds(s"$admitted/inc_b1") == Set(210L))
  }

  test("isolated compaction: a reader holding the OLD pointer set " +
      "sees a consistent pre-promote lake through the promote; reap " +
      "is deferred one compaction; plain compact refuses the lake") {
    val root = Files.createTempDirectory("lake_isocompact").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    StreamLakeIngest.initLake(hist, bench, "text", "doc_id", "vec",
      lake, p)
    def runBatch(rows: Seq[IngestDoc], bid: Long): Set[Long] = {
      val out = StreamLakeIngest.curateIncrement(rows.toDF(), lake,
        admitted, "text", "doc_id", "vec", bid, p)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.operators.Lineage.free(out)
      Dedup.releaseIntermediates()
      ids
    }
    runBatch(batch1, 0L); runBatch(batch2, 1L)
    // the reader's view BEFORE the promote: exact per-dir row sets
    // (an old-pointer reader resolves exactly these directory paths)
    def hashRows(sub: String): Set[String] =
      spark.read.parquet(s"$lake/hashes/$sub").select("h").collect()
        .map(_.getString(0)).toSet
    val oldView = Seq("base", "inc_b0", "inc_b1")
      .map(d => d -> hashRows(d)).toMap
    StreamLakeIngest.compactIsolated(spark, lake)
    // PROMOTED: a new generation + pointer exist...
    def subdirs(d: String): Set[String] =
      new java.io.File(d).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
    assert(subdirs(s"$lake/hashes")
      .intersect(Set("base_v1", "_compact")) == Set("base_v1"))
    assert(new java.io.File(s"$lake/hashes/_live_v1").exists())
    // ...and the old reader's whole directory set is UNTOUCHED — it
    // keeps reading the exact pre-promote lake (the Done criterion)
    oldView.foreach { case (d, rows) => assert(hashRows(d) == rows) }
    // new readers resolve the pointer: cross-batch dedup still works
    // (exact copy of an admitted doc, near-dup of an admitted doc)
    assert(runBatch(Seq(
      IngestDoc(302L, t210, Array(0.5f, 0.5f, 0.5f)),
      IngestDoc(304L, t5.replace("ever see", "never see"),
        Array(0.5f, -0.5f, 0.5f)),
      IngestDoc(306L, "entirely novel content and the words are of a " +
        "new kind that is the hallmark of an original document here",
        Array(0.6f, -0.6f, -0.6f))), 2L) == Set(306L))
    // the SECOND isolated compaction reaps what the first retired
    // (base, inc_b0) and folds {base_v1, inc_b1} — inc_b2 (newest) is
    // excluded from folding, visible via k > maxFolded
    StreamLakeIngest.compactIsolated(spark, lake)
    val after = subdirs(s"$lake/hashes")
    assert(!after.contains("base") && !after.contains("inc_b0"))
    assert(after.contains("base_v1") && after.contains("base_v2") &&
      after.contains("inc_b1") && after.contains("inc_b2"))
    // total content is preserved: distinct hashes across the live set
    // equal the pre-compaction distinct hashes plus batch 2's fold-ins
    val live2 = hashRows("base_v2") ++ hashRows("inc_b2")
    val expected = oldView.values.flatten.toSet ++ hashRows("inc_b2")
    assert(live2 == expected)
    // and the THIRD compaction reaps generation 1 + its pointer
    runBatch(Seq(IngestDoc(402L, "novel words flow through the " +
      "evening air and the meaning is of a calm kind tonight for " +
      "all the readers", Array(-0.6f, 0.6f, -0.6f))), 3L)
    StreamLakeIngest.compactIsolated(spark, lake)
    val after3 = subdirs(s"$lake/hashes")
    assert(!after3.contains("base_v1") && !after3.contains("inc_b1"))
    assert(!new java.io.File(s"$lake/hashes/_live_v1").exists())
    assert(new java.io.File(s"$lake/hashes/_live_v3").exists())
  }

  test("seven-stage ingest: the DSIR gate reads the versioned frozen " +
      "model (fold-ins apply from the NEXT batch), the budget ledger " +
      "meters per source across micro-batches, and replay is " +
      "exactly-once") {
    import graft.operators.{Curation, TextOps}
    val root = Files.createTempDirectory("lake_full").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    // target = ordinary English (both real hist docs); raw-only = one
    // marker doc of distinct nonsense vocabulary. Every feature a
    // NATURAL English doc carries then leans target or unseen-positive
    // (raw strictly contains target, so the smoothed prior is
    // ln((rt+B)/(tt+B)) > 0) — the sign preconditions below are
    // robust, not hash luck.
    val zzzT = "zzz qux jolt vex brim clod dunes parn welk trid moss"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f)),
      IngestDoc(14L, zzzT, Array(0.5f, 0.5f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    val isTarget = !col("text").contains("zzz")
    val xText = "foxes and hounds roam the wide meadow at dawn while " +
      "the hens peck seeds and the rooster calls the morning from " +
      "the fence post"
    def nTok(t: String): Long = spark.range(1)
      .select(TextOps.tokenCount(lit(t)).cast("long")).head().getLong(0)
    val sp0 = graft.streaming.StreamLakeIngest.SelectParams()
    graft.streaming.StreamLakeIngest.initLakeFull(hist, bench, "text",
      "doc_id", "vec", isTarget, lake, p, sp0)

    // fold BEFORE any batch runs (legitimate: the fold-in reads only
    // model snapshots, never batch state): 50 NON-target (zzz-marked)
    // rows carrying exactly xText's distinctive unigrams — those
    // buckets lean hard raw in model_b0 and flip xText's verdict,
    // while the fold text shares no common English word, so the other
    // docs' scores barely move. Batch 0 must still read model_init.
    val foldText = "zzz foxes hounds roam meadow hens peck seeds " +
      "rooster calls fence post dawn"
    val foldRows = (1 to 50).map(i => (1000L + i, foldText))
      .toDF("doc_id", "text")
    graft.streaming.StreamLakeIngest.foldDsirModel(foldRows, "text",
      isTarget, lake, 0L, sp0)
    // the wrapper's fold-in is EXACT: model_b0 == a from-scratch fit
    // over history ∪ fold rows (the q217 contract, at this layer)
    Curation.writeDsirModel(
      hist.select(col("doc_id"), col("text"))
        .unionByName(foldRows), "text", isTarget,
      sp0.dsirBuckets, sp0.dsirSalt, s"$root/rebuilt")
    def modelRows(pth: String) = spark.read.parquet(pth)
      .orderBy("b").collect().map(_.toString).toSeq
    assert(modelRows(s"$lake/dsir/model_b0") ==
      modelRows(s"$root/rebuilt"))
    // a crashed-and-rerun fold for the SAME batch id is idempotent:
    // it must re-read the true predecessor (model_init), never its own
    // first attempt — a self-read would double-count the increment
    val b0 = modelRows(s"$lake/dsir/model_b0")
    graft.streaming.StreamLakeIngest.foldDsirModel(foldRows, "text",
      isTarget, lake, 0L, sp0)
    assert(modelRows(s"$lake/dsir/model_b0") == b0,
      "fold re-run for the same batch id is not idempotent")

    def scoreUnder(modelPath: String, text: String): Long = {
      val lr = spark.read.parquet(modelPath)
        .select(col("b"), col("lr_micro")).orderBy("b").collect()
        .map(_.getLong(1))
      spark.range(1).select(Curation.dsirScoreMicro(lit(text), lr)
        .as("s")).head().getLong(0)
    }
    // minMicro derived from the engine's own scores (the score
    // ARITHMETIC is oracle-certified by q216/q217; this spec pins the
    // PLUMBING — which model version each batch reads, and that the
    // gate cuts exactly at minMicro). One robustness precondition:
    // the 50-row fold must drop xText's score below every to-admit
    // score — a 600-fold raw-count swing on 12 of its unigram buckets.
    // minMicro sits at the floor of every score that must clear the
    // gate — INCLUDING xText under the init model, so a batch-1 gate
    // wrongly reading model_init would admit 205 and fail the test;
    // only xText under the FOLDED model falls below it
    val mustClear = Seq(
      scoreUnder(s"$lake/dsir/model_init", t5),
      scoreUnder(s"$lake/dsir/model_init", t13),
      scoreUnder(s"$lake/dsir/model_init", xText),
      scoreUnder(s"$lake/dsir/model_b0", t208),
      scoreUnder(s"$lake/dsir/model_b0", t210))
    val xScore = scoreUnder(s"$lake/dsir/model_b0", xText)
    assert(xScore < mustClear.min, "fold-in did not dominate")
    // budget: exactly t5's token count + 1, so doc 105 admits under
    // budget, doc 113 CROSSES it (admitted — before-tokens still
    // under), and every later s1 doc is shut out
    val sp = graft.streaming.StreamLakeIngest.SelectParams(
      minMicro = mustClear.min, tokenBudget = nTok(t5) + 1)

    def runFull(rows: Seq[(Long, String, String, Array[Float])],
        bid: Long): Set[Long] = {
      val out = graft.streaming.StreamLakeIngest.curateIncrementFull(
        rows.toDF("doc_id", "source", "text", "vec"), lake, admitted,
        "text", "doc_id", "vec", "source", bid, p, sp)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      graft.operators.Lineage.free(out)
      Dedup.releaseIntermediates()
      ids
    }
    // batch 0: both s1 docs pass stages 1-6; budget admits 105 and the
    // crossing doc 113, then closes s1
    assert(runFull(Seq(
      (105L, "s1", t5, Array(0f, 0f, 1f)),
      (113L, "s1", t13, Array(-1f, 0f, 0f))), 0L) == Set(105L, 113L))
    def ledger(v: String): Map[String, Long] =
      spark.read.parquet(s"$lake/budget/$v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger("used_b0") == Map("s1" -> (nTok(t5) + nTok(t13))))

    // batch 1: 201 (s1) passes every stage but the CLOSED s1 budget;
    // 203 (s2) admits — sources meter independently; 205 (s2, xText)
    // is rejected by the stage-6 gate under the FOLDED model
    assert(runFull(Seq(
      (201L, "s1", t208, Array(0f, 0f, -1f)),
      (203L, "s2", t210, Array(0f, -1f, 0f)),
      (205L, "s2", xText, Array(0.6f, -0.6f, -0.6f))), 1L)
      == Set(203L))
    assert(ledger("used_b1") == Map(
      "s1" -> (nTok(t5) + nTok(t13)), "s2" -> nTok(t210)))
    // admitted rows carry the selection metadata
    val cols = spark.read.parquet(s"$admitted/inc_b1").columns.toSet
    assert(Set("iw_micro", "n_tokens").subsetOf(cols))

    // replay of batch 1 against its own leftovers: identical admitted
    // set, identical ledger (reads used_b0, overwrites used_b1)
    assert(runFull(Seq(
      (201L, "s1", t208, Array(0f, 0f, -1f)),
      (203L, "s2", t210, Array(0f, -1f, 0f)),
      (205L, "s2", xText, Array(0.6f, -0.6f, -0.6f))), 1L)
      == Set(203L))
    assert(ledger("used_b1") == Map(
      "s1" -> (nTok(t5) + nTok(t13)), "s2" -> nTok(t210)))

    // batch 2 with `merges` set: the budget meters in LEARNED-tokenizer
    // tokens (the native bpe_token_count), not whitespace words
    val t302 = "maple leaves drift over the quiet pond while the " +
      "geese call the morning and the water is of a calm kind today"
    val m2 = Seq(("t", "h"), ("th", "e"))
    val bpeTok = graft.operators.Tokenizer.bpeTokenCounts(
        Seq((1L, t302)).toDF("doc_id", "text"), "text", "doc_id", m2)
      .head().getLong(2)
    assert(bpeTok != nTok(t302)) // the switch must be observable
    val sp2 = sp.copy(merges = m2,
      minMicro = scoreUnder(s"$lake/dsir/model_b0", t302))
    val out2 = graft.streaming.StreamLakeIngest.curateIncrementFull(
      Seq((302L, "s3", t302, Array(0.5f, -0.5f, 0.5f)))
        .toDF("doc_id", "source", "text", "vec"),
      lake, admitted, "text", "doc_id", "vec", "source", 2L, p, sp2)
    assert(out2.select("doc_id", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((302L, bpeTok)))
    graft.operators.Lineage.free(out2)
    Dedup.releaseIntermediates()
    assert(ledger("used_b2")("s3") == bpeTok)
  }

  test("ingestFull: the seven-stage foreachBatch loop drives " +
      "micro-batches end to end (admitted dirs + ledger progression)") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("lake_fullstream").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    val zzzT = "zzz qux jolt vex brim clod dunes parn welk trid moss"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f)),
      IngestDoc(14L, zzzT, Array(0.5f, 0.5f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    // generous gates: this spec pins the STREAM WIRING (per-batch
    // dirs, cross-batch ledger reads); the gate semantics are pinned
    // by the direct-call seven-stage spec above
    val sp = graft.streaming.StreamLakeIngest.SelectParams(
      minMicro = Long.MinValue, tokenBudget = Long.MaxValue / 4)
    graft.streaming.StreamLakeIngest.initLakeFull(hist, bench, "text",
      "doc_id", "vec", !col("text").contains("zzz"), lake, p, sp)
    case class FullDoc(doc_id: Long, source: String, text: String,
        vec: Array[Float])
    val stream = MemoryStream[(Long, String, String, Array[Float])]
    val q = graft.streaming.StreamLakeIngest.ingestFull(
      stream.toDF().toDF("doc_id", "source", "text", "vec"), lake,
      admitted, s"$root/ckpt", "text", "doc_id", "vec", "source", p, sp)
    stream.addData((105L, "s1", t5, Array(0f, 0f, 1f)))
    q.processAllAvailable()
    stream.addData((203L, "s1", t210, Array(0f, -1f, 0f)))
    q.processAllAvailable()
    q.stop()
    assert(admittedIds(s"$admitted/inc_b0") == Set(105L))
    assert(admittedIds(s"$admitted/inc_b1") == Set(203L))
    // batch 1's ledger accumulated batch 0's s1 tokens — the stream
    // read used_b0, not the init ledger
    def tok(t: String): Long = spark.range(1)
      .select(graft.operators.TextOps.tokenCount(lit(t)).cast("long"))
      .head().getLong(0)
    val led = spark.read.parquet(s"$lake/budget/used_b1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(led == Map("s1" -> (tok(t5) + tok(t210))))
  }

  test("ingestFullToShards: one foreachBatch runs the seven-stage " +
      "selection AND lands the admissions in the shard layout — the " +
      "layout round-trips to the direct two-append twin") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("lake_toshards").toString
    val lake = s"$root/lake"
    val admitted = s"$root/admitted"
    val layout = s"$root/layout"
    val zzzT = "zzz qux jolt vex brim clod dunes parn welk trid moss"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f)),
      IngestDoc(14L, zzzT, Array(0.5f, 0.5f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    val sp = graft.streaming.StreamLakeIngest.SelectParams(
      minMicro = Long.MinValue, tokenBudget = Long.MaxValue / 4)
    graft.streaming.StreamLakeIngest.initLakeFull(hist, bench, "text",
      "doc_id", "vec", !col("text").contains("zzz"), lake, p, sp)
    graft.streaming.StreamShardLayout.initLayout(spark, layout)
    val stream = MemoryStream[(Long, String, String, Array[Float])]
    val q = graft.streaming.StreamLakeIngest.ingestFullToShards(
      stream.toDF().toDF("doc_id", "source", "text", "vec"), lake,
      admitted, s"$root/ckpt", layout, "text", "doc_id", "vec",
      "source", shardWeight = 20L, p, sp)
    stream.addData((105L, "s1", t5, Array(0f, 0f, 1f)),
      (113L, "s1", t13, Array(-1f, 0f, 0f)))
    q.processAllAvailable()
    stream.addData((203L, "s1", t210, Array(0f, -1f, 0f)))
    q.processAllAvailable()
    q.stop()
    // selection admitted everything (generous gates) per batch dir
    assert(admittedIds(s"$admitted/inc_b0") == Set(105L, 113L))
    assert(admittedIds(s"$admitted/inc_b1") == Set(203L))
    // the landed layout equals the direct twin: appendIncrement over
    // the SAME admitted frames, batch order preserved by the cursor
    def rows(r: String): Set[(Long, Long, Long, Long)] =
      graft.streaming.StreamShardLayout.readLayout(spark, r)
        .select($"doc_id", $"n_tokens", $"shard".cast("long"),
          $"offset")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSet
    val twin = Files.createTempDirectory("lake_toshards_twin").toString
    graft.streaming.StreamShardLayout.initLayout(spark, twin)
    Seq(0L, 1L).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        spark.read.parquet(s"$admitted/inc_b$b")
          .select($"doc_id", $"n_tokens"),
        twin, "doc_id", "n_tokens", 20L, b)
    }
    val streamed = rows(layout)
    assert(streamed == rows(twin))
    assert(streamed.map(_._1) == Set(105L, 113L, 203L))
    graft.operators.Dedup.releaseIntermediates()
  }

  /** Shared prologue for the compaction crash-resume specs: init the
    * lake, run batches 0 and 1, return (lake, admitted). */
  private def crashFixture(): (String, String) = {
    val root = Files.createTempDirectory("lake_crash").toString
    val lake = s"$root/lake"
    val hist = Seq(IngestDoc(10L, histT10, Array(1f, 0f, 0f)),
      IngestDoc(12L, histT12, Array(0f, 1f, 0f))).toDF()
    val bench = Seq((1L, benchT)).toDF("doc_id", "text")
    StreamLakeIngest.initLake(hist, bench, "text", "doc_id", "vec",
      lake, p)
    Seq(batch1 -> 0L, batch2 -> 1L).foreach { case (rows, bid) =>
      val out = StreamLakeIngest.curateIncrement(rows.toDF(), lake,
        s"$root/admitted", "text", "doc_id", "vec", bid, p)
      out.count(); graft.operators.Lineage.free(out)
      Dedup.releaseIntermediates()
    }
    (lake, s"$root/admitted")
  }

  /** Simulate a compaction that crashed AFTER its rewrite completed
    * (staging parquet + manifest present, nothing promoted yet). */
  private def stageCrashedCompaction(hdir: String,
      dirs: Seq[String]): Unit = {
    spark.read.parquet(dirs.map(d => s"$hdir/$d"): _*)
      .write.mode("overwrite").parquet(s"$hdir/_compact")
    val w = new java.io.FileWriter(s"$hdir/_compact/_compacted_dirs")
    try w.write(dirs.sorted.mkString("\n") + "\n") finally w.close()
  }

  /** The live hash rows, sorted, as a reader resolves them. */
  private def liveHashes(hdir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(hdir)
    val dirs = LakeDir.live(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    spark.read.parquet(dirs: _*).select("h").collect()
      .map(_.getString(0)).toSeq.sorted
  }

  private def subdirsOf(d: String): Set[String] =
    new java.io.File(d).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  private def dataFiles(d: String): Set[String] =
    new java.io.File(d).list().filter(_.endsWith(".parquet")).toSet

  test("isolated compaction crash-resume: a completed staging with " +
      "its manifest and no generation yet is promoted as it stands") {
    val (lake, _) = crashFixture()
    val hdir = s"$lake/hashes"
    val before = liveHashes(hdir)
    // crash state: the fold of {base, inc_b0} (inc_b1 newest, left
    // out) staged with its manifest; no base_v1, no pointer
    stageCrashedCompaction(hdir, Seq("base", "inc_b0"))
    val staged = dataFiles(s"$hdir/_compact")
    StreamLakeIngest.compactIsolated(spark, lake)
    // promoted without re-staging: the generation holds the staged
    // files, the pointer names it with inc_b0 folded, nothing deleted
    assert(subdirsOf(hdir) ==
      Set("base", "inc_b0", "inc_b1", "base_v1"))
    assert(staged.nonEmpty && dataFiles(s"$hdir/base_v1") == staged)
    val ptr = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$hdir/_live_v1")), "UTF-8").split("\n")
    assert(ptr.toSeq == Seq("base_v1", "0"))
    assert(liveHashes(hdir) == before)
  }

  test("isolated compaction with an injected write fault: no " +
      "generation or pointer appears, readers keep the old rows, and " +
      "a rerun converges to the fault-free run") {
    val (lake, _) = crashFixture()
    val (twin, _) = crashFixture()
    val hdir = s"$lake/hashes"
    val before = liveHashes(hdir)
    val e = intercept[IllegalStateException] {
      LakeDir.compact(spark, hdir, dirs => spark.read.parquet(dirs: _*),
        (df, path) => {
          df.limit(1).write.mode("overwrite").parquet(path)
          throw new IllegalStateException("injected: staging write died")
        })
    }
    assert(e.getMessage.startsWith("injected"))
    // part of the staging landed, its manifest did not
    assert(dataFiles(s"$hdir/_compact").nonEmpty)
    assert(!new java.io.File(s"$hdir/_compact/_compacted_dirs").exists())
    def entries(d: String): Set[String] =
      new java.io.File(d).list().toSet
    assert(!entries(hdir).exists(n =>
      n.startsWith("base_v") || n.startsWith("_live_v")))
    assert(liveHashes(hdir) == before)
    StreamLakeIngest.compactIsolated(spark, lake)
    StreamLakeIngest.compactIsolated(spark, twin)
    assert(entries(hdir) == entries(s"$twin/hashes"))
    assert(entries(hdir).contains("base_v1"))
    assert(liveHashes(hdir) == liveHashes(s"$twin/hashes"))
    assert(liveHashes(hdir) == before)
  }

  test("the lake directory format has one owner: no pointer, " +
      "generation, manifest or shard=N name literal in " +
      "graft.streaming outside LakeDir.scala") {
    val names = "\"(_live_v|base_v|_compacted_dirs|shard=)".r
    val dir = new java.io.File("src/main/scala/graft/streaming")
    assert(dir.isDirectory, s"$dir not found")
    val offenders = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") &&
        f.getName != "LakeDir.scala")
      .flatMap { f =>
        val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
        names.findAllMatchIn(src).map { m =>
          s"${f.getName}:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"name lake directories through LakeDir: ${offenders.mkString(", ")}")
  }
}
