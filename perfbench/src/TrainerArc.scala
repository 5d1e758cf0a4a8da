package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Sampling, Tokenizer}
import graft.streaming.{SequenceLake, StreamLakeIngest, StreamShardLayout}

/** `trainer_arc`: the flagship streamed chain, two streaming queries fed
  * by one client.
  *
  * Each micro-batch of [[BatchDocs]] documents runs
  * `StreamLakeIngest.ingestFull` (decontamination, exact / near /
  * semantic dedup against the lake, DSIR gate, token budget), and the
  * admitted documents then run `StreamShardLayout.ingestTrainerArc`
  * (BPE encode, land layout and tokens; every [[PollEvery]]th batch also
  * packs the closed shards into the sequence lake and compacts). One op
  * is one micro-batch, from `addData` until both queries have committed
  * it. One round is one poll cycle: [[PollEvery]] batches, the last of
  * which polls and compacts (compactEvery = 1), so every round holds the
  * same mix of batches that only land and batches that also poll; the
  * round ends with a read of the whole sequence lake: `pinEpoch` and a
  * pinned-epoch `consume` (the read op).
  *
  * Why: Spark job count and driver gaps bind here, and the workload
  * writes, compacts and reads a lake, so write/space/read trade-offs
  * show. The DSIR gate admits everything and the budget never binds, so
  * each batch admits exactly its [[FreshPerBatch]] fresh documents
  * whatever the seed.
  *
  * The sizes follow the shape of the program's recorded trainer-arc
  * runs (`ProfTrainerArc`, `ProfLakeIngest`; see README.md), scaled down
  * to fit a run: two shards per batch, sequences of 2048 ids, a poll
  * every second batch, a history four times a batch, and 15 % of each
  * batch removed as duplicates. */
final class TrainerArc(ctx: Ctx) extends Workload {
  import TrainerArc._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val root = ctx.dir
  private val lake = s"$root/lake/ingest"
  private val admittedDir = s"$root/lake/admitted"
  private val layout = s"$root/lake/layout"
  private val seqLake = s"$root/lake/sequences"

  val maxRounds = 4
  def rowsPerRound: Long = BatchDocs.toLong * PollEvery
  def inputBytesPerRound: Long = roundBytes
  def lakeRoots: Seq[String] = Seq(s"$root/lake")

  private var roundBytes = 0L
  private val batches = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]
  private val expectedAdmitted = mutable.ArrayBuffer.empty[Set[Long]]
  private val refIds = mutable.HashMap.empty[Long, Seq[Long]]
  private val allDocs = mutable.ArrayBuffer.empty[Doc]
  private var eos = 0L
  private var ingestQ: StreamingQuery = null
  private var arcQ: StreamingQuery = null
  private var docsIn: MemoryStream[Long] = null
  private var arcIn: MemoryStream[Long] = null
  private var batchNo = 0
  private var roundNo = 0
  private var planted = 0L
  private var removed = 0L
  private var admittedTotal = 0L

  def prepare(): Unit = {
    val g = new Corpus.Gen(ctx.seed)
    val hist = IndexedSeq.fill(HistDocs)(g.fresh())
    val bench = IndexedSeq.fill(BenchDocs)(g.fresh())
    for (_ <- 0 until (Main.WarmRounds + maxRounds) * PollEvery) {
      val fresh = IndexedSeq.fill(FreshPerBatch)(g.fresh())
      val dups = IndexedSeq.fill(Planted)(g.exactDup(g.pick(hist))) ++
        IndexedSeq.fill(Planted)(g.nearDup(g.pick(hist))) ++
        IndexedSeq.fill(Planted)(g.semDup(g.pick(hist))) ++
        IndexedSeq.fill(Planted)(g.contaminated(g.pick(bench)))
      batches += fresh ++ dups
      expectedAdmitted += fresh.map(_.id).toSet
    }
    roundBytes = Corpus.inputBytes(batches.take(PollEvery).flatten.toSeq)
    allDocs ++= hist ++ bench ++ batches.flatten

    val docs = Corpus.frame(spark, allDocs.toSeq).cache()
    docs.count()
    val histDf = docs.where(col("doc_id") < HistDocs)
    val benchDf = docs.where(col("doc_id") >= HistDocs &&
      col("doc_id") < HistDocs + BenchDocs)
    val p = StreamLakeIngest.Params(semThreshold = 0.9)
    val sp = StreamLakeIngest.SelectParams(minMicro = Long.MinValue,
      tokenBudget = Long.MaxValue / 4)
    StreamLakeIngest.initLakeFull(histDf, benchDf, "text", "doc_id", "vec",
      col("source") === "web", lake, p, sp)

    // the tokenizer artifact: vocabulary of the merges over the history,
    // with a registered eos id
    val vocab = Tokenizer.bpeVocabulary(histDf, "text", Corpus.Merges)
    eos = Tokenizer.writeBpeVocab(spark, s"$root/lake/tokenizer", vocab,
      Seq("eos")).get.eos
    val vocabDf = Tokenizer.readBpeVocab(spark, s"$root/lake/tokenizer")
      .cache()
    val idOf = vocabDf.collect().map(r =>
      r.getAs[String]("token") -> r.getAs[Long]("token_id")).toMap
    batches.flatten.foreach(d =>
      refIds(d.id) = Corpus.pieces(d.text).map(idOf) :+ eos)

    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    docsIn = MemoryStream[Long]
    ingestQ = StreamLakeIngest.ingestFull(
      docsIn.toDF().toDF("doc_id").join(docs, Seq("doc_id")), lake,
      admittedDir, s"$root/checkpoints/ingest", "text", "doc_id", "vec",
      "source", p, sp)
    StreamShardLayout.initLayout(spark, layout)
    arcIn = MemoryStream[Long]
    val weights = docs.select(col("doc_id"),
      lit(Corpus.TokensPerDoc.toLong).as("n_tokens"))
    val texts = docs.select(col("doc_id"), col("text"))
    def tokenize(b: DataFrame): DataFrame =
      Tokenizer.bpeEncodeIds(b.select(col("doc_id")).join(texts, "doc_id"),
          "text", "doc_id", Corpus.Merges, vocabDf)
        .select(col("doc_id"), col("pos"),
          col("token_id").cast("string").as("token"))
    arcQ = StreamShardLayout.ingestTrainerArc(
      arcIn.toDF().toDF("doc_id").join(weights, Seq("doc_id")), layout,
      seqLake, s"$root/checkpoints/arc", "doc_id", "n_tokens",
      ShardDocs.toLong * Corpus.TokensPerDoc, tokenize _, SeqLen,
      pollEvery = PollEvery, sep = Some(eos.toString), compactEvery = 1)
  }

  def round(): Unit = {
    for (_ <- 0 until PollEvery) microBatch()
    read()
  }

  private def microBatch(): Unit = {
    val b = batchNo
    batchNo += 1
    rec.op("micro_batch") {
      rec.span("streaming.StreamLakeIngest") {
        docsIn.addData(batches(b).map(_.id): _*)
        ingestQ.processAllAvailable()
      }
      val admitted = spark.read.parquet(s"$admittedDir/inc_b$b")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      rec.span("streaming.StreamShardLayout") {
        arcIn.addData(admitted.toSeq.sorted: _*)
        arcQ.processAllAvailable()
      }
      admittedTotal += admitted.size
      val plantedIds = batches(b).map(_.id).toSet -- expectedAdmitted(b)
      val gone = batches(b).map(_.id).toSet -- admitted
      planted += (gone & plantedIds).size
      removed += gone.size
      admitted == expectedAdmitted(b)
    }
  }

  private def read(): Unit = {
    val epoch = roundNo.toLong
    roundNo += 1
    rec.op("consume", kind = "read") {
      val (pinned, rows) = rec.span("streaming.SequenceLake") {
        val mf = SequenceLake.pinEpoch(spark, seqLake,
          s"$root/lake/epochs/e$epoch", epoch)
        (mf, SequenceLake.consume(spark, seqLake, epoch, pinned = Some(mf))
          .select(col("shard"), col("seq"), col("ids"), col("spans"))
          .collect())
      }
      checkLake(rows, pinned)
    }
  }

  /** The lake holds exactly the admitted tokens of every closed shard
    * (all admitted documents but the open shard's), each document's
    * ids in order and followed by eos, and `consume` returned each
    * pinned sequence once. */
  private def checkLake(rows: Array[org.apache.spark.sql.Row],
      pinned: Sampling.EpochManifest): Boolean = {
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    // doc -> its fragments, keyed by (shard, seq, offset in the sequence)
    val frags = mutable.HashMap.empty[Long,
      mutable.ArrayBuffer[((Long, Long, Long), Seq[Long])]]
    rows.foreach { r =>
      val ids = r.getSeq[Long](2)
      r.getSeq[org.apache.spark.sql.Row](3).foreach { s =>
        val off = s.getLong(0).toInt
        val doc = s.getLong(1)
        val n = s.getLong(2).toInt
        val key = (r.getLong(0), r.getLong(1), off.toLong)
        frags.getOrElseUpdate(doc, mutable.ArrayBuffer.empty) +=
          (key -> ids.slice(off, off + n))
      }
    }
    val landed = frags.map { case (d, fs) =>
      d -> fs.sortBy(_._1).flatMap(_._2).toSeq }
    keys.distinct.length == keys.length &&
      keys.map(_._1).distinct.sorted.toSeq == pinned.shards &&
      landed.size == admittedTotal - ShardDocs &&
      landed.forall { case (d, ids) => refIds.get(d).contains(ids) }
  }

  override def counters: Map[String, Long] =
    Map("planted_removed" -> planted, "removed" -> removed)

  override def kernels(): Map[String, Double] =
    Corpus.kernelTimings(allDocs.toIndexedSeq)

  override def close(): Unit = {
    Seq(ingestQ, arcQ).foreach(q => if (q != null) q.stop())
  }
}

object TrainerArc {
  val FreshPerBatch = 136
  /** Planted documents of each kind (exact, near, semantic, contaminated)
    * per batch: 24 of 160, 15 %. */
  val Planted = 6
  val BatchDocs: Int = FreshPerBatch + 4 * Planted
  val HistDocs: Int = 4 * BatchDocs
  val BenchDocs = 8
  /** Documents per shard: a batch fills exactly two shards. */
  val ShardDocs = 68
  val SeqLen = 2048L
  /** Batches per poll cycle (one round). */
  val PollEvery = 2
}
