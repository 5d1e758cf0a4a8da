package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeMergeTable, SortedIntersectCount, VectorDot,
  WordShingles}

/** One generated document. `vec` is its unit embedding. */
final case class Doc(id: Long, text: String, vec: Array[Double],
    source: String)

/** The generated document corpus of `trainer_arc`.
  *
  * Every document has exactly [[WordsPerDoc]] words in a fixed pattern:
  * three content words, each two consonant-vowel syllables (`kamo`),
  * then one English stopword. Under [[Merges]] (every syllable, then the
  * stopwords) a content word is exactly two BPE tokens and a stopword
  * one, so every document is [[TokensPerDoc]] tokens whatever the seed.
  * Random documents share no 3-word shingle, no 50-character window and
  * no embedding direction, and all pass the quality and language
  * filters, so exactly the planted documents are removed:
  *  - exact duplicates: the text of an original;
  *  - near duplicates: an original with its last content word changed
  *    (word 3-shingle Jaccard about 0.95);
  *  - semantic duplicates: fresh text, the original's embedding plus
  *    noise (cosine about 0.999);
  *  - contaminated: fresh text carrying 16 words (over 50 characters)
  *    of a benchmark document. */
object Corpus {
  val Consonants = "bklmprvz"
  val Vowels = "aeiou"
  val Syllables: IndexedSeq[String] =
    for (c <- Consonants; v <- Vowels) yield s"$c$v"
  val Stopwords = IndexedSeq("the", "of", "and", "is", "a")
  val WordsPerDoc = 64
  val TokensPerDoc: Int = WordsPerDoc / 4 * 3 * 2 + WordsPerDoc / 4
  val Dim = 64
  /** A BPE model, learning order: syllables, then the stopwords. */
  val Merges: Seq[(String, String)] =
    Syllables.map(s => (s.take(1), s.drop(1))) ++
      Seq(("t", "h"), ("th", "e"), ("o", "f"), ("a", "n"), ("an", "d"),
        ("i", "s"))

  /** The reference BPE pieces of a text under [[Merges]]. */
  def pieces(text: String): Seq[String] = text.split(" ").toSeq.flatMap {
    w => if (Stopwords.contains(w)) Seq(w) else w.grouped(2).toSeq }

  final class Gen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private var nextId = 0L

    private def word(pos: Int): String =
      if (pos % 4 == 3) Stopwords(rnd.nextInt(Stopwords.size))
      else Syllables(rnd.nextInt(Syllables.size)) +
        Syllables(rnd.nextInt(Syllables.size))

    private def words(): Array[String] =
      Array.tabulate(WordsPerDoc)(word)

    private def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }

    private def vec(): Array[Double] =
      unit(Array.fill(Dim)(gauss()))

    private def gauss(): Double = {
      // Box-Muller from the seeded stream
      val u = 1.0 - rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }

    private def doc(ws: Array[String], v: Array[Double]): Doc = {
      val id = nextId
      nextId += 1
      Doc(id, ws.mkString(" "), v, if (id % 2 == 0) "web" else "books")
    }

    def fresh(): Doc = doc(words(), vec())
    def exactDup(of: Doc): Doc = doc(of.text.split(" "), vec())
    def nearDup(of: Doc): Doc = {
      val ws = of.text.split(" ")
      var w = ws(WordsPerDoc - 2)
      while (w == ws(WordsPerDoc - 2)) w = word(WordsPerDoc - 2)
      ws(WordsPerDoc - 2) = w
      doc(ws, vec())
    }
    def semDup(of: Doc): Doc =
      doc(words(), unit(of.vec.map(_ + 0.003 * gauss())))
    def contaminated(bench: Doc): Doc = {
      val ws = words()
      Array.copy(bench.text.split(" "), 16, ws, 16, 16)
      doc(ws, vec())
    }
    /** A pick from `docs`, uniformly. */
    def pick(docs: IndexedSeq[Doc]): Doc = docs(rnd.nextInt(docs.size))
  }

  /** (doc_id, text, vec, source) rows. */
  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.vec.toSeq, d.source))
      .toDF("doc_id", "text", "vec", "source")
  }

  /** Input bytes of documents: text plus embedding. */
  def inputBytes(docs: Seq[Doc]): Long =
    docs.map(d => d.text.length.toLong + 8L * Dim).sum

  /** Direct timings of the native kernels on these documents, outside
    * Spark: best of five passes, in ns per KiB of input. */
  def kernelTimings(docs: IndexedSeq[Doc]): Map[String, Double] = {
    val texts = docs.map(d => UTF8String.fromString(d.text))
    val textKb = texts.map(_.numBytes()).sum / 1024.0
    val shingles = texts.map(t => WordShingles.compute(t, 3, distinct = true))
    val sorted = shingles.map { a =>
      new GenericArrayData(a.toArray[UTF8String](
        org.apache.spark.sql.types.StringType).sorted.map(_.asInstanceOf[Any]))
    }
    val sortedKb = sorted.map(a => (0 until a.numElements())
      .map(a.getUTF8String(_).numBytes()).sum).sum / 1024.0
    val table = new BpeMergeTable(Merges)
    val vecs =
      docs.map(d => new GenericArrayData(d.vec.map(_.asInstanceOf[Any])))
    val at = ArrayType(DoubleType, containsNull = false)
    val dot = VectorDot(Literal.create(null, at), Literal.create(null, at))
    val vecKb = docs.size * 2 * Dim * 8 / 1024.0
    var sink = 0L
    def best(kb: Double)(pass: => Unit): Double =
      (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        pass
        (System.nanoTime() - t0) / kb
      }.min
    val out = Map(
      "WordShingles" -> best(textKb) {
        texts.foreach(t => sink += WordShingles.compute(t, 3, false)
          .numElements())
      },
      "SortedIntersectCount" -> best(2 * sortedKb) {
        sorted.indices.foreach(i => sink += SortedIntersectCount.compute(
          sorted(i), sorted((i + 1) % sorted.size)))
      },
      "BpeEncode" -> best(textKb) {
        texts.foreach(t => sink += table.tokenize(t).length)
      },
      "VectorDot" -> best(vecKb) {
        vecs.indices.foreach(i => sink += dot.nullSafeEval(vecs(i),
          vecs((i + 1) % vecs.size)).asInstanceOf[Double].toLong)
      })
    require(sink != Long.MinValue)
    out
  }
}
