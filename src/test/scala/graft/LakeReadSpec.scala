package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.LakeRead

/** [[LakeRead.parquet]] is `spark.read.parquet` minus the
  * schema-inference job: for every shape of lake read the engine makes
  * (flat artifact, multi-increment union, `shard=N` partitioned
  * increment, `base_v<k>` pointer generation) the frame equals the
  * plain read in column names, order, types and rows; errors and
  * metadata-free files fall back to the plain read; and building the
  * plan runs no Spark job where the plain read runs one. */
class LakeReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lakeread_$tag").toString

  private def assertSameRead(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*)
    val got = LakeRead.parquet(spark, paths: _*)
    assert(got.schema == want.schema)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  test("flat artifact: same columns, types and rows as the plain read") {
    val d = s"${tmp("flat")}/vocab"
    Seq((1L, "a", true, Seq(1L, 2L), 0.5), (2L, "b", false, Seq(), 1.5))
      .toDF("token_id", "token", "is_base", "ids", "w")
      .withColumn("span", struct(col("token_id").as("start"),
        col("w").as("weight")))
      .repartition(2).write.parquet(d)
    assertSameRead(d)
  }

  test("multi-path read (the visible-increments shape)") {
    val root = tmp("multi")
    Seq((1L, "x")).toDF("id", "h").write.parquet(s"$root/base")
    Seq((2L, "y"), (3L, "z")).toDF("id", "h")
      .write.parquet(s"$root/inc_b0")
    // an empty increment still writes a schema-only file
    Seq.empty[(Long, String)].toDF("id", "h")
      .write.parquet(s"$root/inc_b1")
    assertSameRead(s"$root/base", s"$root/inc_b0", s"$root/inc_b1")
    assertSameRead(s"$root/inc_b1", s"$root/base")
  }

  test("shard=N partitioned increment keeps the discovered partition " +
      "column, in place and type") {
    val d = s"${tmp("part")}/layout/inc_b0"
    Seq((1L, 3L, 0, 0L), (2L, 4L, 0, 3L), (3L, 5L, 1, 0L))
      .toDF("doc_id", "n_tokens", "shard", "offset")
      .write.partitionBy("shard").parquet(d)
    assertSameRead(d)
    assert(LakeRead.parquet(spark, d).columns.last == "shard")
  }

  test("pointer-generation base_v<k> directory of a compacted layout") {
    val root = tmp("basev")
    val docs = (0L until 30L).map(i => (i, 4L)).toDF("doc_id", "n_tokens")
    graft.streaming.StreamShardLayout.initLayout(spark, root)
    (0L until 3L).foreach { b =>
      graft.streaming.StreamShardLayout.appendIncrement(
        docs.where(col("doc_id") >= b * 10 && col("doc_id") < (b + 1) * 10),
        root, "doc_id", "n_tokens", shardWeight = 16L, batchId = b)
    }
    graft.streaming.StreamShardLayout.compactLayoutIsolated(spark, root)
    val base = new java.io.File(s"$root/layout").listFiles()
      .map(_.getName).filter(_.startsWith("base_v"))
    assert(base.nonEmpty, "compaction left no base_v<k> generation")
    assertSameRead(s"$root/layout/${base.max}")
    assertSameRead(s"$root/manifest/${base.max}")
    graft.operators.Dedup.releaseIntermediates()
  }

  test("a _SUCCESS-only or missing directory raises what the plain " +
      "read raises") {
    val root = tmp("empty")
    val d = new java.io.File(s"$root/inc_b0")
    d.mkdirs()
    new java.io.File(d, "_SUCCESS").createNewFile()
    for (p <- Seq(d.toString, s"$root/nope")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](LakeRead.parquet(spark, p))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
    assert(LakeRead.ifData(spark, d.toString).isEmpty)
  }

  test("rows: meta, manifest, cursor and DSIR-model tables read on " +
      "the driver equal the plain collect, with no Spark job") {
    import graft.operators.{Curation, Sampling}
    val root = tmp("rows")
    val ids = (0L until 6L).flatMap(d => (1L to 3L).map(p =>
      (d, p, (d * 10 + p).toString))).toDF("doc_id", "pos", "token")
    Sampling.writeSequences(Sampling.packSequences(
      Sampling.packTokens(ids, seqLen = 4L)), s"$root/seqs")
    val seqs = (for (sh <- 0L to 2L; q <- 0L to 1L) yield (sh, q))
      .toDF("shard", "seq")
    Sampling.writeEpochManifest(seqs, s"$root/mf", epoch = 3L)
    Sampling.writeLoaderCursor(spark, s"$root/cur",
      Sampling.LoaderCursor(3L, 2L, 1L))
    graft.streaming.StreamShardLayout.initLayout(spark, s"$root/layout")
    Curation.writeDsirModel(
      Seq(("a b c", true), ("b c d", false)).toDF("text", "t"),
      "text", col("t"), buckets = 16, salt = "s", path = s"$root/dsir")
    val tables = Seq(s"$root/seqs/sequences_meta", s"$root/mf",
      s"$root/cur/cursor_v1", s"$root/layout/cursor/cursor_init",
      s"$root/dsir")
    for (t <- tables) {
      val want = spark.read.parquet(t)
      val wantRows = want.collect().toSeq
      var got = Seq.empty[org.apache.spark.sql.Row]
      assert(jobsDuring { got = LakeRead.rows(spark, t) } == 0, t)
      assert(got.nonEmpty, t)
      got.foreach(r => assert(r.schema == want.schema, t))
      // same rows in the same order (one file each but the DSIR model's
      // dense buckets; compare as written, then as multisets)
      assert(got.map(_.toString).sorted == wantRows.map(_.toString).sorted,
        t)
      assert(got.toSet == wantRows.toSet, t)
    }
    // the control readers built on it agree with what was written
    assert(jobsDuring {
      assert(Sampling.readEpochManifest(spark, s"$root/mf").shards ==
        Seq(0L, 1L, 2L))
      assert(Sampling.readLoaderCursor(spark, s"$root/cur")
        .contains(Sampling.LoaderCursor(3L, 2L, 1L)))
    } == 0)
    graft.operators.Dedup.releaseIntermediates()
  }

  test("rows: a multi-file table with nested and decimal columns " +
      "equals the plain collect; a partitioned table falls back") {
    val root = tmp("rowsmulti")
    val df = Seq((1L, "a", Seq(1L, 2L), BigDecimal("12345678901234567890"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05")),
      (2L, null, Seq(), BigDecimal(0), null),
      (3L, "c", null, null, java.sql.Timestamp.valueOf("1999-12-31 23:59:59")))
      .toDF("id", "s", "ids", "d", "ts")
      .withColumn("st", struct(col("id").as("k"), col("s").as("v")))
    df.repartition(3).write.parquet(s"$root/flat")
    val want = spark.read.parquet(s"$root/flat")
    var got = Seq.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { got = LakeRead.rows(spark, s"$root/flat") } == 0)
    assert(got.head.schema == want.schema)
    assert(got.toSet == want.collect().toSet)
    assert(got.length == 3)
    df.write.partitionBy("id").parquet(s"$root/part")
    assert(LakeRead.rows(spark, s"$root/part").toSet ==
      spark.read.parquet(s"$root/part").collect().toSet)
  }

  test("rows: a _SUCCESS-only or missing directory raises what the " +
      "plain read raises") {
    val root = tmp("rowsempty")
    val d = new java.io.File(s"$root/inc_b0")
    d.mkdirs()
    new java.io.File(d, "_SUCCESS").createNewFile()
    for (p <- Seq(d.toString, s"$root/nope")) {
      val want = intercept[Exception](spark.read.parquet(p).collect())
      val got = intercept[Exception](LakeRead.rows(spark, p))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
  }

  test("a parquet file without Spark row metadata falls back to the " +
      "plain read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = s"${tmp("foreign")}/t"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary s (STRING); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i => w.write(f.newGroup().append("id", i)
      .append("s", s"v$i")))
    finally w.close()
    assertSameRead(d)
    // the fallback IS the plain read, inference job included
    assert(jobsDuring(LakeRead.parquet(spark, d)) == 1)
  }

  test("building the plan runs no Spark job; the plain read runs one") {
    val root = tmp("jobs")
    Seq((1L, "x"), (2L, "y")).toDF("id", "h").write.parquet(s"$root/flat")
    Seq((1L, 0), (2L, 1)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(s"$root/part")
    for (p <- Seq(s"$root/flat", s"$root/part")) {
      assert(jobsDuring(
        LakeRead.parquet(spark, p).queryExecution.executedPlan) == 0)
      assert(jobsDuring(spark.read.parquet(p)) == 1)
    }
  }

  test("every lake read in graft.operators and graft.streaming goes " +
      "through LakeRead") {
    val stray = "read\\s*\\.\\s*parquet\\s*\\(".r
    val offenders = Seq("operators", "streaming").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"$dir not found")
      dir.listFiles().toSeq
        .filter(f => f.getName.endsWith(".scala") &&
          f.getName != "LakeRead.scala")
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
          stray.findAllMatchIn(src).map { m =>
            s"${f.getName}:${src.substring(0, m.start).count(_ == '\n') + 1}"
          }
        }
    }
    assert(offenders.isEmpty,
      s"read lake artifacts with LakeRead.parquet: ${offenders.mkString(", ")}")
  }

  /** Offsets of the `LakeRead.parquet(` calls in `src` whose frame
    * reaches a `.collect()`: the call chain that follows it, and, when
    * the call is an argument or a block's last expression, the chain
    * of the enclosing expression (a `map(LakeRead.parquet(..))` or
    * `map { .. LakeRead.parquet(..) }` whose result is collected).
    * String literals and comments are skipped. */
  private def collectedReads(src: String): Seq[Int] = {
    val n = src.length
    // index just past the literal or comment starting at i, else i
    def skipLiteral(i: Int): Int =
      if (src.startsWith("\"\"\"", i)) src.indexOf("\"\"\"", i + 3) + 3
      else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        j + 1
      } else if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i); if (e < 0) n else e
      } else if (src.startsWith("/*", i)) src.indexOf("*/", i) + 2
      else i
    // index just past the bracket group opening at i
    def skipGroup(i: Int): Int = {
      var depth = 0; var j = i
      while (j < n) {
        val k = skipLiteral(j)
        if (k != j) j = k
        else {
          if ("([{".contains(src(j))) depth += 1
          else if (")]}".contains(src(j))) {
            depth -= 1
            if (depth == 0) return j + 1
          }
          j += 1
        }
      }
      n
    }
    def skipSpace(i: Int): Int = {
      var j = i
      while (j < n && src(j).isWhitespace) j += 1
      j
    }
    // follow `.name(args)` / `.name { .. }` / `.name` links from i;
    // true when one is `collect`, or when the enclosing expression's
    // chain reaches one
    def reaches(i0: Int): Boolean = {
      var i = skipSpace(i0)
      while (i < n && src(i) == '.') {
        val start = skipSpace(i + 1)
        var j = start
        while (j < n && (src(j).isLetterOrDigit || src(j) == '_')) j += 1
        if (src.substring(start, j) == "collect") return true
        i = skipSpace(j)
        while (i < n && (src(i) == '(' || src(i) == '{'))
          i = skipSpace(skipGroup(i))
      }
      if (i < n && (src(i) == ')' || src(i) == '}' || src(i) == ',')) {
        // inside an argument list or block: climb to its close
        var depth = 0; var j = i
        while (j < n && depth >= 0) {
          val k = skipLiteral(j)
          if (k != j) j = k
          else {
            if ("([{".contains(src(j))) depth += 1
            else if (")]}".contains(src(j))) depth -= 1
            j += 1
          }
        }
        if (src(j - 1) == '}' && src(i) == ',') false
        else reaches(j)
      } else false
    }
    val call = "LakeRead.parquet("
    val calls = Seq.newBuilder[Int]
    var j = 0
    while (j < n) {
      val k = skipLiteral(j)
      if (k != j) j = k
      else {
        if (src.startsWith(call, j)) calls += j
        j += 1
      }
    }
    calls.result().filter(i => reaches(skipGroup(i + call.length - 1)))
  }

  test("the collect guard finds collects chained onto a lake read, " +
      "directly or through the enclosing expression") {
    val hit = Seq(
      "LakeRead.parquet(spark, p).collect()",
      "LakeRead.parquet(spark, s\"$p/m\")\n  .select(col(\"a\")).collect()",
      "LakeRead.parquet(spark, p).orderBy(\"b\")\n  .collect().map(f)",
      "dirs.map(LakeRead.parquet(spark, _)).reduce(_.union(_))\n" +
        "  .agg(sum(c)).collect().head",
      "paths.map { p =>\n  LakeRead.parquet(spark, p).select(c)\n}" +
        ".reduce(_.unionByName(_)).collect()")
    val miss = Seq(
      "LakeRead.parquet(spark, p).count()",
      "val df = LakeRead.parquet(spark, p)\nother.collect()",
      "LakeRead.rows(spark, p)",
      "f(LakeRead.parquet(spark, p), \")\".length).collect()",
      "// LakeRead.parquet(spark, p).collect()\nx.collect()")
    hit.foreach(src => assert(collectedReads(src).nonEmpty, src))
    miss.take(3).foreach(src => assert(collectedReads(src).isEmpty, src))
    assert(collectedReads(miss(4)).isEmpty, miss(4))
  }

  test("control reads in graft.operators and graft.streaming stay on " +
      "LakeRead.rows: no collect() on a LakeRead.parquet frame but the " +
      "allowed bounded data reads") {
    // (file, text inside the call) -> why its collect stays
    val allowed = Map(
      ("Similarity.scala", "/codebook") ->
        "the codebook is data: nlist centroid vectors, sorted on the driver",
      ("Tokenizer.scala", "/vocab\"") ->
        "the vocabulary itself and its max id: up to 2^21 rows",
      ("Tokenizer.scala", "/merges") ->
        "the merge list is data: up to 65,536 ordered rows",
      ("StreamShardLayout.scala", "spark, _") ->
        ("a shard-range sum over the layout manifests, which hold every " +
          "landed doc id: a driver read would grow with the corpus"))
    val found = Seq("operators", "streaming").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
          collectedReads(src).map { i =>
            val args = src.substring(i, src.indexOf(')', i))
            val key = allowed.keys.find { case (file, text) =>
              file == f.getName && args.contains(text) }
            (s"${f.getName}:${src.substring(0, i).count(_ == '\n') + 1}",
              key)
          }
        }
    }
    val offenders = found.collect { case (at, None) => at }
    assert(offenders.isEmpty,
      "read control records with LakeRead.rows (or allow a bounded " +
        s"data read here, with its reason): ${offenders.mkString(", ")}")
    // every allow-list entry still names a live read
    val used = found.flatMap(_._2).toSet
    assert(allowed.keySet == used,
      s"stale allow-list entries: ${allowed.keySet -- used}")
  }
}
