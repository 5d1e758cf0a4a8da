package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The INCREMENT-LAKE directory format — the one owner of every name
  * and rule the streaming lakes share: the hash/signature lakes
  * ([[StreamLakeIngest]]), the shard layout's `layout/`, `manifest/`
  * and `tokens/` families ([[StreamShardLayout]]) and the sequence
  * lake ([[SequenceLake]]). One lake root holds:
  * {{{
  *   inc_b<k>/                  the increment of batch (or poll) k
  *   base/                      a listing-mode base (initLake's, or a
  *                              lake folded before the pointer existed)
  *   base_v<k>/                 folded generation k
  *   _live_v<k>                 pointer k: "base_v<k>\n<max folded k>\n"
  *   _compact/                  the staged fold of the next generation
  *   _compact/_compacted_dirs   its manifest (written last)
  * }}}
  * Every write is batch-id-derived, so a replayed batch rewrites its
  * own increment; every read resolves the LIVE SET ([[live]]). */
private[graft] object LakeDir {

  private val IncPrefix = "inc_b"
  private val PointerPrefix = "_live_v"
  private val Manifest = "_compacted_dirs"
  private val ShardPrefix = "shard="

  def incName(k: Long): String = s"$IncPrefix$k"

  /** Directory of increment `k` under `root`. */
  def inc(root: String, k: Long): String = s"$root/${incName(k)}"

  private def incId(name: String): Option[Long] =
    if (name.startsWith(IncPrefix))
      Some(name.stripPrefix(IncPrefix).toLong)
    else None

  private def baseName(v: Long): String = s"base_v$v"

  private def pointerVersion(name: String): Option[Long] =
    if (name.startsWith(PointerPrefix))
      Some(name.stripPrefix(PointerPrefix).toLong)
    else None

  /** The newest `_live_v<version>` pointer: the live base generation
    * and the largest increment id folded into it. */
  private case class LivePointer(version: Long, base: String,
      maxFolded: Long)

  /** The non-empty lines of a small text file; None when absent. */
  private def readLines(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList)
      finally in.close()
    }

  private def writeLines(fs: FileSystem, p: Path,
      lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def pointerIn(fs: FileSystem, root: Path,
      entries: Array[FileStatus]): Option[LivePointer] = {
    val versions = entries.flatMap(e => pointerVersion(e.getPath.getName))
    if (versions.isEmpty) None
    else {
      val v = versions.max
      val lines = readLines(fs, new Path(root, s"$PointerPrefix$v"))
        .getOrElse(Nil)
      require(lines.length >= 2,
        s"$root/$PointerPrefix$v is not a (base, maxFolded) pointer")
      Some(LivePointer(v, lines.head, lines(1).toLong))
    }
  }

  /** Names of the live set, sorted: with a pointer, its base plus every
    * increment newer than the folded ones; without one (listing mode),
    * `base` plus every increment. `base_v*` names are visible through
    * their pointer only, so a reader racing the first compaction's
    * rename-then-point window never counts a generation twice. */
  private def liveNames(entries: Array[FileStatus],
      pointer: Option[LivePointer], except: Option[Long]): Seq[String] = {
    val dirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .toSeq
    val incs = dirs.flatMap(incId).filterNot(except.contains)
    (pointer match {
      case Some(lp) =>
        lp.base +: incs.filter(_ > lp.maxFolded).map(incName)
      case None     => dirs.filter(_ == "base") ++ incs.map(incName)
    }).sorted
  }

  /** The live directories of the lake at `root` (empty when `root` does
    * not exist), leaving out increment `except` — a batch reads the
    * lake without its own earlier attempt's writes. */
  def live(fs: FileSystem, root: Path,
      except: Option[Long] = None): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else {
      val entries = fs.listStatus(root)
      liveNames(entries, pointerIn(fs, root, entries), except)
        .map(n => s"$root/$n")
    }

  /** The shard ids named by the `shard=N` partition directories
    * directly under `dirs` — filesystem metadata only, no data file
    * opened. */
  def shards(fs: FileSystem, dirs: Seq[String]): Seq[Long] =
    dirs.flatMap { d =>
      fs.listStatus(new Path(d)).filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith(ShardPrefix) =>
          n.stripPrefix(ShardPrefix).toLong }
    }

  /** Reader-isolated compaction: fold the live set, except its newest
    * increment, into the next base generation. `readDirs` reads and
    * unions the folded directories; `writeTo` writes the fold to the
    * staging path. A lake whose live set holds fewer than two
    * directories has nothing to fold and is left as it is; a `dir`
    * that does not exist raises.
    *
    *  - the newest increment stays out: it may belong to a batch that
    *    will be replayed, and a replay reads the lake without its own
    *    increment, so folding it into a base would show the replay its
    *    own first attempt;
    *  - the fold is staged in `_compact` with a manifest of the folded
    *    names written last, then renamed into `base_v<k+1>` beside the
    *    live dirs; one creation of `_live_v<k+1>` (naming the generation
    *    and the largest folded increment id) swaps readers over;
    *  - nothing is deleted at promote. The dirs a promote retires (the
    *    old generation and the folded increments) and the superseded
    *    pointers are reaped at the start of the NEXT compaction, so a
    *    reader that resolved the old pointer keeps a consistent lake
    *    for a whole compaction interval;
    *  - visibility is by increment id, not by listing, so increments
    *    landing during the staged fold are never hidden and a staged
    *    fold is never stale. Crash-resume is "finish the promote": a
    *    manifest in `_compact`, or one that rode along into an orphaned
    *    `base_v<k+1>` (a crash between the rename and the pointer), is
    *    promoted as it stands. Every step is idempotent on a rerun.
    *
    * Run it between batches (one maintainer per lake). */
  def compact(spark: SparkSession, dir: String,
      readDirs: Seq[String] => DataFrame,
      writeTo: (DataFrame, String) => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      throw new java.io.FileNotFoundException(s"$dir holds no lake")
    // one listing and one pointer read serve the live set and the reap:
    // nothing below writes before the reap has run
    val entries = fs.listStatus(path)
    val prior = pointerIn(fs, path, entries)
    val liveSet = liveNames(entries, prior, None)
    if (liveSet.length < 2) return
    val staging = new Path(path, "_compact")
    val manifest = new Path(staging, Manifest)
    // 1. REAP what the previous promote retired
    prior.foreach { lp =>
      entries.map(_.getPath).foreach { p =>
        val n = p.getName
        val retiredDir = !n.startsWith("_") && !n.startsWith(".") &&
          n != lp.base && !incId(n).exists(_ > lp.maxFolded)
        val oldPointer = pointerVersion(n).exists(_ < lp.version)
        if (retiredDir || oldPointer)
          try fs.delete(p, true) catch { case NonFatal(_) => () }
      }
    }
    // 2. STAGE, unless a completed fold waits in _compact or in an
    // orphaned next generation
    val nextV = prior.map(_.version + 1).getOrElse(1L)
    val target = new Path(path, baseName(nextV))
    def pending(): Option[Seq[String]] =
      readLines(fs, new Path(target, Manifest))
        .orElse(readLines(fs, manifest))
    if (pending().isEmpty) {
      fs.delete(staging, true)
      val newest = liveSet.flatMap(incId).maxOption
      val folded =
        liveSet.filterNot(n => incId(n).exists(newest.contains))
      // only the live base left to fold: a no-op, not base->base churn
      if (prior.exists(lp => folded == Seq(lp.base))) return
      writeTo(readDirs(folded.map(n => s"$dir/$n")), staging.toString)
      writeLines(fs, manifest, folded)
    }
    // 3. PROMOTE: rename into the next generation (skipped when resuming
    // an orphaned one), then one pointer-file creation swaps readers
    val recorded = pending().get
    if (!fs.exists(target))
      require(fs.rename(staging, target),
        s"isolated compaction swap failed for $dir — staging left at " +
          staging)
    val maxFolded =
      (recorded.flatMap(incId) ++ prior.map(_.maxFolded) :+ -1L).max
    val pointer = new Path(path, s"$PointerPrefix$nextV")
    if (!fs.exists(pointer))
      writeLines(fs, pointer, Seq(baseName(nextV), maxFolded.toString))
  }

  /** Newest `<prefix>_b<k>` subdir of `dir` with k < batchId, else the
    * init snapshot `<initName>` (default `<prefix>_init`); prunes
    * versions older than the returned one, plus the init snapshot once
    * any version exists (a replay is only ever of THIS batch or later,
    * and those read the returned snapshot or newer). The one
    * snapshot-selection rule of the versioned families: keepers, DSIR
    * models, budget ledgers and the shard layout's weight cursor. */
  def versionBefore(spark: SparkSession, dir: String, prefix: String,
      batchId: Long, initName: String = null): String = {
    val init = Option(initName).getOrElse(s"${prefix}_init")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith(s"${prefix}_b") =>
        s.stripPrefix(s"${prefix}_b").toLong }
      .filter(_ < batchId)
    if (versions.isEmpty) s"$dir/$init"
    else {
      versions.filter(_ < versions.max).foreach { k =>
        try fs.delete(new Path(s"$dir/${prefix}_b$k"), true)
        catch { case NonFatal(_) => () }
      }
      try fs.delete(new Path(s"$dir/$init"), true)
      catch { case NonFatal(_) => () }
      s"$dir/${prefix}_b${versions.max}"
    }
  }
}
