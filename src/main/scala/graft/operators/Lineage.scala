package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of materialized intermediates: every lineage cut and
  * every cache an operator takes goes through [[cut]] or [[keep]], and
  * is released by the [[Scope]] it was registered with.
  *
  * [[cut]] is lineage truncation for iterative (BSP) operators —
  * connected components and PageRank re-derive their state every round,
  * so without truncation the logical plan grows ~3x per round
  * (exponential treeString, driver OOM by round ~15). Two modes,
  * switched by `spark.graft.checkpoint.reliable`:
  *  - false (default): `localCheckpoint` — executor-local blocks, no
  *    distributed filesystem needed. Right for local[] runs and specs;
  *    on a real cluster a lost executor loses the blocks and fails the
  *    job (Spark cannot recompute past a truncated lineage).
  *  - true: reliable `checkpoint` to the directory named by
  *    `spark.graft.checkpoint.dir` (set this to HDFS/S3 on a cluster —
  *    the local-tmp fallback only makes specs self-contained). Survives
  *    executor loss: the 100 TB setting for any loop whose rounds are
  *    expensive enough that a restart-from-zero is unacceptable.
  * Both are eager, so call sites keep their materialize-now semantics
  * (convergence checksums read the materialized state). [[keep]] is the
  * lazy form: a `MEMORY_AND_DISK` persist that the first consumer fills.
  *
  * OWNERSHIP: both register the frame with the innermost [[scope]] open
  * on the calling thread, or with the session-wide root scope when none
  * is. A scope frees everything registered inside it when it exits,
  * normally or by exception, so a frame can never be freed before the
  * last reader in its scope — open scopes only at unit-of-work
  * boundaries (one streamed micro-batch), never around a frame that is
  * returned out of them. The root scope is released by
  * [[releaseRoot]] (`Dedup.releaseIntermediates`/
  * `Graph.releaseIntermediates`, between queries); it never touches a
  * frame of a scope that is still open. [[DriverPool]] jobs register
  * with the scope of the thread that submitted them. */
object Lineage {
  val ReliableConf = "spark.graft.checkpoint.reliable"
  val DirConf = "spark.graft.checkpoint.dir"

  /** The frames one unit of work materialized, freed together by
    * [[release]]. Thread-safe: driver-pool jobs register concurrently
    * with their caller. */
  final class Scope private[Lineage] () {
    private val frames = scala.collection.mutable.Set.empty[DataFrame]
    private[Lineage] def add(df: DataFrame): Unit =
      synchronized(frames += df)
    private[Lineage] def remove(df: DataFrame): Unit =
      synchronized(frames -= df)
    private[Lineage] def release(): Unit =
      synchronized { val all = frames.toList; frames.clear(); all }
        .foreach(freeStorage)
  }

  private val root = new Scope
  private val open = new ThreadLocal[Scope]

  /** The innermost scope open on this thread (the root when none is). */
  private[graft] def current: Scope = Option(open.get).getOrElse(root)

  /** Run `body` with `s` as this thread's scope — how [[DriverPool]]
    * hands its caller's scope to a pool thread. */
  private[graft] def within[A](s: Scope)(body: => A): A = {
    val prev = open.get
    open.set(s)
    try body finally open.set(prev)
  }

  /** Run `body` in a fresh scope and free every frame registered in it
    * on exit, including an exit by exception. Returns nothing, so no
    * frame of the scope can outlive it by being returned. */
  def scope(body: => Unit): Unit = {
    val s = new Scope
    try within(s)(body) finally s.release()
  }

  /** Free every frame registered with the root scope. */
  private[graft] def releaseRoot(): Unit = root.release()

  private def register(df: DataFrame): DataFrame = { current.add(df); df }

  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableConf).exists(_.toBoolean)
    register(if (reliable) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(spark.conf.getOption(DirConf).getOrElse(
          sys.props("java.io.tmpdir") + "/graft-checkpoints"))
      df.checkpoint()
    } else df.localCheckpoint())
  }

  /** Cache `df` (`MEMORY_AND_DISK`, filled lazily by its first
    * consumer) for the lifetime of the current scope. A plan that is
    * cached already — by the caller, or by a frame kept earlier — is
    * returned as it is and not registered: `Dataset.unpersist` matches
    * by plan, so releasing it here would drop its owner's cache. */
  def keep(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** The bytes a frame returned by [[cut]] holds in executor storage,
    * when it is a local cut: its real size, where the optimizer's
    * estimate of a cut is its plan's (upstream joins can inflate that
    * past any bound). None for a reliable cut or any other frame. */
  private[graft] def cutBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** Release one SUPERSEDED frame before its scope ends (the iterative
    * loops' previous round) and drop it from the current scope. Only
    * call once every consumer has materialized: a freed cut frame
    * cannot be recomputed (lineage is truncated by design). */
  def free(df: DataFrame): Unit = {
    current.remove(df)
    freeStorage(df)
  }

  /** Release the storage behind a frame returned by [[cut]] (plus any
    * plain cache on it). `Dataset.unpersist` alone is a NO-OP on cut
    * frames — CacheManager never registered them; the blocks belong to
    * the checkpointed RDD inside the plan's `LogicalRDD` leaf, and in
    * reliable mode each cut also leaves checkpoint FILES that Spark
    * never deletes (`spark.cleaner.referenceTracking.cleanCheckpoints`
    * is off by default). Safe on non-cut frames — they fall through to
    * the plain unpersist: the checkpoint reclaim fires ONLY when the
    * analyzed plan IS the LogicalRDD leaf (i.e. the exact frame [[cut]]
    * returned). A derived frame is never walked for upstream leaves —
    * an input built over a caller-owned live checkpoint must not have
    * that checkpoint destroyed out from under the caller. */
  private def freeStorage(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { dir =>
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch {
            // NonFatal only: an interrupt or OOM must propagate; a
            // failed delete is a discoverable leak, so name the path.
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"graft.Lineage.free: leaked checkpoint dir $dir " +
                  s"(${e.getClass.getSimpleName}: ${e.getMessage})")
          }
        }
      case _ => ()
    }
  }
}
