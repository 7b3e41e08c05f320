package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of scratch space. Everything the engine writes for
  * itself lives under a per-JVM [[root]] in `java.io.tmpdir`, which a
  * shutdown hook deletes, so a long-lived session (the JobServer)
  * cannot fill the disk. Directories come in three lifetimes:
  *
  *  - [[withDir]]: removed when its block exits — for queries whose
  *    result is collected (or built from local rows) inside the block;
  *  - [[generation]]: one live generation per `(op, session)` — for
  *    operators that return a LAZY frame over their directory or over
  *    persisted frames, so the scratch can only be released once the
  *    caller has moved on. Opening the next generation unpersists the
  *    previous one's frames and deletes its directory. Callers must be
  *    single-threaded per `(op, session)`: a concurrent action still
  *    reading the previous generation would lose its files;
  *  - [[memo]]: build-once directories for immutable per-JVM fixtures
  *    (`Memo`, `LakeFixtures`, the streaming input stages).
  *
  * Streaming checkpoints ([[withCheckpoint]]) go to RAM-backed
  * `/dev/shm` when it is writable: a bounded replay's checkpoint has
  * no recovery value but pays disk I/O every micro-batch. */
object Scratch {

  lazy val root: Path = owned(Paths.get(System.getProperty("java.io.tmpdir")))

  private lazy val checkpointRoot: Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) owned(shm.toPath) else root
  }

  /** A fresh per-JVM directory under `parent`, deleted at shutdown —
    * after Spark's own hooks (priority 40+) have stopped the context. */
  private def owned(parent: Path): Path = {
    val dir = Files.createTempDirectory(parent, "graft_scratch")
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => { FileUtil.fullyDelete(dir.toFile); () }, 20)
    dir
  }

  private def scoped[A](parent: Path, prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(parent, prefix)
    try body(dir.toString) finally FileUtil.fullyDelete(dir.toFile)
  }

  /** A fresh empty directory that is deleted when `body` exits. */
  def withDir[A](prefix: String)(body: String => A): A =
    scoped(root, prefix)(body)

  /** [[withDir]] for a streaming checkpoint, on `/dev/shm` when it is
    * writable. Durable pipelines (the lake sink, the restart-shape
    * queries) keep their checkpoint next to their data instead. */
  def withCheckpoint[A](name: String)(body: String => A): A =
    scoped(checkpointRoot, s"graft_ck_$name")(body)

  /** One call's scratch: its directory (made on first use) and the
    * persisted frames it [[hold]]s. */
  final class Generation private[Scratch] (key: String) {
    private val frames = new ConcurrentLinkedQueue[DataFrame]()
    private var made: Option[Path] = None

    def dir: String = synchronized {
      if (made.isEmpty) made = Some(Files.createTempDirectory(root, s"gen-$key-"))
      made.get.toString
    }

    def hold(dfs: DataFrame*): Unit = dfs.foreach(frames.add)

    private[Scratch] def release(): Unit = {
      frames.forEach { df =>
        try df.unpersist(blocking = false)
        catch { case _: Exception => () } // session already stopped
      }
      synchronized(made.foreach(p => FileUtil.fullyDelete(p.toFile)))
    }
  }

  private val live = new ConcurrentHashMap[String, Generation]()

  // per-session ids, minted here because SparkSession's own sessionUUID
  // is private[sql]: identity-keyed and weakly referenced, so a stopped
  // session's entry is collectable; unlike hashCode they cannot collide
  // across live sessions (two colliding sessions would release each
  // other's live generation)
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Open this call's generation for `op` on `session` and release the
    * previous call's. */
  def generation(op: String, session: SparkSession): Generation = {
    val id = sessionIds.computeIfAbsent(session,
      _ => java.util.UUID.randomUUID().toString)
    val key = s"$op@$id"
    val g = new Generation(key)
    val old = live.put(key, g)
    if (old != null) old.release()
    g
  }

  private val memos = TrieMap[String, String]()

  /** The JVM-lifetime directory for `key` in `space`: `build` fills a
    * fresh directory on the first call, later calls return it. `key`
    * must determine the content, and nothing may mutate it. Builds may
    * NEST (a fixture built from another), so this is a reentrant
    * double-checked lock rather than `computeIfAbsent`. */
  def memo(space: String, key: String)(build: String => Unit): String = {
    val k = s"$space|$key"
    memos.getOrElse(k, synchronized {
      memos.getOrElse(k, {
        val dir = Files.createTempDirectory(root, s"memo-$space-")
        try build(dir.toString)
        catch { case e: Throwable => FileUtil.fullyDelete(dir.toFile); throw e }
        memos.put(k, dir.toString)
        dir.toString
      })
    })
  }
}
