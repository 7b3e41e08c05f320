package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.FileUtil

/** The one owner of scratch space. Everything the engine writes for
  * itself lives under a per-JVM [[root]] in `java.io.tmpdir`, which a
  * shutdown hook deletes, so a long-lived session (the JobServer)
  * cannot fill the disk. Directories come in two lifetimes:
  *
  *  - [[withDir]]: removed when its block exits — for queries whose
  *    result is collected (or built from local rows) inside the block;
  *  - [[memo]]: build-once directories for immutable per-JVM fixtures
  *    (`Memo`, `LakeFixtures`, the streaming input stages).
  *
  * Streaming checkpoints ([[withCheckpoint]]) go to RAM-backed
  * `/dev/shm` when it is writable: a bounded replay's checkpoint has
  * no recovery value but pays disk I/O every micro-batch.
  *
  * Persisted frames are not scratch. An operator that returns a lazy
  * frame over persisted frames leaves them in Spark's CacheManager,
  * where a repeated call with the same plan finds them again, until
  * the runner clears the cache: Bench, Verify and `tools/Probe` do so
  * before each row. An operator that collects inside the call
  * unpersists what it persisted before it returns. */
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
