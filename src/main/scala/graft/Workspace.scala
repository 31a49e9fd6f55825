package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** Where the tree is, where scratch space lives, and how build-once
  * works. [[root]] is the working directory, which sbt's forked tests
  * and `runMain` set to the project base dir, so `data/` resolves in
  * whichever checkout runs. [[scratch]] dirs share one per-JVM parent,
  * made on first use and deleted by one shutdown hook — never earlier,
  * so no [[memo]] can hand back a deleted dir.
  */
object Workspace {

  val root: String = new File(sys.props("user.dir")).getAbsolutePath

  private lazy val scratchParent: Path = {
    val p = Files.createTempDirectory("graft-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p.toFile)))
    p
  }

  /** A fresh directory `<prefix>…` under this JVM's scratch parent. */
  def scratch(prefix: String): String =
    Files.createTempDirectory(scratchParent, prefix).toString

  /** Recursive delete (a file that cannot be deleted is left behind). */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private final class Cell { var value: Option[Any] = None }
  private val cells = new ConcurrentHashMap[Any, Cell]()

  /** `build`'s result for `key`, built once per JVM: racing callers wait
    * for one build, a build that throws is not cached (the next call
    * retries), and a build may call `memo` for another key.
    */
  def memo[A](key: Any)(build: => A): A = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      if (cell.value.isEmpty) cell.value = Some(build)
      cell.value.get.asInstanceOf[A]
    }
  }
}
