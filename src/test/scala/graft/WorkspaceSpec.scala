package graft

import java.io.File
import java.nio.file.Path
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The checkout root, per-JVM scratch space and build-once memo. */
class WorkspaceSpec extends AnyFunSuite {

  private def key(tag: String) = (s"WorkspaceSpec-$tag", System.nanoTime())

  test("root is the checkout: it holds build.sbt and the committed store") {
    info(s"root = ${Workspace.root}")
    assert(new File(Workspace.root, "build.sbt").isFile)
    assert(new File(Workspace.root, "data/wikidata").isDirectory)
    assert(ingest.WikidataIngest.defaultDir === s"${Workspace.root}/data/wikidata")
  }

  test("memo runs one build when 8 threads race on one key") {
    val (k, builds, start) = (key("race"), new AtomicInteger(), new CountDownLatch(1))
    val got = new ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      got.add(Workspace.memo(k) { builds.incrementAndGet(); Thread.sleep(50); new Object })
    }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(30000))
    assert(builds.get() === 1)
    assert(got.size === 8 && got.asScala.toSet.size === 1)
  }

  test("memo retries after a failed build") {
    val (k, builds) = (key("retry"), new AtomicInteger())
    intercept[IllegalStateException] {
      Workspace.memo(k) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Workspace.memo(k) { builds.incrementAndGet(); "built" } === "built")
    assert(Workspace.memo(k) { builds.incrementAndGet(); "again" } === "built")
    assert(builds.get() === 2)
  }

  test("a build may call memo for another key") {
    val (outer, inner) = (key("outer"), key("inner"))
    assert(Workspace.memo(outer) { Workspace.memo(inner)(20) + 1 } === 21)
    assert(Workspace.memo(inner)(0) === 20)
  }

  test("scratch dirs share one parent, which the shutdown hook deletes") {
    val a = Path.of(Workspace.scratch("graft-ws-a"))
    val b = Path.of(Workspace.scratch("graft-ws-b"))
    assert(a.toFile.isDirectory && b.toFile.isDirectory && a != b)
    assert(a.getParent === b.getParent)
    // a child JVM fills a scratch dir and exits; its hook must leave no
    // trace of its parent
    val proc = new ProcessBuilder(Path.of(sys.props("java.home"), "bin", "java").toString,
      "-Xmx64m", s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}",
      "-cp", sys.props("java.class.path"), "graft.WorkspaceSpec")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    assert(proc.waitFor(60, TimeUnit.SECONDS) && proc.exitValue() === 0, out)
    val childParent = Path.of(out.linesIterator.toSeq.last).getParent
    assert(childParent.getFileName.toString.startsWith("graft-"), out)
    assert(!childParent.toFile.exists(), s"$childParent survived its JVM")
  }
}

/** The child JVM of the shutdown-hook test: prints one filled scratch dir. */
object WorkspaceSpec {
  def main(args: Array[String]): Unit = {
    val dir = Workspace.scratch("graft-ws-child")
    java.nio.file.Files.writeString(Path.of(dir, "f.txt"), "x")
    println(dir)
  }
}
