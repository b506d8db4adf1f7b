package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The artifact registry's lifecycle on a local temp dir: single-flight
  * builds, nested builds, retry after a failed build, self-heal of a
  * reaped or markerless target, a failed marker write surfacing, and a
  * build count that moves once per real build. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val roots = scala.collection.mutable.ListBuffer.empty[Path]

  override def afterAll(): Unit = roots.foreach(delete)

  private def fresh(): (Artifacts, Path) = {
    val root = Files.createTempDirectory("graft_artifacts_spec")
    roots += root
    (new Artifacts(root), root)
  }

  /** A build writing `content` into a one-file directory artifact; the
    * opened handle is (final path, content read back from it). */
  private def writing(content: String, calls: AtomicInteger)
      : String => String => (String, String) = { tmp =>
    calls.incrementAndGet()
    Files.createDirectories(Paths.get(tmp))
    Files.write(Paths.get(tmp, "data"), content.getBytes("UTF-8"))
    p => (p, new String(Files.readAllBytes(Paths.get(p, "data")), "UTF-8"))
  }

  private def delete(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("N threads asking for one key cause exactly one build") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val results = (0 until 8).map { _ =>
        pool.submit(() => {
          start.await()
          a("k", "/sf") { tmp =>
            Thread.sleep(50)
            writing("v", calls)(tmp)
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(calls.get == 1 && a.builds == 1)
      assert(values.distinct == Seq((a.pathOf("k", "/sf"), "v")))
    } finally pool.shutdownNow()
  }

  test("a build may ask for another artifact (nested build)") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    def base() = a("base", "/sf")(writing("b", calls))
    val derived = a("derived", "/sf") { tmp =>
      val (_, b) = base()
      writing(b + "+d", calls)(tmp)
    }
    assert(derived._2 == "b+d")
    assert(base()._2 == "b")
    assert(calls.get == 2 && a.builds == 2)
  }

  test("a build that throws is not memoized: the next call retries") {
    val (a, root) = fresh()
    val calls = new AtomicInteger()
    val err = intercept[IllegalStateException] {
      a("k", "/sf") { tmp =>
        writing("partial", calls)(tmp)
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom" && a.builds == 0)
    assert(a("k", "/sf")(writing("v", calls))._2 == "v")
    assert(calls.get == 2 && a.builds == 1)
    // the failed build's temp sibling is gone
    val left = Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .toSet
    val name = Paths.get(a.pathOf("k", "/sf")).getFileName.toString
    assert(left == Set(name, name + ".complete"))
  }

  test("a reaped path rebuilds") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    val p = a("k", "/sf")(writing("v1", calls))._1
    delete(Paths.get(p))
    assert(a("k", "/sf")(writing("v2", calls)) == ((p, "v2")))
    assert(calls.get == 2 && a.builds == 2)
  }

  test("a target without its marker is rebuilt, stale content dropped") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    val p = a.pathOf("k", "/sf")
    // a leftover from an earlier crash: content but no marker
    Files.createDirectories(Paths.get(p))
    Files.write(Paths.get(p, "stale"), Array[Byte](1))
    assert(a("k", "/sf")(writing("v1", calls))._2 == "v1")
    assert(!Files.exists(Paths.get(p, "stale")))
    // a memoized artifact whose marker went missing
    Files.delete(Paths.get(p + ".complete"))
    assert(a("k", "/sf")(writing("v2", calls))._2 == "v2")
    assert(Files.exists(Paths.get(p + ".complete")))
    assert(calls.get == 2 && a.builds == 2)
  }

  test("a failed marker write fails the build") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    val marker = Paths.get(a.pathOf("k", "/sf") + ".complete")
    intercept[java.io.IOException] {
      a("k", "/sf") { tmp =>
        // a non-empty directory where the marker file must go
        Files.createDirectories(marker.resolve("blocker"))
        writing("v1", calls)(tmp)
      }
    }
    assert(a.builds == 0)
    assert(a("k", "/sf")(writing("v2", calls))._2 == "v2")
    assert(Files.isRegularFile(marker) && a.builds == 1)
  }

  test("a memoized value failing its live check is rebuilt") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    var alive = true
    def get() = a.checked[(String, String)]("k", "/sf", _ => alive)(
      writing("v", calls))
    get(); get()
    assert(calls.get == 1)
    alive = false
    get()
    assert(calls.get == 2 && a.builds == 2)
  }

  test("the build count moves exactly once per real build") {
    val (a, _) = fresh()
    val calls = new AtomicInteger()
    (0 until 5).foreach(_ => a("k", "/sf")(writing("v", calls)))
    assert(a.builds == 1)
    (0 until 5).foreach(_ => a("k", "/other")(writing("v", calls)))
    assert(a.builds == 2)
    assert(a.path("file", "/sf")(tmp => Files.write(Paths.get(tmp),
      Array[Byte](7))) == a.pathOf("file", "/sf"))
    assert(a.builds == 3 && calls.get == 2)
  }
}
