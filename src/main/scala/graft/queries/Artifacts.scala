package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.internal.Logging

/** The one registry of on-disk query artifacts: written indexes, export
  * fixtures, container files. Each is built once per (kind, sfDir) and
  * process, and every later call probes the built copy.
  *
  * The lifecycle, in one place:
  *  - Naming: `<root>/graft_<kind>_<sfDir>_<pid>`, with the sfDir's
  *    non-alphanumerics as `_`. The pid keeps concurrent processes on one
  *    box off each other's artifacts.
  *  - Single flight: one build per key at a time, held on a per-key slot
  *    and never inside a map's bin lock, so a build may ask for another
  *    artifact (a compacted index builds from its base index).
  *  - Atomic publish: the build writes a temp sibling that is renamed into
  *    place, then a sibling `<path>.complete` marker is written (outside
  *    the artifact, so no glob reader sees it). A target without its
  *    marker is a partial artifact; only the thread holding the key's
  *    build deletes it.
  *  - Self-heal: a memoized artifact whose path was reaped, whose marker
  *    is gone, or that fails its `live` check is rebuilt.
  *  - A build that throws, marker write included, is not memoized: the
  *    next call retries.
  *  - [[builds]] counts the builds completed in this JVM, so a caller that
  *    times a query can tell a build from a probe. */
class Artifacts(root: Path) extends Logging {
  private final class Slot { @volatile var value: Option[Any] = None }
  private val slots = new ConcurrentHashMap[String, Slot]()
  private val built = new AtomicLong()

  /** Builds completed by this registry since the JVM started. */
  def builds: Long = built.get()

  def pathOf(kind: String, sfDir: String): String =
    root.resolve(s"graft_${kind}_" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + ProcessHandle.current().pid()).toString

  /** The artifact `kind` for `sfDir`, built on first use. `build` writes
    * the artifact at the temp path it is given and returns how to open it
    * once it sits at its final path, e.g. `p => index.copy(path = p)`. */
  def apply[T](kind: String, sfDir: String)(
      build: String => String => T): T =
    checked[T](kind, sfDir, _ => true)(build)

  /** [[apply]] for an artifact with state the marker cannot see (catalog
    * tables): a memoized value failing `live` is rebuilt. */
  def checked[T](kind: String, sfDir: String, live: T => Boolean)(
      build: String => String => T): T = {
    val path = pathOf(kind, sfDir)
    val slot = slots.computeIfAbsent(path, _ => new Slot)
    def usable: Option[T] = slot.value.map(_.asInstanceOf[T])
      .filter(v => complete(path) && live(v))
    usable.getOrElse(slot.synchronized {
      usable.getOrElse {
        slot.value = None
        val v = publish(path, build)
        slot.value = Some(v)
        v
      }
    })
  }

  /** An artifact whose handle is its path. */
  def path(kind: String, sfDir: String)(write: String => Unit): String =
    apply(kind, sfDir) { tmp => write(tmp); identity }

  private def complete(path: String): Boolean =
    Files.exists(Paths.get(path)) && Files.exists(Paths.get(path + ".complete"))

  /** Runs under the key's slot lock: the only code that deletes a target. */
  private def publish[T](path: String, build: String => String => T): T = {
    val target = Paths.get(path)
    val marker = Paths.get(path + ".complete")
    if (Files.exists(target) && !Files.exists(marker))
      logWarning(s"$path exists without its completion marker; treating " +
        "it as a partial artifact and rebuilding")
    // marker first: a crash between the two deletes leaves a markerless
    // target, which is rebuilt, never a marker without content
    delete(marker)
    delete(target)
    val tmp = Paths.get(s"$path.tmp.${java.util.UUID.randomUUID()}")
    try {
      val open = build(tmp.toString)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      Files.write(marker, Array.emptyByteArray)
      val v = open(path)
      built.incrementAndGet()
      v
    } finally delete(tmp)
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { files =>
      files.iterator().asScala.toSeq.reverse.foreach(f =>
        try Files.deleteIfExists(f)
        catch { case _: java.io.IOException => () })
    }
}

/** The process-wide registry under `java.io.tmpdir`. */
object Artifacts
    extends Artifacts(Paths.get(System.getProperty("java.io.tmpdir")))
