package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** The process-scoped artifact store behind every publish-split gate: an
  * expensive chain (a model fit, a multi-round graph assignment, a funnel
  * verdict) is built at most once per JVM per (name, sf dir) into its own
  * `graft_<name>_*` directory under `java.io.tmpdir`, and every later
  * consumer reads that directory instead of rebuilding the chain. The
  * directory is fresh per process, so a code change can never serve a
  * stale artifact from an earlier run; the contents are deterministic,
  * so which consumer publishes first cannot matter. One shutdown hook
  * deletes every directory the store created.
  */
object Artifacts {

  /** One artifact, built on first use. The build runs in the lazy val,
    * OUTSIDE the map's compute: a build may publish another artifact
    * (the Louvain assignment publishes stage 1, which publishes LPA(3)),
    * and a nested `computeIfAbsent` on the same map would throw. A build
    * that throws leaves the cell unbuilt, so the next consumer retries.
    */
  private final class Cell(name: String, build: String => Unit) {
    lazy val path: String = {
      val dir = Files.createTempDirectory(s"graft_${name}_")
      created.add(dir)
      build(dir.toString)
      dir.toString
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()
  private val created = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(p => deleteRecursively(p))))

  /** The directory of artifact `name` for sf dir `d`, running `build`
    * over a fresh directory the first time it is asked for.
    */
  def publish(name: String, d: String)(build: String => Unit): String =
    cells.computeIfAbsent((name, d), _ => new Cell(name, build)).path

  /** Delete `p` and everything under it; a missing path is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
