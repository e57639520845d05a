package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable

/** Process-scoped temp-dir registry. Staging directories (bucketed
  * tables, the IVF cell index, streaming checkpoints, interchange
  * round-trips, TickStore copies) are process-cached, so they must
  * outlive the query that created them — but before this registry every
  * verify/bench/test cycle leaked them permanently (~0.5 GB of /tmp per
  * cycle measured in r9). Every staging dir goes through [[scoped]];
  * one JVM shutdown hook deletes everything registered. Callers that
  * can free a dir earlier (a test's or benchmark's throwaway store)
  * call [[delete]] eagerly — the hook tolerates already-deleted paths.
  */
object TempDirs {
  private val dirs = mutable.ArrayBuffer.empty[Path]

  sys.addShutdownHook {
    dirs.synchronized { dirs.foreach(p => delete(p.toString)) }
  }

  /** Create a registered temp dir; deleted at JVM exit at the latest. */
  def scoped(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.synchronized { dirs += p }
    p.toString
  }

  /** Best-effort recursive delete; safe on missing paths. */
  def delete(path: String): Unit =
    try {
      val root = Path.of(path)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    } catch { case _: Throwable => () }
}
