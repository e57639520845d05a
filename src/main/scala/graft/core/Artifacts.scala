package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of build-once derived artifacts: indexes (IVF, PQ,
  * IVFPQ, BM25), dedup verdicts, the BPE induction, the standing
  * query fixtures and the staging copies of source tables. Each is
  * built once per [[Key]] and every later call returns the same value.
  *
  *  - **Key**: (session UUID, kind, corpus, params). `corpus` is the
  *    [[digest]] of the input DataFrame, or the source directory for a
  *    staging copy; `params` are the build parameters (nlist, m, tau…).
  *    A `newSession()` gets its own entries.
  *  - **Nested builds**: the map holds a once-cell per key and the
  *    build runs when a caller forces the cell, outside the map's lock,
  *    so a build may ask the registry for another key (IVFPQ builds
  *    its IVF cells; an append refresh builds its base). Concurrent
  *    first callers of one key wait for the one build.
  *  - **Failure**: a build that throws leaves the key unbuilt; callers
  *    that waited on it, and the next call, build anew.
  *  - **Lifetime**: the process. Artifact files live in [[TempDirs]]
  *    dirs; entries of a stopped session are never hit again.
  */
object Artifacts {
  final case class Key(session: String, kind: String, corpus: String, params: Seq[Any])

  private final class Cell(key: Key, private var build: () => Any) {
    @volatile var value: Option[Any] = None
    private var failed = false

    /** The built value, or None when this cell's build failed: the
      * cell has then left the map, and a waiter retries on a new one.
      */
    def force(): Option[Any] = value.orElse(synchronized {
      if (value.isEmpty && !failed)
        try value = Some(build())
        catch { case e: Throwable => failed = true; cells.remove(key, this); throw e }
        finally build = null // do not pin the first caller's inputs
      value
    })
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  def key(spark: SparkSession, kind: String, corpus: String, params: Any*): Key =
    Key(org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark), kind, corpus,
      params.toList)

  /** The key of an artifact derived from `df`: its session and digest. */
  def keyOf(df: DataFrame, kind: String, params: Any*): Key =
    key(df.sparkSession, kind, digest(df), params: _*)

  /** The artifact at `k`, built by `build` on the first call. */
  def apply[V](k: Key)(build: => V): V =
    cells.computeIfAbsent(k, _ => new Cell(k, () => build)).force() match {
      case Some(v) => v.asInstanceOf[V]
      case None => apply(k)(build) // the build we waited on failed
    }

  /** The artifact at `k` if it is built; never builds. */
  def peek[V](k: Key): Option[V] =
    Option(cells.get(k)).flatMap(_.value).map(_.asInstanceOf[V])

  /** Collision-safe digest of a corpus's identity: MD5 over the full
    * canonicalized plan string plus the schema. Keys hold this 32-char
    * string, not the plan tree itself — a long-lived serve process must
    * not pin every corpus's analyzed plan in memory. What the digest
    * can not see is an in-place rewrite of the same files under the
    * same path; versioned corpus directories make it exact.
    */
  def digest(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((plan.toString + "|" + df.schema.catalogString)
      .getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
