package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one cache for artifacts derived from a fixture directory that
  * several queries reuse: signature and pair tables, trained models,
  * join statistics, scratch dirs. An entry is keyed by (owner, sfDir,
  * tag) and stamped with [[stamp]] at build time; a lookup whose stamp
  * no longer matches rebuilds the entry in place, so a fixture
  * regenerated at the same path is never served stale.
  *
  * Two scopes. [[perSession]] (and its [[checkpointed]] DataFrame form)
  * holds a value for one SparkSession — a DataFrame is bound to the
  * session that built it — and drops it once that session's context
  * stops, so a JVM hosting many sessions does not pin dead sessions'
  * checkpoint blocks. [[shared]] holds a value derived from the fixture
  * files alone (statistics, paths) for every session. A tag names one
  * artifact and is unique within its scope. */
object FixtureCache {

  // owner None = shared. SparkSession keeps Object's identity equality,
  // so the key compares owners by reference: a second live session
  // never receives another session's entry
  private val entries = scala.collection.concurrent.TrieMap
    .empty[(Option[SparkSession], String, String), (Long, Any)]

  /** Combined mtime of the `*.parquet` entries directly under `sfDir`:
    * regenerating any fixture table changes it, and a missing dir
    * stamps 0. */
  private def stamp(sfDir: String): Long =
    Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foldLeft(0L)((acc, f) => acc * 1000003L + f.lastModified())

  private def lookup[A](owner: Option[SparkSession], sfDir: String,
      tag: String)(build: => A): A = {
    entries.filterInPlace { case ((o, _, _), _) =>
      !o.exists(_.sparkContext.isStopped) }
    val st = stamp(sfDir)
    val key = (owner, sfDir, tag)
    entries.get(key).collect { case (`st`, v) => v.asInstanceOf[A] }
      .getOrElse {
        val v = build
        entries.put(key, (st, v))
        v
      }
  }

  /** `build`'s value, held for `spark` until its context stops. */
  def perSession[A](spark: SparkSession, sfDir: String, tag: String)(
      build: => A): A =
    lookup(Some(spark), sfDir, tag)(build)

  /** A session-held DataFrame, eagerly `localCheckpoint`ed at build so
    * every consumer reads the materialized blocks instead of re-running
    * the plan. */
  def checkpointed(spark: SparkSession, sfDir: String, tag: String)(
      build: => DataFrame): DataFrame =
    perSession(spark, sfDir, tag)(build.localCheckpoint())

  /** `build`'s value, held for every session. */
  def shared[A](sfDir: String, tag: String)(build: => A): A =
    lookup(None, sfDir, tag)(build)

  /** The shared value built under `tag` for `sfDir`, if any — read
    * without building. */
  def sharedIfBuilt[A](sfDir: String, tag: String): Option[A] =
    entries.get((None, sfDir, tag)).map(_._2.asInstanceOf[A])
}
