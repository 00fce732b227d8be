package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one place the catalog stages state that several entries share:
  * pinned frames (near-dup pairs, covariance, winnow keys, DSIR ratios,
  * the word graph) and on-disk artifacts (s5's JSONL rewrite, e5's IVF
  * index, d48's shard layout). A production run materializes such
  * state once per corpus snapshot and every report reads it; each
  * consumer's oracle still replays its full SQL standalone, so staging
  * changes cost, never answers.
  *
  *  - Key: (name, fixture dir, fingerprint of the dir). The name is the
  *    caller's; the fingerprint is the name, length and mtime of every
  *    file in the dir, from one Hadoop `listStatus` (no Spark job), so
  *    a rewritten fixture is rebuilt, never served stale.
  *  - Lifetime: one application. `localCheckpoint` blocks die with
  *    their SparkContext, so when a new application id appears every
  *    entry of the previous one is dropped; the map stays bounded.
  *  - Build rule: a key maps to a lazy holder, so it builds at most
  *    once even when first lookups race. The map lock is held only to
  *    find or insert the holder, never while a Spark job runs. A build
  *    that throws leaves no entry; the next lookup builds again.
  *  - Disk: every [[dir]] artifact and [[scratch]] dir lives under one
  *    per-JVM root, which one shutdown hook removes.
  */
object Staged {

  private[graft] final case class Key(name: String, dir: String,
                                      fingerprint: Seq[(String, Long, Long)])

  private final class Holder(build: => Any) { lazy val value: Any = build }

  private var app = ""
  private val entries = mutable.HashMap.empty[Key, Holder]

  /** `build`'s value for `name` over the fixture dir `dir`, built on
    * the first lookup in this application and shared after it. */
  def apply[T](s: SparkSession, name: String, dir: String)(build: => T): T =
    staged(s.sparkContext.applicationId,
      Key(name, dir, fingerprint(s, dir)))(build)

  /** An on-disk artifact staged like a value: `build` writes into a
    * fresh dir under the root, and that dir's path is the value. */
  def dir(s: SparkSession, name: String, dir: String)
         (build: String => Unit): String =
    apply(s, name, dir) { val p = scratch(name); build(p); p }

  /** A fresh dir under the root for one call's own files. */
  def scratch(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** [[apply]] with the application id given: a lookup under a new id
    * drops every entry of the previous one first. */
  private[graft] def staged[T](appId: String, key: Key)(build: => T): T = {
    val h = synchronized {
      if (appId != app) { entries.clear(); app = appId }
      entries.getOrElseUpdate(key, new Holder(build))
    }
    try h.value.asInstanceOf[T]
    catch {
      case e: Throwable =>
        synchronized { if (entries.get(key).contains(h)) entries.remove(key) }
        throw e
    }
  }

  private def fingerprint(s: SparkSession, dir: String)
      : Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
  }

  private lazy val root = {
    val r = Files.createTempDirectory("graft_staged")
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    sys.addShutdownHook(rm(r.toFile))
    r
  }
}
