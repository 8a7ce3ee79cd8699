package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** The build-once store for per-corpus artifacts: indexes, persisted
  * layouts and shared intermediate tables that a query builds from a
  * corpus once and every later query reads.
  *
  * - **Key:** the artifact's kind, the corpus dir, and the
  *   [[Tables.fingerprint]] of the backing corpus table, so a corpus
  *   rewritten at the same path gets a fresh build, never a stale one.
  * - **Place:** `<kind>-<tag>` under one process-private temp base, where
  *   the tag is [[Tables.digest]] of the key. Builds are reused within a
  *   JVM and never shared across processes, so no two processes race on
  *   one path. The base is deleted when the JVM exits.
  * - **Lock:** check → build → mark runs under one reentrant lock, so two
  *   threads asking for one artifact run its (side-effecting,
  *   overwrite-mode) build once, and a build may ask for another artifact
  *   it derives from.
  * - **Validity:** an artifact is built when its completion marker is
  *   present and every catalog table the call named exists. The marker
  *   is written only after `build` returns, so a failed or interrupted
  *   build, a tmp cleaner that emptied the dir, or a dropped table each
  *   cause a rebuild. The marker's `_` prefix keeps it out of Spark's
  *   file listings, so it may sit inside a table location. */
object Artifacts {

  /** One artifact: its directory and the catalog tables its build made. */
  final case class Artifact(path: String, tables: Seq[String])

  private val Marker = "_GRAFT_BUILT"

  /** Removed when the JVM exits, with every artifact under it. */
  private[graft] lazy val base: String = {
    val dir = Files.createTempDirectory("graft-artifacts").toString
    org.apache.spark.sql.graft.bridge.deleteOnExit(dir)
    dir
  }

  private val lock = new ReentrantLock

  /** The `kind` artifact of `dir`'s `corpus` table (a file name such as
    * `documents.parquet`), running `build` first unless a valid one
    * exists. `tables` names, from the tag, the catalog tables `build`
    * creates. */
  def apply(s: SparkSession, kind: String, dir: String, corpus: String,
            tables: String => Seq[String] = _ => Nil)
           (build: Artifact => Unit): Artifact = {
    val tag = Tables.digest(
      s"$kind:$dir@${Tables.fingerprint(s, s"$dir/$corpus")}")
    val a = Artifact(s"$base/$kind-$tag", tables(tag))
    val marker = Paths.get(a.path, Marker)
    lock.lock()
    try {
      if (!Files.exists(marker) || !a.tables.forall(s.catalog.tableExists)) {
        // no file of an earlier, failed or emptied build survives a rebuild
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(a.path))
        build(a)
        Files.createDirectories(marker.getParent)
        Files.createFile(marker)
      }
    } finally lock.unlock()
    a
  }
}
