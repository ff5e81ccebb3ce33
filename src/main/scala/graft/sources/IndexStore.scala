package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Lifecycle of a persisted index store (the q184/q185/q188 at-rest
  * artifacts): content fingerprinting, atomic publish, and cleanup of
  * superseded generations.
  *
  * Three production failure modes this closes, each the subject of a
  * StoredIndexSpec test:
  *
  *  1. '''stale index after in-place data regeneration''' — a
  *     directory-backed parquet dataset can be overwritten without the
  *     directory's own (length, mtime) changing, so fingerprinting the
  *     top-level path alone serves yesterday's index over today's
  *     corpus. [[contentTag]] therefore folds every contained data
  *     file's (name, length, mtime).
  *  2. '''torn reads of a half-written store''' — a builder that died
  *     mid-write leaves a directory that exists but is garbage.
  *     [[publish]] builds into a process-unique staging sibling and
  *     promotes it with a single directory rename; readers only ever
  *     see nothing or a complete store (validity = the `_SUCCESS`
  *     markers the parquet committer writes last).
  *  3. '''unbounded growth of dead generations''' — every data
  *     regeneration mints a new fingerprint tag; without cleanup the
  *     store directory accretes one obsolete index per generation
  *     forever. [[cleanupSuperseded]] deletes sibling stores of the
  *     same source (same dir tag, different fingerprint tag) once a
  *     new generation is live.
  */
object IndexStore {

  /** Stable tag of the source LOCATION (not its contents): two stores
    * share a dir tag iff they index the same path, which is what makes
    * superseded-generation cleanup safe to scope. */
  def pathTag(path: String): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(path))

  /** Content fingerprint of a parquet file-or-directory: every data
    * file's (relative name, length, mtime), folded order-independently
    * of discovery by sorting on path first. An in-place rewrite of any
    * contained file changes the tag even when the enclosing directory's
    * own metadata does not (the directory-backed-dataset trap). */
  def contentTag(path: File): String = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator.single(f)
    val files = walk(path)
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
      .toSeq.sortBy(_.getPath)
    val h = files.foldLeft(
        scala.util.hashing.MurmurHash3.stringHash(path.getPath)) { (acc, f) =>
      scala.util.hashing.MurmurHash3.stringHash(
        s"${f.getName}:${f.length}:${f.lastModified}", acc)
    }
    java.lang.Integer.toHexString(h)
  }

  /** Validity marker for a published parquet store: the committer
    * writes `_SUCCESS` after the last data file, so its presence means
    * the write completed. */
  def hasSuccess(dir: File): Boolean = new File(dir, "_SUCCESS").exists()

  /** Delete `f` and, when it is a real directory, everything under it.
    * A symbolic link is removed itself and never entered, so a link in
    * (or as) a store to a directory elsewhere leaves that directory's
    * contents alone. */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Process-wide log of store builds this JVM paid: dest dir name →
    * build seconds. Filled by [[publish]] on a miss and printed by the
    * Bench harness, so the first-build cost a run absorbs (vs inherits
    * warm from a previous run) is always visible next to the timings —
    * cross-run store persistence must never flatter a bench silently. */
  val buildLog = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Build-into-staging + atomic-rename publish. If `dest` is already
    * `valid`, no work. Otherwise `build` runs against a process-unique
    * staging sibling (same filesystem, so the promote is one atomic
    * `rename`); an invalid pre-existing `dest` (the simulated
    * half-written store) is removed before the promote. Losing a
    * cross-process race is fine: the loser discards its staging copy
    * and proceeds against the winner's store — two concurrent builders
    * produce one valid index. */
  def publish(dest: File, valid: File => Boolean)(build: File => Unit): Unit = {
    if (valid(dest)) return
    val t0 = System.nanoTime()
    val staging = new File(dest.getParentFile,
      s".${dest.getName}.staging.${ProcessHandle.current.pid}.${System.nanoTime}")
    try {
      build(staging)
      if (dest.exists() && !valid(dest)) deleteRecursively(dest)
      if (!staging.renameTo(dest)) {
        deleteRecursively(staging)
        require(valid(dest),
          s"index publish race left no valid store at $dest")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      buildLog.put(dest.getName, sec)
      System.err.println(f"[store] ${dest.getName} build=$sec%.2f s (miss)")
    } finally if (staging.exists()) deleteRecursively(staging)
  }

  /** Delete superseded on-disk generations (same `filePrefix`, name ≠
    * `keepFile`) and drop their catalog entries (same `tablePrefix`,
    * name ≠ `keepTable`). Called only after the new generation is
    * live; superseded means the SOURCE DATA changed, so any reader
    * still on the old store is already reading the wrong corpus. */
  def cleanupSuperseded(spark: SparkSession, storeRoot: File,
      filePrefix: String, keepFile: String,
      tablePrefix: String, keepTable: String): Unit = {
    Option(storeRoot.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(filePrefix) && f.getName != keepFile)
        deleteRecursively(f)
    })
    spark.catalog.listTables().collect().foreach { t =>
      if (t.name.startsWith(tablePrefix) && t.name != keepTable)
        spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
    }
  }

  /** Register an external BUCKETED parquet table over files previously
    * written by [[BucketedTables.writeBucketed]] (and later renamed —
    * `saveAsTable` pins its original path in the catalog, so a
    * publish-by-rename needs this explicit re-registration). The DDL
    * carries the same CLUSTERED/SORTED spec the files were written
    * with; the scan then trusts bucket pruning and per-bucket order
    * exactly as it does for the original table. */
  def registerBucketed(spark: SparkSession, tableName: String, path: String,
      schema: StructType, key: String, buckets: Int): Unit =
    spark.sql(
      s"""CREATE TABLE $tableName (${schema.toDDL})
         |USING PARQUET
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)

  /** Register an external plain-parquet table over a published store —
    * for stores whose consumers never key-join them (e.g. the pair
    * table, read whole by every member query). */
  def registerParquet(spark: SparkSession, tableName: String, path: String,
      schema: StructType): Unit =
    spark.sql(
      s"""CREATE TABLE $tableName (${schema.toDDL})
         |USING PARQUET
         |LOCATION '$path'""".stripMargin)
}
