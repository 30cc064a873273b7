package graft.streaming

import java.io.{File, IOException}
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** The crash protocol of every store and log-dir write in this package,
  * the reference's durable-then-ack contract
  * (`logical-replication-service.ts:187-192`): new state is written
  * whole beside the live state and published by one rename, so a crash
  * at any point leaves the old or the new state plus scratch that the
  * next write or recovery deletes.
  *
  *  - [[readParquetOpt]] is the one reading of "no store yet";
  *  - [[replaceFile]] replaces one file (scratch + `ATOMIC_MOVE`);
  *  - [[replaceDir]] replaces one directory (`_compact_tmp` /
  *    `_compact_old` demote-promote);
  *  - [[recoverCompaction]] heals what a crash cut in [[replaceDir]] and
  *    sweeps a per-file rewrite's `_rw_tmp`.
  *
  * Nothing here fsyncs; adding that is an edit to this object alone. */
private[streaming] object Durable {

  /** A parquet store, or None for the two states that mean "no store
    * yet": a missing dir, and a dir that holds no parquet (pre-created by
    * a harness, or left by a write that failed before its commit). Any
    * other failure rethrows. A commit-marker check must tell "no marker"
    * apart from "could not read": read as empty, an unreadable marker
    * store would run a committed batch again. */
  def readParquetOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" ||
          e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** Replaces `target` whole. `write` fills a fresh scratch file beside
    * it, named `<prefix><random><suffix>`, and returns whether it changed
    * anything: then the scratch moves over the target in one
    * `ATOMIC_MOVE`, else it is deleted. A failed `write` deletes the
    * scratch and rethrows, leaving the target as it was. Every older
    * scratch with the same prefix and suffix is deleted first: callers
    * hold the lock that serializes writers of the target, so such a file
    * is a crashed predecessor's. */
  def replaceFile(target: Path, prefix: String, suffix: String)(
      write: Path => Boolean): Unit = {
    val dir = target.getParent
    Option(dir.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(suffix))
      .foreach(f => Files.deleteIfExists(f.toPath))
    val tmp = Files.createTempFile(dir, prefix, suffix)
    try {
      if (write(tmp)) Files.move(tmp, target,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      else Files.delete(tmp)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** Replaces the directory `dir` whole. `write` fills the scratch dir
    * `<dir>_compact_tmp` (its path is the argument); then the live dir is
    * demoted to `<dir>_compact_old`, the scratch promoted and the old
    * copy deleted. A `write` that creates no scratch publishes absence.
    * A crash at any point leaves the live dir, or a complete scratch or
    * old copy that [[recoverCompaction]] promotes or restores: never a
    * moment where the store is gone without a complete replacement. */
  def replaceDir(dir: String)(write: String => Unit): Unit = {
    val live = new File(dir)
    val tmp = new File(dir + "_compact_tmp")
    val old = new File(dir + "_compact_old")
    delTree(tmp)
    write(tmp.getPath)
    delTree(old)
    // a missing live dir is legal (a first publish): promote straight in
    if (live.exists && !live.renameTo(old))
      throw new IOException(s"failed to demote live store: $dir -> $old")
    if (tmp.exists && !tmp.renameTo(live))
      throw new IOException(s"failed to publish store: $tmp -> $dir")
    delTree(old)
  }

  /** Recovery half of [[replaceDir]], run by every store owner before it
    * reads: with the live dir missing, promotes a complete
    * `_compact_tmp` (the crash landed between demote and promote) or
    * restores `_compact_old` (the tmp was already consumed); with it
    * present, deletes both as leftovers. Also deletes `<dir>_rw_tmp`, the
    * Spark output of a per-file rewrite, which is scratch whatever state
    * a crash left it in. Idempotent; a no-op on a healthy store. */
  def recoverCompaction(dir: String): Unit = {
    val live = new File(dir)
    val old = new File(dir + "_compact_old")
    val tmp = new File(dir + "_compact_tmp")
    if (!live.exists && tmp.exists) {
      if (!tmp.renameTo(live))
        throw new IOException(s"compaction recovery failed: $tmp -> $dir")
    } else if (!live.exists && old.exists) {
      if (!old.renameTo(live))
        throw new IOException(s"compaction recovery failed: $old -> $dir")
    }
    if (live.exists) { delTree(old); delTree(tmp) }
    delTree(new File(dir + "_rw_tmp"))
  }

  def delTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(delTree)
    f.delete(); ()
  }
}
