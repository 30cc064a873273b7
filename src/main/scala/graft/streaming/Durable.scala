package graft.streaming

import java.io.{File, IOException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The crash protocol of every store and log-dir write in this package,
  * the reference's durable-then-ack contract
  * (`logical-replication-service.ts:187-192`): new state is written
  * whole beside the live state and published by one rename, so a crash
  * at any point leaves the old or the new state plus scratch that the
  * next write or recovery deletes.
  *
  *  - [[readParquetOpt]] is the one reading of "no store yet";
  *  - [[replaceFile]] replaces one file (scratch + `ATOMIC_MOVE`);
  *  - [[scratchFor]] + [[publish]] are the same protocol for a writer
  *    that holds no lock (a checkpoint file): a unique scratch, then a
  *    replace or a create-if-absent;
  *  - [[replaceDir]] replaces one directory (`_compact_tmp` /
  *    `_compact_old` demote-promote);
  *  - [[recoverCompaction]] heals what a crash cut in [[replaceDir]] and
  *    sweeps a per-file rewrite's `_rw_tmp` and an append's
  *    `_append_tmp`;
  *  - [[commitBatch]] commits a foreachBatch batch: heal, check the
  *    `_batch-<id>` file, sweep a crashed attempt's tagged parts,
  *    append, mark last;
  *  - [[parquetFiles]] lists the part files Spark reads in a store.
  *
  * Nothing here fsyncs; adding that is an edit to this object alone. */
private[streaming] object Durable {

  /** A parquet store, or None for the two states that mean "no store
    * yet": a missing dir, and a dir that holds no parquet (pre-created by
    * a harness, or left by a write that failed before its commit). Any
    * other failure rethrows: read as empty, an unreadable store would
    * restart its owner's state (a replay guard, an offset) from zero. */
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

  /** A unique scratch path beside `target`, `.<name>.<uuid>.tmp`: the form
    * Spark's own checkpoint writers use. Unlike [[replaceFile]], nothing
    * sweeps older scratch here: two writers may race on one target, and
    * neither may delete the other's file. */
  def scratchFor(target: Path): Path =
    target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")

  /** Publishes the complete `scratch` as `target` and leaves no scratch.
    * With `overwrite`, one `ATOMIC_MOVE` replaces any old target. Without
    * it, a hard link publishes the target only if it is absent: the link
    * fails atomically with `java.nio.file.FileAlreadyExistsException` when
    * another writer got there first, so of two racing writers exactly one
    * wins, and the loser's bytes never replace the winner's. */
  def publish(scratch: Path, target: Path, overwrite: Boolean): Unit =
    try {
      if (overwrite) Files.move(scratch, target,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      else Files.createLink(target, scratch)
    } finally Files.deleteIfExists(scratch)

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
    delTree(new File(dir + "_append_tmp"))
  }

  /** The part files of store `dir` that a Spark read lists: `.parquet`
    * names not hidden by a leading `_` or `.` (no marker, checksum or
    * scratch file). Empty for a missing dir. */
  def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter { f =>
      val n = f.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  /** A part name a [[BatchAppend]] tagged: `b<batchId>-<marker store>.` */
  private val Tagged = """b\d+-[0-9a-f]{8}\..*""".r

  /** Runs batch `batchId` of a foreachBatch operator once against its
    * stores: the sink half of exactly-once, beside a replayable source.
    * The commit is the zero-byte file `_batch-<batchId>` in `markerDir`
    * (Spark's listing skips `_` names). In order:
    *  - heal: [[recoverCompaction]] on `markerDir` and every `stores` dir;
    *  - check: with the marker file present, return None — no Spark job.
    *    A marker store an older binary wrote commits by rows: a
    *    `batch_id` row of this batch in an untagged part counts too;
    *  - sweep: delete from every declared store the parts an earlier
    *    attempt appended, by their tag, which names the batch and
    *    `markerDir` (another stream's same batch id keeps its parts);
    *  - run `body`, which appends to declared stores only through the
    *    [[BatchAppend]] it is handed;
    *  - commit: create the marker. */
  def commitBatch[T](spark: SparkSession, markerDir: String, batchId: Long,
      stores: Seq[String])(body: BatchAppend => T): Option[T] = {
    val declared = (markerDir +: stores).distinct
    declared.foreach(recoverCompaction)
    val marker = new File(markerDir, s"_batch-$batchId")
    if (marker.exists || committedByRows(spark, markerDir, batchId)) None
    else {
      val store = new File(markerDir).getAbsoluteFile.toPath.normalize
      val tag = f"b$batchId-${store.toString.hashCode}%08x."
      for (d <- declared; f <- Option(new File(d).listFiles()).toSeq.flatten
          if f.getName.startsWith(tag)) Files.delete(f.toPath)
      val out = body(new BatchAppend(spark, tag, declared.toSet))
      Files.createDirectories(Paths.get(markerDir))
      Files.write(marker.toPath, Array.emptyByteArray)
      Some(out)
    }
  }

  private def committedByRows(spark: SparkSession, markerDir: String,
      batchId: Long): Boolean = {
    val legacy = parquetFiles(markerDir).filterNot(f =>
      Tagged.matches(f.getName))
    legacy.nonEmpty && spark.read.parquet(legacy.map(_.getPath): _*)
      .filter(col("batch_id") === batchId).limit(1).count() > 0
  }

  /** The appends of one [[commitBatch]] batch: `df` is written whole
    * into `<dir>_append_tmp`, each part moves into `dir` under the
    * batch's tag (its `.crc` sidecar is dropped with the scratch), and
    * the plans cached over `dir` are refreshed, as after a Spark append.
    * With `swept = false` the parts keep Spark's names and a replay
    * keeps them: for a write that its own content guard makes
    * replay-safe and that a later in-place rewrite of the batch needs. */
  final class BatchAppend private[Durable] (spark: SparkSession,
      tag: String, stores: Set[String]) {
    def apply(df: DataFrame, dir: String, swept: Boolean = true): Unit = {
      require(stores(dir), s"$dir is not a declared store of this batch")
      val tmp = dir + "_append_tmp"
      df.write.mode("overwrite").parquet(tmp)
      Files.createDirectories(Paths.get(dir))
      for (f <- parquetFiles(tmp)) Files.move(f.toPath,
        Paths.get(dir, (if (swept) tag else "") + f.getName),
        StandardCopyOption.ATOMIC_MOVE)
      delTree(new File(tmp))
      spark.catalog.refreshByPath(dir)
    }
  }

  def delTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(delTree)
    f.delete(); ()
  }
}
