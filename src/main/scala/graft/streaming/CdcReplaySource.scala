package graft.streaming

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.Lsn

/** "cdc-replay" — a DataSource V2 source that replays a CDC frame log
  * with the reference's delivery semantics (SURVEY.md §2 A1, A9-A13,
  * B10):
  *
  *  - offsets are LSNs (`startingLsn` option ≡ `uptoLsn` resume;
  *    `0/00000000` replays everything, `acknowledge.spec.ts:70-75`);
  *  - `maxFramesPerTrigger` bounds a micro-batch (the pull-based
  *    analogue of the reference's flow control, A12);
  *  - `commit(offset)` emulates the standby-status ack by merging
  *    the acked offsets into the log dir's [[AckRecord]] (A9/A10) —
  *    restart resumes from the checkpoint, replaying any unacked tail
  *    ⇒ at-least-once, deduplicated downstream;
  *  - also exposes BATCH_READ so `spark.read` replays the same log.
  *
  * Log format: one JSON line per transaction:
  * `{"lsn":<commitLsn>,"frames":["<hex pgoutput frame>",...]}`.
  * One file ≈ one slot/publication shard: `planInputPartitions`
  * emits one partition per file, so replay parallelism scales with
  * shard count while preserving intra-shard LSN order (the same
  * trade the reference makes with one ordered stream per slot, O5).
  */
object CdcReplaySource {
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("frames", ArrayType(BinaryType), nullable = false)))

  val FORMAT: String = classOf[CdcReplayProvider].getName

  /** Writes a frame log (driver-side test/fixture helper). */
  def writeLog(path: String, rows: Seq[(Long, Seq[Array[Byte]])]): Unit =
    writeLogShard(path, 0, rows)

  private val HexChars = "0123456789abcdef".toCharArray

  /** Fast lowercase hex — the frame-log append is the live client's
    * hot path; per-byte String.format costs ~1 µs/byte and dominates
    * socket throughput. */
  def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(i * 2) = HexChars(v >> 4)
      out(i * 2 + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Writes one shard of a frame log; a shard ≈ one slot/publication
    * (replay parallelism = shard count, intra-shard LSN order). */
  def writeLogShard(path: String, shard: Int,
      rows: Seq[(Long, Seq[Array[Byte]])]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, s"part-$shard.jsonl"))
    try rows.sortBy(_._1).foreach { case (lsn, frames) =>
      w.println(formatLine(lsn, frames))
    } finally w.close()
  }

  /** THE frame-log line serialization — single-sourced because the
    * scrub's idempotence/crash contract depends on rewritten lines
    * being byte-identical to freshly written ones ([[scrubFrameLog]],
    * [[writeLogShard]] and the socket client's append must never
    * drift apart). */
  private[graft] def formatLine(lsn: Long,
      frames: Seq[Array[Byte]]): String = {
    val hexed = frames.map(f => "\"" + hex(f) + "\"")
    s"""{"lsn":$lsn,"frames":[${hexed.mkString(",")}]}"""
  }

  def listLogFiles(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) Seq(path)
    else dir.listFiles().filter(_.getName.endsWith(".jsonl"))
      .map(_.getPath).sorted.toSeq
  }

  /** A frame-log line is complete iff it has the writer's exact object
    * shape. The append path is line-buffered, so a crash can tear at
    * most the LAST line of a shard. */
  private[streaming] def isComplete(line: String): Boolean =
    line.startsWith("{\"lsn\":") && line.endsWith("]}")

  /** Torn-tail tolerance: a torn LAST line is a crash artifact — by
    * the durable-then-ack contract (the log flush precedes the
    * covering ack) it is never acked, so dropping it just replays the
    * transaction next session. A torn line FOLLOWED by more lines is
    * not a crash artifact; that file is corrupt — fail loudly rather
    * than silently delivering a truncated frame. */
  private[streaming] def completeLines(
      fileName: String, lines: Iterator[String]): Iterator[String] =
    new Iterator[String] {
      private var pending: String = if (lines.hasNext) lines.next() else null
      def hasNext: Boolean = pending != null && {
        if (isComplete(pending)) true
        else if (lines.hasNext) throw new IllegalStateException(
          s"$fileName has a corrupt frame-log line before end of file; " +
            "only a torn final line (crash artifact) is tolerated")
        else { pending = null; false }
      }
      def next(): String = {
        val l = pending
        pending = if (lines.hasNext) lines.next() else null
        l
      }
    }

  /** The lines of `f` from `startByte` (a line boundary) up to the
    * file's length when it is opened. A live writer appends while the
    * replay reads, so the log can end mid-line. Bounding the read at
    * the open-time length keeps that half-written line the LAST one
    * read — dropped by [[completeLines]] as a torn tail and read whole
    * next poll — where an unbounded look-ahead would read on into its
    * rest, see a torn line followed by more, and fail as corrupt.
    *
    * A start that follows a line's closing `}` and sits on a newline
    * is a high-water mark clamped before the newline of a final line
    * indexed before that newline reached the file: the read resumes
    * past the newline, which ends the line already indexed (read as a
    * line of its own it would be an empty line before more: corrupt).
    * Returns the lines, the byte they start at and the length. */
  private[streaming] def openLines(f: String,
      startByte: Long): (scala.io.BufferedSource, Long, Long) = {
    val in = new java.io.FileInputStream(f)
    val ch = in.getChannel
    val end = ch.size()
    val from = if (startByte <= 0) startByte else {
      val two = java.nio.ByteBuffer.allocate(2)
      while (two.hasRemaining && ch.read(two, startByte - 1 + two.position()) > 0) ()
      if (two.position() == 2 && two.get(0) == '}' && two.get(1) == '\n')
        startByte + 1
      else startByte
    }
    ch.position(from)
    (scala.io.Source.fromInputStream(com.google.common.io.ByteStreams
      .limit(in, math.max(0L, end - from))), from, end)
  }

  /** Up to `n` bytes of `f` from byte `off` (fewer at end of file), in
    * one positioned read: the driver index's bounded look at a cached
    * line, where reading the whole line would cost O(line). */
  private[streaming] def readPrefix(f: String, off: Long, n: Int): Array[Byte] = {
    val ch = new java.io.FileInputStream(f).getChannel
    try {
      val buf = java.nio.ByteBuffer.allocate(n)
      while (buf.hasRemaining && ch.read(buf, off + buf.position()) > 0) ()
      java.util.Arrays.copyOf(buf.array(), buf.position())
    } finally ch.close()
  }

  /** Driver-side index scan: all (file, lsn) pairs, lsn-sorted.
    * Enforces the per-shard LSN-sort format invariant (this reads
    * every line anyway, so the check is free here). */
  def lsnIndex(path: String): Seq[Long] =
    listLogFiles(path).flatMap(lsnIndexOfFile(_).map(_._1)).sorted

  /** One shard file's (lsn, byte offset of its line), format-
    * invariant-checked. Byte offsets let a micro-batch reader SEEK to
    * its slice instead of rescanning the head of a growing shard on
    * every trigger (the log format is ASCII by construction — hex,
    * digits, fixed punctuation — so bytes = chars + the newline). */
  private[streaming] def lsnIndexOfFile(f: String): Seq[(Long, Long)] =
    lsnIndexOfFileFrom(f, 0L)._1

  /** [[lsnIndexOfFile]] resumed at `startByte` (must be a line
    * boundary — the `parsedBytes` high-water mark of a previous
    * parse): the incremental half of the driver index, so a GROWING
    * shard costs O(appended bytes) per trigger, not O(file). One
    * buffered pass reads each byte once and returns the entries
    * (absolute offsets), the high-water mark just past the last
    * complete line, and the file length the pass read up to. The
    * mark is clamped to that length: a final line without a trailing
    * newline counts one byte long (the `at += len + 1` convention),
    * and a mark past EOF would skip a later append into mid-line.
    * When that newline arrives, [[openLines]] resumes past it. */
  private[streaming] def lsnIndexOfFileFrom(f: String,
      startByte: Long): (Seq[(Long, Long)], Long, Long) = {
    val (src, from, end) = openLines(f, startByte)
    try {
      var at = from
      val entries = completeLines(f, src.getLines())
        .map { l =>
          val e = (parseLsn(l), at)
          at += l.length + 1L
          e
        }.toList
      entries.iterator.sliding(2).foreach {
        case Seq((a, _), (b, _)) if b < a => throw new IllegalStateException(
          s"$f is not LSN-sorted ($b after $a); " +
            "cdc-replay shards must be written in LSN order")
        case _ => ()
      }
      (entries, math.min(at, end), end)
    } finally src.close()
  }

  private[streaming] def parseLsn(line: String): Long = {
    val i = line.indexOf("\"lsn\":") + 6
    var j = i
    while (j < line.length && line.charAt(j).isDigit) j += 1
    line.substring(i, j).toLong
  }

  /** Replay-reader hot path: one index scan over the line, hex pairs
    * decoded via a nibble table — no split/regex, no per-byte boxing
    * (the `grouped(2)` + `Integer.parseInt` form costs ~10× in
    * allocation on multi-MB transactions). */
  private[streaming] def parseFrames(line: String): Seq[Array[Byte]] = {
    val start = line.indexOf("\"frames\":[") + 10
    val end = line.lastIndexOf("]")
    val out = Seq.newBuilder[Array[Byte]]
    var i = start
    while (i < end) {
      line.charAt(i) match {
        case '"' =>
          var j = i + 1
          while (j < end && line.charAt(j) != '"') j += 1
          if ((j - i - 1) % 2 != 0) throw new IllegalStateException(
            s"odd-length hex frame body (${j - i - 1} chars) in frame " +
              s"log line at offset ${i + 1} — truncated or corrupt frame")
          val n = (j - i - 1) / 2
          val bytes = new Array[Byte](n)
          var k = 0
          while (k < n) {
            val hi = Character.digit(line.charAt(i + 1 + k * 2), 16)
            val lo = Character.digit(line.charAt(i + 2 + k * 2), 16)
            if (hi < 0 || lo < 0) throw new IllegalStateException(
              s"non-hex frame byte in frame log line at offset ${i + 1 + k * 2}")
            bytes(k) = ((hi << 4) | lo).toByte
            k += 1
          }
          out += bytes
          i = j + 1
        case _ => i += 1 // commas / whitespace between frames
      }
    }
    out.result()
  }

  /** The log dir's one ack record: every writer's state in one file,
    * changed only by [[updateAcks]]. */
  def ackFile(path: String) = new java.io.File(path, "_acks.json")

  /** A file's text, None when it does not exist (every write is an
    * atomic replace, so an existing file is always whole). */
  private def readText(f: java.io.File): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Cross-PROCESS mutual exclusion for every read-merge-replace of
    * the record (and for truncation and scrub): the JVM-level
    * `synchronized` alone would let two socket-client processes
    * sharing one log dir interleave read→merge→write and lose the
    * other's advance. One OS file lock per log dir (`_acked.lock`),
    * taken inside the JVM lock (JVM first — OverlappingFileLockException
    * fires if one process locks the same channel region twice). */
  private def withDirLock[A](path: String)(body: => A): A = synchronized {
    val lockFile = new java.io.File(path, "_acked.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  /** The dir's ack state in one read. A dir without a record is read
    * from the sidecars older versions wrote, once per call until the
    * first [[updateAcks]] migrates it (a migration racing this read
    * deletes those files, so the record is read again after them). */
  def acks(path: String): AckRecord =
    readText(ackFile(path)).map(AckRecord.parse).getOrElse {
      val legacy = legacyAcks(path)
      readText(ackFile(path)).map(AckRecord.parse).getOrElse(legacy)
    }

  /** The one migration read of the four pre-record sidecar kinds:
    * `_acked_lsn` (scalar), `_acked_lsn@<slot>` and `_ack_lag@<slot>`
    * (URL-encoded slot names) and `_acked_offsets`. Their old read
    * fallback is kept: with no offsets sidecar the scalar is a
    * floor-only offset ("every shard delivered through L"). */
  private def legacyAcks(path: String): AckRecord = {
    val names = Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
    def text(name: String) = readText(new java.io.File(path, name)).map(_.trim)
    def perSlot[A](prefix: String)(parse: String => A): Map[String, A] =
      names.toSeq.filter(_.startsWith(prefix)).flatMap(n => text(n).map(t =>
        java.net.URLDecoder.decode(n.drop(prefix.length), "UTF-8") -> parse(t))).toMap
    val lsn = text("_acked_lsn").map(_.toLong)
    AckRecord(lsn,
      text("_acked_offsets").map(ShardOffsets.parse)
        .orElse(lsn.map(ShardOffsets(_, Map.empty))),
      perSlot("_acked_lsn@")(_.toLong),
      perSlot("_ack_lag@")(AckRecord.lagOf))
  }

  /** THE ack write: under the dir lock, read the record, apply `f`,
    * and publish the result with [[Durable.replaceFile]] when it
    * changed (which also deletes a scratch `_acks*.tmp` a crashed
    * writer left). The first update of a pre-record dir writes the
    * migrated record and deletes the old sidecars. Returns whether `f`
    * changed the record. */
  def updateAcks(path: String)(f: AckRecord => AckRecord): Boolean = {
    // before the lock: withDirLock opens <path>/_acked.lock with
    // CREATE, which throws if the DIRECTORY itself is missing
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    withDirLock(path) {
      val stored = readText(ackFile(path)).map(AckRecord.parse)
      val prev = stored.getOrElse(legacyAcks(path))
      val next = f(prev)
      val migrated = stored.isEmpty && prev != AckRecord()
      if (migrated || next != prev)
        Durable.replaceFile(ackFile(path).toPath, "_acks", ".tmp") { tmp =>
          java.nio.file.Files.write(tmp, AckRecord.json(next)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          true
        }
      // the old sidecars
      if (migrated) new java.io.File(path).listFiles()
        .filter(g => g.getName.startsWith("_ack") &&
          g.getName != "_acked.lock" && g.getName != ackFile(path).getName)
        .foreach(g => { g.delete(); () })
      next != prev
    }
  }

  /** The one rewrite of a frame log's shards, run under the dir lock:
    * each shard is streamed through `rewrite(name, lines, out)` into a
    * scratch file `<shard><random><suffix>`, which replaces the shard
    * when `rewrite` counts a change ([[Durable.replaceFile]]). A crash
    * leaves each shard whole, old or rewritten (shards are
    * independent, so there is no multi-file invariant), and a rerun is
    * idempotent. Returns the per-shard counts. */
  private def rewriteShards(path: String, suffix: String)(
      rewrite: (String, Iterator[String], java.io.Writer) => Long)
      : Map[String, Long] =
    listLogFiles(path).map { p =>
      val f = new java.io.File(p)
      var n = 0L
      Durable.replaceFile(f.toPath, f.getName, suffix) { tmp =>
        val src = scala.io.Source.fromFile(f)
        val out = java.nio.file.Files.newBufferedWriter(tmp,
          java.nio.charset.StandardCharsets.UTF_8)
        try n = rewrite(f.getName, src.getLines(), out)
        finally { out.close(); src.close() }
        n > 0
      }
      f.getName -> n
    }.toMap

  /** WAL recycling for the replay log — the ENFORCEMENT half of the
    * retention story [[graft.streaming.StreamOps.slotRetentionReport]]
    * observes: drop every transaction at or below its shard's
    * [[retentionFloors]] entry, the MINIMUM over every consumer in the
    * ack record — exactly what PostgreSQL does to WAL segments once
    * EVERY slot's `confirmed_flush_lsn` passes them.
    * One [[rewriteShards]] pass (scratch suffix `.trunc`), streaming:
    * never a whole shard in memory (the logs this exists for are the
    * ones too big to keep). A torn final line (crash artifact, never
    * acked by the durable-then-ack contract) is preserved for the
    * reader's own torn-tail handling.
    * Floors are LSNs, so resume positions are untouched: a consumer
    * resuming from its acked floor sees the identical frame sequence
    * before and after truncation. Runs under the directory lock —
    * callers truncate between sessions, not under a live appender.
    * Returns per-file dropped-transaction counts. */
  def truncateFrameLog(path: String): Map[String, Long] =
    withDirLock(path) {
      val floors = retentionFloors(path)
      rewriteShards(path, ".trunc") { (nm, lines, out) =>
        val floor = floors(nm)
        var dropped = 0L
        if (floor != Long.MinValue) lines.foreach { l =>
          if (isComplete(l) && parseLsn(l) <= floor) dropped += 1
          else { out.write(l); out.write("\n") }
        }
        dropped
      }
    }

  /** The prefix every redaction frame starts with: logical-message
    * tag 'M' + non-transactional flag; [[scrubFrameLog]] recognizes
    * its own output by it (idempotent reruns). */
  private val RedactedPrefix = "graft/redacted"

  /** The frame [[scrubFrameLog]] substitutes for a scrubbed one: a
    * pgoutput logical message (tag 'M', the same wire shape
    * `pg_logical_emit_message` produces) at the transaction's own
    * LSN with prefix `graft/redacted` and empty content — decodable
    * by every downstream consumer, carrying no subject bytes, and
    * making the redaction itself visible in the change stream. */
  private[streaming] def redactionFrame(lsn: Long): Array[Byte] =
    graft.cdc.PgoutputWriter.logicalMessage(
      transactional = false, lsn = lsn, prefix = RedactedPrefix,
      content = Array.emptyByteArray)

  /** Best-effort byte recovery from a TORN line: decode every
    * maximal even-length run of lowercase hex found after the frames
    * marker (frame payload hex is the only lowercase-hex content on
    * a line), concatenated — enough to ask "does the partial payload
    * still carry these bytes", never used for replay. */
  private[streaming] def decodeHexRuns(line: String): Array[Byte] = {
    val start = math.max(line.indexOf("\"frames\":["), 0)
    val out = new java.io.ByteArrayOutputStream()
    var i = start
    while (i < line.length) {
      var j = i
      while (j < line.length && isHexChar(line.charAt(j))) j += 1
      var k = i
      while (k + 1 < j) {
        out.write((nibble(line.charAt(k)) << 4) | nibble(line.charAt(k + 1)))
        k += 2
      }
      i = j + 1
    }
    out.toByteArray
  }

  private def isHexChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')

  private def nibble(c: Char): Int =
    if (c <= '9') c - '0' else c - 'a' + 10

  private def containsSlice(hay: Array[Byte], needle: Array[Byte]): Boolean = {
    if (needle.isEmpty || needle.length > hay.length) return false
    var i = 0
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return true
      i += 1
    }
    false
  }

  /** Content-level frame scrub — the legal-hold escape hatch behind
    * the retention-bounded RTBF posture ([[truncateFrameLog]] +
    * q289's exposure census): when "the frames age out once every
    * slot acks past them" is not enough, replace every frame whose
    * BYTES contain a forget subject's needle with a
    * [[redactionFrame]] at the same LSN. Unlike dropping lines, this
    * preserves the shard's line count, LSN sequence, and byte
    * offsets' ORDER, so a consumer resuming from its acked floor
    * sees the same transaction boundaries — the scrub changes
    * payloads, never positions. One [[rewriteShards]] pass (scratch
    * suffix `.scrub`) under the directory lock (same crash contract as
    * truncation: each file is whole-or-scrubbed, reruns idempotent);
    * files without hits are NOT replaced (byte-identical — the
    * file-pruned-erasure contract); a torn final line is preserved
    * as-is. Already-redacted frames never match again (the redaction
    * frame carries no subject bytes), so a rerun reports 0. Needles are raw
    * subject bytes as they appear on the wire (pgoutput text datums:
    * the key's UTF-8 rendering); callers own needle specificity —
    * a needle short enough to collide with wire framing would
    * over-scrub, so use full key renderings, not fragments.
    * Returns per-file scrubbed-frame counts. */
  def scrubFrameLog(path: String,
      needles: Seq[Array[Byte]]): Map[String, Long] = {
    val live = needles.filter(_.nonEmpty)
    withDirLock(path) {
      rewriteShards(path, ".scrub") { (nm, it, out) =>
        var scrubbed = 0L
        // One-line lookahead so the torn-line branch applies ONLY
        // to the file's LAST line (the crash-artifact position):
        // an incomplete line FOLLOWED by more lines is corruption
        // the replay reader (completeLines) refuses to read past,
        // and the scrub must mirror that — silently rewriting or
        // dropping a mid-file tear would destroy evidence of the
        // corruption it sits in (r14 advisor finding).
        if (live.nonEmpty) it.foreach { l =>
          val isLast = !it.hasNext
          if (!isComplete(l)) {
            if (!isLast) throw new IllegalStateException(
              s"$nm has a corrupt frame-log line before end of " +
                "file; only a torn final line (crash artifact) is " +
                "tolerated — scrub refused")
            // A torn final line is a crash artifact — by the
            // durable-then-ack contract it was never acked, so
            // DROPPING it is always safe (truncateFrameLog's
            // documented torn-tail reasoning). Preserving it is
            // the default courtesy to the reader; preserving it
            // when its partial hex still DECODES to subject
            // bytes would be a silent compliance hole the scrub
            // exists to close — so a subject-bearing torn tail
            // is dropped, counted as one scrub. A preserved tail
            // is written WITHOUT a trailing newline (a tear
            // happens mid-write, so the original has none) —
            // appending one would alter bytes the scrub promised
            // to keep identical.
            val partial = decodeHexRuns(l)
            if (live.exists(containsSlice(partial, _))) scrubbed += 1
            else out.write(l)
          }
          else {
            val frames = parseFrames(l)
            if (!frames.exists(fr => live.exists(containsSlice(fr, _))))
              { out.write(l); out.write("\n") } // byte-identical
            else {
              val lsn = parseLsn(l)
              val red = redactionFrame(lsn)
              val kept = frames.map { fr =>
                if (live.exists(containsSlice(fr, _))) {
                  scrubbed += 1; red
                } else fr
              }
              out.write(formatLine(lsn, kept))
              out.write("\n")
            }
          }
        }
        scrubbed
      }
    }
  }

  /** Per-shard retention floors ([[AckRecord.floors]]) of the log's
    * shard files, from one read of the record: ONE derivation shared
    * by the enforcement half ([[truncateFrameLog]]) and the observation
    * half ([[graft.streaming.StreamOps.slotRetentionReport]]) so the
    * dashboard can never disagree with what truncation would do. */
  def retentionFloors(path: String): Map[String, Long] =
    acks(path).floors(listLogFiles(path).map(new java.io.File(_).getName))
}

class CdcReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcReplayTable(properties.asScala.toMap)
}

class CdcReplayTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"cdc-replay(${props.getOrElse("path", "?")})"
  override def schema(): StructType = CdcReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(options.get("path") != null,
      "cdc-replay requires the 'path' option (directory of *.jsonl frame logs)")
    new CdcReplayScanBuilder(options)
  }
}

/** Scan builder with LSN-range filter pushdown (SURVEY §4 O1 made
  * real for this source): `lsn` comparisons become the partitions'
  * (startExclusive, endInclusive) bounds, which the reader turns into
  * skip-head / stop-early I/O on the LSN-sorted shard files — the
  * replay analogue of `START_REPLICATION ... <lsn>` doing the
  * filtering server-side. Accepted filters are applied *exactly*, so
  * they are consumed here and not re-evaluated post-scan. */
class CdcReplayScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private val path = options.get("path")
  private var lsnLowExclusive = Long.MinValue
  private var lsnHighInclusive = Long.MaxValue
  private var pushed = Array.empty[Filter]

  private def num(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // -1 adjustments must not wrap at Long.MinValue — a value at the
    // edge stays unconsumed (Spark evaluates it post-scan) rather
    // than flipping the bound to its opposite
    val remaining = filters.filter {
      case GreaterThan("lsn", v) if num(v).isDefined =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get); false
      case GreaterThanOrEqual("lsn", v)
          if num(v).exists(_ != Long.MinValue) =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get - 1); false
      case LessThan("lsn", v) if num(v).exists(_ != Long.MinValue) =>
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get - 1); false
      case LessThanOrEqual("lsn", v) if num(v).isDefined =>
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get); false
      case EqualTo("lsn", v) if num(v).exists(_ != Long.MinValue) =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get - 1)
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get); false
      case _ => true
    }
    pushed = filters.diff(remaining)
    remaining
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = CdcReplaySource.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      // `startingOffsets` (a full ShardOffsets JSON, e.g. the ack
      // record's offsets) floors each shard at its OWN confirmed
      // LSN — the no-checkpoint resume path; `startingLsn` is the
      // scalar special case (floor-only). A checkpoint, when present,
      // supersedes both (Spark only calls initialOffset without one).
      val initial = Option(options.get("startingOffsets"))
        .map(ShardOffsets.parse)
        .getOrElse(ShardOffsets(
          Option(options.get("startingLsn")).map(parseStart).getOrElse(0L),
          Map.empty))
      new CdcReplayStream(path, initial,
        Option(options.get("maxFramesPerTrigger")).map(_.toLong)
          .getOrElse(Long.MaxValue))
    }
    override def toBatch: Batch = new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        CdcReplaySource.listLogFiles(path)
          .map(f => CdcReplayPartition(f, lsnLowExclusive, lsnHighInclusive)
            : InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new CdcReplayReaderFactory
    }
  }

  private def parseStart(s: String): Long =
    if (s.contains("/")) Lsn.parse(s) else s.toLong
}

/** Per-SHARD offsets — the Kafka-partition model: every shard file
  * advances independently, so a shard whose socket lags (its next
  * transaction carries a LOWER LSN than another shard's already-
  * delivered tail) is never skipped by a single global watermark.
  * `floor` is the stream's startingLsn: shards absent from the map
  * (not yet seen, or empty at the time) start there. Keys are file
  * NAMES, not paths, so checkpoints survive a log-directory move.
  *
  * Legacy checkpoints (a bare LSN — the old single-watermark offset)
  * deserialize as floor-only: "every shard delivered through L",
  * exactly the old semantics. */
case class ShardOffsets(floor: Long, shards: Map[String, Long])
    extends Offset {
  def of(name: String): Long = math.max(floor, shards.getOrElse(name, floor))
  /** `{"floor":F,"shards":{...}}`, names sorted: Spark compares offsets
    * by this string, so its bytes must stay as checkpoints hold them. */
  override def json(): String = ShardOffsets.mapper.writeValueAsString(
    ShardOffsets.write(this, ShardOffsets.mapper.createObjectNode()))
}

object ShardOffsets {
  /** The one JSON codec of the offsets and the [[AckRecord]] holding
    * them. */
  private[streaming] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Writes `so`'s fields into `n`, names sorted; returns `n`. */
  private[streaming] def write(so: ShardOffsets,
      n: com.fasterxml.jackson.databind.node.ObjectNode)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val sh = n.put("floor", so.floor).putObject("shards")
    so.shards.toSeq.sorted.foreach { case (k, v) => sh.put(k, v) }
    n
  }

  /** The offsets in a JSON object; a missing `shards` is floor-only. */
  private[streaming] def read(j: com.fasterxml.jackson.databind.JsonNode)
      : ShardOffsets = {
    def lsn(v: com.fasterxml.jackson.databind.JsonNode): Long = {
      require(v != null && v.isIntegralNumber && v.canConvertToLong,
        s"not an LSN: $v")
      v.asLong()
    }
    require(j != null && j.isObject, s"not an offsets object: $j")
    val sh = Option(j.get("shards")).getOrElse(mapper.createObjectNode())
    require(sh.isObject, s"not a shards object: $sh")
    ShardOffsets(lsn(j.get("floor")),
      sh.properties().asScala.map(e => e.getKey -> lsn(e.getValue)).toMap)
  }

  /** Throws IllegalArgumentException on anything that is not a
    * cdc-replay offset (progress listeners key off that exact type to
    * skip other sources' offsets — a malformed string must not escape
    * as another exception from inside a callback). */
  def parse(json: String): ShardOffsets = {
    val t = json.trim
    try {
      if (t.nonEmpty && t.forall(c => c.isDigit || c == '-'))
        ShardOffsets(t.toLong, Map.empty) // legacy single watermark
      else read(mapper.readTree(t))
    } catch {
      case e @ (_: IllegalArgumentException |
          _: com.fasterxml.jackson.core.JsonProcessingException) =>
        throw new IllegalArgumentException(s"not a cdc-replay offset: $json", e)
    }
  }

  def from(o: Offset): ShardOffsets = o match {
    case s: ShardOffsets => s
    case other => parse(other.json())
  }
}

/** A log dir's whole ack state — the standby-status analogue (A9/A10)
  * of every consumer that acks into the dir, kept in ONE record
  * ([[CdcReplaySource.ackFile]]) so each ack is one locked
  * read-merge-replace ([[CdcReplaySource.updateAcks]]). Every field
  * has its own merge rule and no merge reads another field (a
  * pre-record dir's scalar seeds the offsets once, when it is read),
  * so the order in which one update applies them does not matter:
  *
  *  - `lsn`: the global delivered-through position (the stream's
  *    minimum over delivered shards, a manual or timer ack, a socket
  *    ack) — monotone max;
  *  - `offsets`: PER-SHARD acked positions, the cross-session record
  *    the scalar cannot carry (after shard A acks 500, a lagging shard
  *    B's unseen frames at LSN ≤ 500 must still replay on a resume
  *    without a checkpoint) — floor and entries merged by max;
  *  - `slots`: each socket slot's confirmed position, PostgreSQL's
  *    per-slot `confirmed_flush_lsn` (a slot spans shard FILES, one per
  *    reconnect session, so the slot name is the stable key) —
  *    monotone max;
  *  - `lag`: each slot's live ack-lag census
  *    ([[graft.cdc.AckLagCensus]], read by
  *    [[graft.streaming.StreamOps.ackLagReport]]) with its shard — a
  *    metrics snapshot, so the latest wins. */
final case class AckRecord(
    lsn: Option[Long] = None,
    offsets: Option[ShardOffsets] = None,
    slots: Map[String, Long] = Map.empty,
    lag: Map[String, (String, graft.cdc.AckLagCensus.Stats)] = Map.empty) {

  /** The slot's confirmed position. A record with NO slot positions
    * is single-slot state, where the scalar applies; once any slot
    * has one, an absent slot is fresh and replays from 0 rather than
    * borrow another slot's position. */
  def slot(name: String): Option[Long] =
    slots.get(name).orElse(if (slots.isEmpty) lsn else None)

  /** Per-shard retention floor — the MIN over EVERY consumer's
    * confirmed position: the shard's offsets entry, every slot and
    * the scalar. PostgreSQL recycles WAL at exactly this minimum (a
    * frame is droppable only once every slot has passed it); a slot
    * lagging at 100 pins frames 100..500 even after a checkpointed
    * query acked 500. Long.MinValue: nothing acked, keep everything. */
  def floors(shards: Seq[String]): Map[String, Long] = {
    val so = offsets.getOrElse(ShardOffsets(Long.MinValue, Map.empty))
    val consumers = slots.values.toSeq ++ lsn
    shards.map(nm => nm -> (so.of(nm) +: consumers).min).toMap
  }

  def ack(l: Long): AckRecord = copy(lsn = Some(lsn.fold(l)(math.max(_, l))))

  def ackShards(so: ShardOffsets): AckRecord = {
    val prev = offsets.getOrElse(ShardOffsets(Long.MinValue, Map.empty))
    copy(offsets = Some(ShardOffsets(math.max(prev.floor, so.floor),
      (prev.shards.keySet ++ so.shards.keySet)
        .map(k => k -> math.max(prev.of(k), so.of(k))).toMap)))
  }

  def ackSlot(name: String, l: Long): AckRecord =
    copy(slots = slots.updated(name, slots.get(name).fold(l)(math.max(_, l))))

  def withLag(name: String, shard: String,
      st: graft.cdc.AckLagCensus.Stats): AckRecord =
    copy(lag = lag.updated(name, (shard, st)))
}

object AckRecord {
  import ShardOffsets.mapper
  private type Node = com.fasterxml.jackson.databind.JsonNode

  private def fields(n: Node): Map[String, Node] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  /** One slot's census with its shard: q293's columns. */
  private[streaming] def lagOf(text: String): (String, graft.cdc.AckLagCensus.Stats) =
    lagOf(mapper.readTree(text))

  private def lagOf(j: Node) = (j.path("shard").asText(),
    graft.cdc.AckLagCensus.Stats(j.path("n_frames").asLong(),
      j.path("p50_lag_sec").asLong(), j.path("p99_lag_sec").asLong(),
      j.path("max_lag_sec").asLong(), j.path("slo_milli").asLong()))

  def parse(text: String): AckRecord = {
    val j = mapper.readTree(text)
    require(j.path("version").asInt() == 1,
      s"unsupported ack record version: ${j.path("version")}")
    AckRecord(
      Option(j.get("lsn")).map(_.asLong()),
      Option(j.get("offsets")).map(ShardOffsets.read),
      fields(j.path("slots")).map { case (k, v) => k -> v.asLong() },
      fields(j.path("lag")).map { case (k, v) => k -> lagOf(v) })
  }

  def json(r: AckRecord): String = {
    val o = mapper.createObjectNode().put("version", 1)
    r.lsn.foreach(o.put("lsn", _))
    r.offsets.foreach(ShardOffsets.write(_, o.putObject("offsets")))
    val slots = o.putObject("slots")
    r.slots.toSeq.sorted.foreach { case (k, v) => slots.put(k, v) }
    val lag = o.putObject("lag")
    r.lag.toSeq.sortBy(_._1).foreach { case (k, (shard, st)) =>
      lag.putObject(k).put("shard", shard).put("n_frames", st.nFrames)
        .put("p50_lag_sec", st.p50LagSec).put("p99_lag_sec", st.p99LagSec)
        .put("max_lag_sec", st.maxLagSec).put("slo_milli", st.sloMilli)
    }
    mapper.writeValueAsString(o)
  }
}

class CdcReplayStream(path: String, initial: ShardOffsets,
    maxPerTrigger: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private def startingLsn: Long = initial.floor

  // Incremental LSN index, REFRESHED at every offset poll — the live
  // loop decouples socket ingest from consumption, so frames keep
  // landing while the query runs and each micro-batch must see them
  // (the file-source listing pattern). Per-file cache keyed on
  // (length, mtime): only shards that changed (socket append) or
  // appeared (new client/slot) are re-read; an unchanged 100-shard
  // log costs one directory listing + stat pass per trigger, no IO.
  // Offsets are PER SHARD (ShardOffsets): a lagging shard whose next
  // transaction carries a lower LSN than another shard's delivered
  // tail still gets picked up — a single global watermark would
  // silently skip it.
  /** path → (stat key, parsedBytes high-water mark, entries).
    * `parsedBytes` is the byte offset just past the last COMPLETE
    * line parsed — a torn tail stays unparsed and is retried from
    * the same offset next poll. */
  private val fileCache = scala.collection.mutable
    .Map.empty[String, ((Long, Long), Long, Seq[(Long, Long)])]

  /** Total bytes this stream has parsed into its driver index —
    * observability hook for the incremental-append contract (an
    * appended shard must cost O(delta), not O(file), per poll). */
  @volatile private[streaming] var indexBytesParsed: Long = 0L

  /** Total bytes the driver index has read from disk, the intact
    * check's prefix included — the "each byte once" guard: a poll
    * reads what it parses plus a torn tail and a bounded prefix. */
  @volatile private[streaming] var indexBytesRead: Long = 0L

  /** shard name → (path, (lsn, byteStart) entries), consistent
    * within one poll. Per-file cache keyed on (length, mtime); an
    * APPEND (length grew, prefix untouched by the append-only
    * writer) re-parses only the tail past the high-water mark — the
    * live-tail path where a 100 GB shard must not be re-read per
    * trigger. Anything else that changed (shrunk, or same-length
    * different mtime: a rewrite) re-parses from byte 0. Either way
    * the index is one buffered pass that reads each byte once and
    * yields the new high-water mark with the entries. */
  private def refreshIndex(): Map[String, (String, Seq[(Long, Long)])] =
    synchronized {
      CdcReplaySource.listLogFiles(path).map { f =>
        val file = new java.io.File(f)
        val key = (file.length(), file.lastModified())
        val lsns = fileCache.get(f) match {
          case Some((cached, _, ls)) if cached == key => ls
          case entry =>
            val (from, prior) = entry match {
              case Some((cached, parsed, ls))
                  if cached._1 < file.length() && ls.nonEmpty &&
                    lastEntryIntact(f, ls.last) => (parsed, ls)
              case _ => (0L, Nil)
            }
            val (tail, parsedTo, end) =
              CdcReplaySource.lsnIndexOfFileFrom(f, from)
            // the sort invariant must hold across the append boundary
            for ((last, _) <- prior.lastOption; (lsn, _) <- tail.headOption)
              if (lsn < last) throw new IllegalStateException(
                s"$f is not LSN-sorted ($lsn appended after $last); " +
                  "cdc-replay shards must be written in LSN order")
            val all = prior ++ tail
            indexBytesRead += end - from
            indexBytesParsed += parsedTo - from
            fileCache(f) = (key, parsedTo, all)
            all
        }
        file.getName -> (f, lsns)
      }.toMap
    }

  /** Append-path guard: length growth alone does not prove the
    * prefix is untouched — a line-boundary-aligned truncate-and-
    * rewrite that lands LONGER would otherwise keep stale
    * (lsn, offset) entries pointing into rewritten bytes. Re-read the
    * last cached entry's `{"lsn":<digits>` prefix and compare its
    * LSN; a mismatch rejects the incremental path and forces a full
    * re-parse. One positioned read of at most 27 bytes per poll. */
  private def lastEntryIntact(f: String, last: (Long, Long)): Boolean =
    try {
      val prefix = CdcReplaySource.readPrefix(f, last._2, 7 + 20)
      indexBytesRead += prefix.length
      val line = new String(prefix, java.nio.charset.StandardCharsets.US_ASCII)
      line.startsWith("{\"lsn\":") && CdcReplaySource.parseLsn(line) == last._1
    } catch { case _: Exception => false }

  // Trigger.AvailableNow bound: per-shard tails fixed at query start
  private var availableNowEnd: Option[Map[String, Long]] = None

  override def initialOffset(): Offset = initial

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(refreshIndex().collect {
      case (nm, (_, ls)) if ls.nonEmpty => nm -> ls.last._1
    })

  /** Admission control (the pull-based analogue of the reference's
    * flow control, A12): each micro-batch admits at most
    * maxFramesPerTrigger transactions. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = ShardOffsets.from(start)
    val idx = refreshIndex()
    // pending frames in global LSN order (cross-shard fairness under
    // admission control), each bounded below by ITS OWN shard offset
    val pending: Seq[(Long, String)] = idx.toSeq.flatMap {
      case (nm, (_, ls)) =>
        val cap = availableNowEnd
          .map(_.getOrElse(nm, Long.MinValue)).getOrElse(Long.MaxValue)
        ls.collect { case (l, _) if l > so.of(nm) && l <= cap => (l, nm) }
    }.sorted
    val taken = limit match {
      case r: ReadMaxRows =>
        pending.take(math.min(r.maxRows(), Int.MaxValue.toLong).toInt)
      case _ => pending
    }
    if (taken.isEmpty) so
    else ShardOffsets(so.floor, so.shards ++ taken.groupBy(_._2)
      .view.mapValues(_.map(_._1).max).toMap)
  }

  override def reportLatestOffset(): Offset = {
    val idx = refreshIndex()
    ShardOffsets(startingLsn, idx.collect {
      case (nm, (_, ls)) if ls.nonEmpty => nm -> ls.last._1
    })
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "admission-control latestOffset(start, limit) is used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = ShardOffsets.from(start)
    val e = ShardOffsets.from(end)
    val idx = refreshIndex()
    // one partition per shard that ADVANCED in this batch (an entry
    // whose range is empty reads nothing — skip the task)
    e.shards.toSeq.sortBy(_._1)
      .filter { case (nm, hi) => s.of(nm) < hi }
      .flatMap { case (nm, hi) =>
        idx.get(nm).map { case (file, entries) =>
          // seek straight to the first line of the slice — a growing
          // shard must not be rescanned from byte 0 on every trigger
          val lo = s.of(nm)
          val startByte = entries.find(_._1 > lo).map(_._2).getOrElse(
            new java.io.File(file).length())
          CdcReplayPartition(file, lo, hi, startByte): InputPartition
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReplayReaderFactory

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.parse(json)

  /** The standby-status analogue: persist the acked LSN (A9/A10) —
    * the GLOBAL delivered-through position is the minimum across the
    * shards' delivered tails (a lagging shard holds the ack horizon
    * back, exactly like the slowest partition holds a consumer
    * group's committed watermark). */
  override def commit(end: Offset): Unit = {
    val e = ShardOffsets.from(end)
    val acked =
      if (e.shards.isEmpty) e.floor else math.max(e.floor, e.shards.values.min)
    CdcReplaySource.updateAcks(path)(_.ackShards(e).ack(acked))
    ()
  }

  /** Per-trigger source metrics (`progress.sources(i).metrics`): the
    * driver index's byte counters, and `txBehindLatest`, the indexed
    * transactions past the consumed offset (0 once caught up). */
  override def metrics(
      latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] =
    synchronized {
      val consumed = if (latestConsumedOffset.isPresent)
        ShardOffsets.from(latestConsumedOffset.get) else initial
      val behind = fileCache.iterator.map { case (f, (_, _, ls)) =>
        val done = consumed.of(new java.io.File(f).getName)
        ls.count(_._1 > done).toLong
      }.sum
      Map("indexBytesParsed" -> indexBytesParsed.toString,
        "indexBytesRead" -> indexBytesRead.toString,
        "txBehindLatest" -> behind.toString).asJava
    }

  override def stop(): Unit = ()
}

/** (start, end] slice of one log file; the reader seeks to
  * `startByte` (0 = head — the batch path has no driver index). */
case class CdcReplayPartition(file: String, startExclusive: Long,
    endInclusive: Long, startByte: Long = 0L) extends InputPartition

class CdcReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcReplayPartition]
    new PartitionReader[InternalRow] {
      private val source = CdcReplaySource.openLines(p.file, p.startByte)._1
      // log files are LSN-sorted per shard — a FORMAT INVARIANT that
      // both the streaming offsets and the pushed-down batch bounds
      // rely on. Monotonicity is checked on every line this reader
      // consumes (and over whole files in lsnIndex, which the stream
      // path always builds), so an out-of-order producer fails loudly
      // instead of silently losing rows. The sorted tail past
      // endInclusive terminates the scan early; the LSN is parsed
      // once per line.
      private var lastSeen = Long.MinValue
      private val rows = CdcReplaySource
        .completeLines(p.file, source.getLines())
        .map { l =>
          val lsn = CdcReplaySource.parseLsn(l)
          if (lsn < lastSeen) throw new IllegalStateException(
            s"${p.file} is not LSN-sorted ($lsn after $lastSeen); " +
              "cdc-replay shards must be written in LSN order")
          lastSeen = lsn
          (lsn, l)
        }
        .dropWhile(_._1 <= p.startExclusive)
        .takeWhile(_._1 <= p.endInclusive)
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!rows.hasNext) return false
        val (lsn, line) = rows.next()
        val frames = CdcReplaySource.parseFrames(line)
        current = InternalRow(
          lsn,
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
            frames.toArray))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = source.close()
    }
  }
}
