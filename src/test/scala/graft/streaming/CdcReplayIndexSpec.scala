package graft.streaming

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** The driver index's incremental-append contract: a growing shard
  * costs O(appended bytes) per poll, not O(file) — the live-tail
  * property that keeps a 100 GB shard's offset polls cheap. Torn
  * tails are retried from the same high-water mark; rewrites
  * (shrink, same-length mtime change, or a changed last entry) fall
  * back to a full re-parse. A poll reads each byte from disk once. */
class CdcReplayIndexSpec extends AnyFunSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("replay-index").toString

  private def frame(i: Int): Seq[Array[Byte]] =
    Seq(Array.fill[Byte](32)(i.toByte))

  private def poll(s: CdcReplayStream): ShardOffsets =
    ShardOffsets.from(
      s.latestOffset(s.initialOffset(), ReadLimit.allAvailable()))

  test("appends parse only the tail; torn tails retry; rewrites " +
      "re-parse fully") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 200).map(i => (i * 10L, frame(i % 120))))
    val f = new java.io.File(dir, "part-0.jsonl")
    val fullLen = f.length()

    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 2000L)
    val afterFirst = stream.indexBytesParsed
    assert(afterFirst == fullLen, "first poll parses the whole shard")

    // append one transaction -> only its bytes are parsed
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println("""{"lsn":2010,"frames":["2a2b"]}""")
    w.close()
    assert(poll(stream).of("part-0.jsonl") == 2010L,
      "the appended transaction must be visible")
    val delta = stream.indexBytesParsed - afterFirst
    assert(delta == f.length() - fullLen,
      s"append must cost O(delta) bytes, parsed $delta")

    // torn tail: unfinished line is invisible and retried in place
    val lenBeforeTorn = f.length()
    val parsedBeforeTorn = stream.indexBytesParsed
    val w2 = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w2.print("""{"lsn":2020,"frames":["2c""") // no terminator
    w2.close()
    assert(poll(stream).of("part-0.jsonl") == 2010L,
      "a torn tail must not deliver")
    assert(stream.indexBytesParsed == parsedBeforeTorn,
      "nothing complete to parse past the high-water mark")
    // the writer finishes the line -> exactly the torn tx parses
    val w3 = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w3.println("""2d"]}""")
    w3.close()
    assert(poll(stream).of("part-0.jsonl") == 2020L)
    assert(stream.indexBytesParsed - parsedBeforeTorn ==
      f.length() - lenBeforeTorn)

    // rewrite (shrink): full re-parse of the rewritten file
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 3).map(i => (i * 10L, frame(i))))
    val parsedBeforeRewrite = stream.indexBytesParsed
    assert(poll(stream).of("part-0.jsonl") == 30L)
    assert(stream.indexBytesParsed - parsedBeforeRewrite == f.length())
  }

  private def append(f: java.io.File, text: String): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(text) finally w.close()
  }

  test("each byte is read once: a multi-MB last line is not re-read") {
    val dir = tmpDir()
    // the last transaction is one 2.2 MB frame: a 4.4 MB hex line
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 50).map(i => (i * 10L, frame(i))) :+
        (1000L -> Seq(Array.fill[Byte](2200000)(7.toByte))))
    val f = new java.io.File(dir, "part-0.jsonl")
    assert(f.length() >= 4000000L)
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 1000L)
    assert(stream.indexBytesParsed == f.length())
    assert(stream.indexBytesRead <= f.length() + 64,
      s"first poll read ${stream.indexBytesRead} bytes of a " +
        s"${f.length()}-byte shard")

    val lenBefore = f.length()
    val readBefore = stream.indexBytesRead
    append(f, "{\"lsn\":1010,\"frames\":[\"2a2b\"]}\n")
    assert(poll(stream).of("part-0.jsonl") == 1010L)
    val appended = f.length() - lenBefore
    assert(stream.indexBytesParsed == f.length())
    assert(stream.indexBytesRead - readBefore <= appended + 64,
      s"a $appended-byte append read ${stream.indexBytesRead - readBefore}")
  }

  test("a final line without a trailing newline, then an append") {
    val dir = tmpDir()
    val f = new java.io.File(dir, "part-0.jsonl")
    append(f, "{\"lsn\":10,\"frames\":[\"01\"]}\n" +
      "{\"lsn\":20,\"frames\":[\"02\"]}") // complete, no newline
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 20L)
    assert(stream.indexBytesParsed == f.length(),
      "the high-water mark stops at end of file")
    val lenBefore = f.length()
    append(f, "{\"lsn\":30,\"frames\":[\"03\"]}\n")
    assert(poll(stream).of("part-0.jsonl") == 30L,
      "the append is read from its first byte")
    assert(stream.indexBytesParsed == f.length(),
      "the appended bytes are parsed exactly once")
  }

  test("a longer rewrite that changes the last cached LSN re-parses fully") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0,
      Seq(10L, 20L, 30L).map(l => (l, frame(l.toInt))))
    val f = new java.io.File(dir, "part-0.jsonl")
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 30L)
    val lenBefore = f.length()
    // same line boundaries for the first three lines, a new LSN at the
    // cached last offset, and one more line: the file only grew
    CdcReplaySource.writeLogShard(dir, 0,
      Seq(10L, 20L, 35L, 40L).map(l => (l, frame(l.toInt))))
    assert(f.length() > lenBefore)
    val parsedBefore = stream.indexBytesParsed
    assert(poll(stream).of("part-0.jsonl") == 40L)
    assert(stream.indexBytesParsed - parsedBefore == f.length(),
      "a changed last entry must take the full re-parse path")
  }

  test("an appended out-of-order LSN fails loudly at the boundary") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0, Seq((100L, frame(1))))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 100L)
    val f = new java.io.File(dir, "part-0.jsonl")
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println("""{"lsn":50,"frames":[]}""") // regresses
    w.close()
    val e = intercept[IllegalStateException] { poll(stream) }
    assert(e.getMessage.contains("LSN order"))
  }
}
