package graft.streaming

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** A frame log is read while the socket client is still appending to
  * it: a line half-written when the read opened must end that read as
  * a torn tail, never turn into "a torn line followed by more lines"
  * (the mid-file-corruption error) once the writer finishes it. */
class LiveTailReadSpec extends AnyFunSuite {

  private def shard(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("live-tail").toString
    CdcReplaySource.writeLogShard(dir, 0,
      Seq((10L, Seq(Array[Byte](1))), (20L, Seq(Array[Byte](2)))))
    new java.io.File(dir, "part-0.jsonl")
  }

  private def append(f: java.io.File, text: String): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(text) finally w.close()
  }

  private def readAll(f: java.io.File): Seq[Long] = {
    val r = new CdcReplayReaderFactory().createReader(
      CdcReplayPartition(f.getPath, 0L, Long.MaxValue))
    try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => r.get().getLong(0)).toList
    finally r.close()
  }

  test("the partition reader stops at the length it opened with") {
    val f = shard()
    append(f, """{"lsn":30,"frames":["2a""") // the writer is mid-line
    val r = new CdcReplayReaderFactory().createReader(
      CdcReplayPartition(f.getPath, 0L, Long.MaxValue))
    try {
      assert(r.next() && r.get().getLong(0) == 10L)
      // reading 20 looks ahead to the torn line at end of file
      assert(r.next() && r.get().getLong(0) == 20L)
      // the writer finishes the line and appends the next transaction
      append(f, "2b\"]}\n" + """{"lsn":40,"frames":["2c"]}""" + "\n")
      assert(!r.next(), "the torn line ends this read")
    } finally r.close()
    assert(readAll(f) == Seq(10L, 20L, 30L, 40L),
      "the next read sees the finished lines whole")
    assert(CdcReplaySource.lsnIndexOfFile(f.getPath).map(_._1) ==
      Seq(10L, 20L, 30L, 40L))
  }

  test("the driver index polls while the writer completes torn lines") {
    val f = shard()
    val stream = new CdcReplayStream(f.getParent,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    def poll(): Long = ShardOffsets.from(stream.latestOffset(
      stream.initialOffset(), ReadLimit.allAvailable())).of(f.getName)
    append(f, """{"lsn":30,"frames":["2a""")
    assert(poll() == 20L, "a torn tail is not indexed")
    // each line lands in two writes while the index polls: a poll that
    // opens on a torn line must end there, never fail as corrupt
    val lsns = 30L to 2000L by 10L
    val body = "2b" * 2000
    val writer = new Thread(() => {
      append(f, body + "\"]}\n")
      lsns.tail.foreach { l =>
        append(f, s"""{"lsn":$l,"frames":["$body""")
        append(f, "\"]}\n")
      }
    })
    writer.start()
    var seen = 20L
    while (writer.isAlive) {
      val at = poll()
      assert(at >= seen, s"the indexed tail went back from $seen to $at")
      seen = at
    }
    writer.join()
    assert(poll() == lsns.last)
    // a poll that stats the file mid-write can see the new mtime at the
    // old length, which the index treats as a rewrite (full re-parse);
    // so only the quiet append after the race is held to one parse
    val (parsed, len) = (stream.indexBytesParsed, f.length())
    append(f, """{"lsn":2010,"frames":["2c"]}""" + "\n")
    assert(poll() == 2010L)
    assert(stream.indexBytesParsed - parsed == f.length() - len,
      "the appended bytes are parsed exactly once")
  }

  test("a line indexed before its newline: the next poll consumes the " +
      "newline, and an empty line before more is still corrupt") {
    val f = shard()
    val stream = new CdcReplayStream(f.getParent,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    def poll(): Long = ShardOffsets.from(stream.latestOffset(
      stream.initialOffset(), ReadLimit.allAvailable())).of(f.getName)
    // the writer's `]}` reached the file before its newline
    append(f, """{"lsn":30,"frames":["2a"]}""")
    assert(poll() == 30L, "a complete final line is indexed")
    append(f, "\n" + """{"lsn":40,"frames":["2b"]}""" + "\n")
    assert(poll() == 40L, "the newline ends line 30, not an empty line")
    assert(stream.indexBytesParsed == f.length(), "each byte parsed once")
    assert(readAll(f) == Seq(10L, 20L, 30L, 40L))
    // a real empty line before more lines is corruption, as before
    append(f, "\n" + """{"lsn":50,"frames":["2c"]}""" + "\n")
    val e = intercept[IllegalStateException](poll())
    assert(e.getMessage.contains("corrupt frame-log line"))
  }
}
