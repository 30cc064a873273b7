package graft.streaming

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
}
