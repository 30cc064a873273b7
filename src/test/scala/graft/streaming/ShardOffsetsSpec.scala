package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The cdc-replay offset/ack-record contracts (r9 advisor): JSON
  * robustness of ShardOffsets (progress listeners parse arbitrary
  * sources' offsets inside callbacks — failure must be the typed
  * IllegalArgumentException they catch, never a stray
  * StringIndexOutOfBounds), name escaping, and the per-shard /
  * per-slot ack-record merge semantics both resume paths build on.
  */
class ShardOffsetsSpec extends AnyFunSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("shardoff").toString

  /** A sidecar exactly as versions before the ack record wrote it. */
  private def legacyFile(dir: String, name: String, text: String): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), text)
    ()
  }

  test("legacy bare-LSN offset deserializes as floor-only") {
    val so = ShardOffsets.parse("  12345 ")
    assert(so == ShardOffsets(12345L, Map.empty))
    assert(so.of("any.jsonl") == 12345L)
  }

  test("json round-trips, including quote/backslash shard names") {
    val so = ShardOffsets(7L,
      Map("part-0.jsonl" -> 100L, "we\"ird\\name" -> 200L))
    val back = ShardOffsets.parse(so.json())
    assert(back == so)
    assert(back.of("we\"ird\\name") == 200L)
  }

  test("a floor with no shards key is a valid floor-only offset") {
    // the r9 low finding: this used to StringIndexOutOfBounds
    assert(ShardOffsets.parse("""{"floor":42}""") ==
      ShardOffsets(42L, Map.empty))
  }

  test("non-offsets raise IllegalArgumentException, nothing else") {
    for (bad <- Seq("{}", "not json", """{"floor":"x"}""", ""))
      intercept[IllegalArgumentException] { ShardOffsets.parse(bad) }
  }

  test("json bytes stay as checkpoints hold them: plain, quote and " +
      "backslash names") {
    // Spark compares offsets by their json string
    assert(ShardOffsets(7L, Map("part-1.jsonl" -> 200L,
      "part-0.jsonl" -> 100L)).json() ==
      """{"floor":7,"shards":{"part-0.jsonl":100,"part-1.jsonl":200}}""")
    assert(ShardOffsets(-1L, Map("a\"b" -> 1L)).json() ==
      """{"floor":-1,"shards":{"a\"b":1}}""")
    assert(ShardOffsets(0L, Map("a\\b" -> 2L)).json() ==
      """{"floor":0,"shards":{"a\\b":2}}""")
    assert(ShardOffsets(Long.MinValue, Map.empty).json() ==
      """{"floor":-9223372036854775808,"shards":{}}""")
  }

  test("an LSN that is not an integer is not an offset") {
    for (bad <- Seq("""{"floor":1.5}""", """{"floor":1,"shards":[]}""",
        """{"floor":1,"shards":{"a":"2"}}""", "[1]", "-"))
      intercept[IllegalArgumentException] { ShardOffsets.parse(bad) }
  }

  test("of(): shards floor at the global floor, never below") {
    val so = ShardOffsets(100L, Map("a" -> 50L, "b" -> 200L))
    assert(so.of("a") == 100L) // a stale per-shard entry can't regress
    assert(so.of("b") == 200L)
    assert(so.of("unseen") == 100L)
  }

  test("ackShards merges per-shard monotonically") {
    val dir = tmpDir()
    CdcReplaySource.updateAcks(dir)(_.ackShards(
      ShardOffsets(0L, Map("p0" -> 100L, "p1" -> 300L))))
    // a later write can only push entries forward; a stale lower
    // entry for p1 and a new shard p2 merge correctly
    CdcReplaySource.updateAcks(dir)(_.ackShards(
      ShardOffsets(0L, Map("p0" -> 250L, "p1" -> 50L, "p2" -> 10L))))
    val got = CdcReplaySource.acks(dir).offsets.get
    assert(got.of("p0") == 250L)
    assert(got.of("p1") == 300L) // stale 50 lost against 300
    assert(got.of("p2") == 10L)
  }

  test("a floor-lift (manual global ack) raises every shard's resume") {
    val dir = tmpDir()
    CdcReplaySource.updateAcks(dir)(_.ackShards(
      ShardOffsets(Long.MinValue, Map("p0" -> 100L))))
    CdcReplaySource.updateAcks(dir)(_.ackShards(ShardOffsets(500L, Map.empty)))
    val got = CdcReplaySource.acks(dir).offsets.get
    assert(got.of("p0") == 500L)
    assert(got.of("unseen") == 500L)
  }

  test("legacy dirs: scalar sidecar seeds the per-shard record once") {
    val dir = tmpDir()
    legacyFile(dir, "_acked_lsn", "400") // pre-upgrade state
    assert(CdcReplaySource.acks(dir).offsets
      .contains(ShardOffsets(400L, Map.empty)))
    // first per-shard write inherits the legacy global as its floor
    // (the documented single-slot semantics of the old scalar)
    CdcReplaySource.updateAcks(dir)(_.ackShards(
      ShardOffsets(Long.MinValue, Map("p0" -> 100L))))
    val got = CdcReplaySource.acks(dir).offsets.get
    assert(got.floor == 400L && got.of("p0") == 400L)
  }

  test("per-slot positions: fresh slot never borrows; legacy falls back") {
    val dir = tmpDir()
    // pure legacy dir: global scalar applies to any slot
    legacyFile(dir, "_acked_lsn", "200")
    assert(CdcReplaySource.acks(dir).slot("s1").contains(200L))
    // once any slot has its own record, absence = fresh slot = None
    CdcReplaySource.updateAcks(dir)(_.ackSlot("s1", 300L))
    assert(CdcReplaySource.acks(dir).slot("s1").contains(300L))
    assert(CdcReplaySource.acks(dir).slot("s2").isEmpty)
    // monotonic: a stale write can't regress
    CdcReplaySource.updateAcks(dir)(_.ackSlot("s1", 250L))
    assert(CdcReplaySource.acks(dir).slot("s1").contains(300L))
    // slot names with path-hostile characters are kept as they are
    CdcReplaySource.updateAcks(dir)(_.ackSlot("a/b slot", 10L))
    assert(CdcReplaySource.acks(dir).slot("a/b slot").contains(10L))
  }
}
