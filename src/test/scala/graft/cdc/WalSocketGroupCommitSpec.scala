package graft.cdc

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcReplaySource

/** Group commit in the socket client: completed transactions collect
  * while more input is already buffered, and one log write, one
  * ack-record update and one standby status cover the group when
  * the receive buffer drains or the group fills. Every check here
  * counts; none times anything.
  */
class WalSocketGroupCommitSpec extends AnyFunSuite {

  private def tx(lsn: Long, i: Int): (Long, Seq[Array[Byte]]) =
    (lsn, Seq(PgoutputWriter.begin(lsn, 1700000000000000L + i, i.toLong)))

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The LSNs of the complete (newline-terminated) lines of a shard. */
  private def loggedLsns(dir: String): Set[Long] = {
    val f = new java.io.File(dir, "part-0.jsonl")
    if (!f.exists) Set.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      StandardCharsets.US_ASCII).split("\n", -1).init
      .map(l => l.substring(7, l.indexOf(',')).toLong).toSet
  }

  /** A status hook asserting durable-before-ack: when the server
    * receives flushed = L + 1, the log already holds the complete line
    * of every transaction at or below L, and the slot's entry in the
    * ack record is already at L or past it. Faults are collected, not
    * thrown (the hook runs on the server's ack-reader thread). */
  private def durableBeforeAck(dir: String, slot: String, lsns: Seq[Long],
      faults: ConcurrentLinkedQueue[String])(st: Transport.StandbyStatus): Unit = {
    val l = st.flushed - 1
    val missing = lsns.filter(_ <= l).toSet -- loggedLsns(dir)
    if (missing.nonEmpty)
      faults.add(s"ack of $l arrived before lines ${missing.toSeq.sorted.take(5)}")
    if (!CdcReplaySource.acks(dir).slot(slot).exists(_ >= l))
      faults.add(s"ack of $l arrived before the slot's record entry reached it")
  }

  test("a 2000-transaction backlog in one write: one ack per full group, " +
      "each after its lines are logged") {
    val n = 2000
    val log = (1 to n).map(i => tx(i * 10L, i))
    val faults = new ConcurrentLinkedQueue[String]()
    val dir = tmpDir("walsock-group")
    val server = new LoopbackWalServer(log, writeBufferBytes = 1 << 20,
      onStatus = durableBeforeAck(dir, "slot_group", log.map(_._1), faults))
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_group", dir, shard = 0).run()
      assert(r.txs.map(_._1) == log.map(_._1))
      assert(server.confirmedFlush == n * 10L + 1)
      assert(loggedLsns(dir) == log.map(_._1).toSet)
      val bound = (n + 255) / 256 + 2
      val statuses = server.receivedStatuses.size
      info(s"$statuses standby statuses, ${r.groupCommits} publications")
      assert(statuses <= bound, s"$statuses standby statuses for $n txs")
      assert(r.groupCommits <= bound,
        s"${r.groupCommits} ack-record updates for $n txs")
      assert(faults.isEmpty, faults.asScala.mkString("\n"))
    } finally server.close()
  }

  test("ackEveryTxs = 1 acks every transaction of the same backlog") {
    val n = 200
    val log = (1 to n).map(i => tx(i * 10L, i))
    val server = new LoopbackWalServer(log, writeBufferBytes = 1 << 20)
    val dir = tmpDir("walsock-every")
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_every", dir, shard = 0,
        ackEveryTxs = 1).run()
      assert(r.txs.size == n)
      // one per transaction, the last one by the final keepalive reply
      assert(server.receivedStatuses.map(_.flushed) == log.map(_._1 + 1))
      assert(r.groupCommits == n)
    } finally server.close()
  }

  test("a server that waits on each ack still gets one per transaction " +
      "(acknowledge.auto parity)") {
    val n = 20
    val log = (1 to n).map(i => tx(i * 10L, i))
    val faults = new ConcurrentLinkedQueue[String]()
    val dir = tmpDir("walsock-paced")
    val server = new LoopbackWalServer(log, pacedAcks = true,
      onStatus = durableBeforeAck(dir, "slot_paced", log.map(_._1), faults))
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_paced", dir, shard = 0).run()
      assert(r.txs.size == n)
      // each transaction's own ack, in order (the final keepalive's
      // reply may land after the server has hung up)
      assert(server.receivedStatuses.map(_.flushed).take(n) ==
        log.map(_._1 + 1))
      assert(faults.isEmpty, faults.asScala.mkString("\n"))
    } finally server.close()
  }

  test("a group closes at MaxGroupBytes of pending lines, however much " +
      "input is buffered") {
    val log = (1 to 24).map(i =>
      (i * 10L, Seq(Array.fill[Byte](100 << 10)(i.toByte))))
    val server = new LoopbackWalServer(log, writeBufferBytes = 8 << 20)
    val dir = tmpDir("walsock-bytes")
    try {
      val r = new WalSocketClient("127.0.0.1", server.port,
        new PgoutputFormat(), "slot_bytes", dir, shard = 0).run()
      assert(r.txs.map(_._1) == log.map(_._1))
      assert(server.confirmedFlush == 241L)
      // split the delivered lines at the acked LSNs: no group's lines
      // outgrow the bound by more than the line that closed it
      val acked = server.receivedStatuses.map(_.flushed - 1).toSet
      val bytes = r.txs.map { case (l, fs) =>
        l -> (CdcReplaySource.formatLine(l, fs).length + 1) }
      val groups = bytes.foldLeft((List.empty[Int], 0)) {
        case ((done, open), (l, b)) =>
          if (acked(l)) ((open + b) :: done, 0) else (done, open + b)
      }._1
      assert(groups.sum == bytes.map(_._2).sum, "every line acked")
      assert(groups.forall(_ <= WalSocketClient.MaxGroupBytes + bytes.map(_._2).max),
        s"group bytes ${groups.reverse}")
    } finally server.close()
  }
}
