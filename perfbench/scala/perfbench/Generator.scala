package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, File, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.cdc._

/** The load generator: a walsender analogue in its own process, one
  * thread, one connection at a time. It speaks the replication
  * protocol through the repo's public encoders (`PgStartup`, `WalWire`,
  * `Transport`, the plugin writers in [[ChangeStream]]), and
  *
  *  - `live`: paces seeded Poisson arrivals over a ladder of rates
  *    (`rate:seconds,...`; the first rung is a warm-up). Each
  *    transaction is stamped with its due time (commit timestamp and the
  *    `due_us` column) and followed by a keepalive, as a walsender idles
  *    between commits, so the client can close the transaction without
  *    waiting for the next one. How late each send ran is recorded.
  *  - `backlog`: pre-renders one seeded change stream for the four
  *    plugins and serves it as fast as the socket takes it, one slot
  *    (`bench_<plugin>`) per connection; the pgoutput slot also carries
  *    the huge-UPDATE fixture.
  *
  * A connection is closed only after a standby status confirms the
  * final LSN, so the client never sees an end of stream with work in
  * flight. The ground truth (per-transaction due/sent times and the
  * final live rows) goes to the truth file when all slots are served.
  *
  *   Generator live <seed> <ladder> <portFile> <truthFile>
  *   Generator backlog <seed> <txs> <bigRows> <portFile> <truthFile>
  */
object Generator {
  private def nowUs: Long = System.currentTimeMillis() * 1000L

  final class Conn(sock: Socket) {
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(60000)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    var confirmed = 0L
    var statuses = 0

    /** libpq startup and START_REPLICATION; returns the slot name. */
    def handshake(): String = {
      var su = PgStartup.readUntagged(in).get
      if (new BinaryReader(su).readInt32() == PgStartup.SslRequestCode) {
        out.write('N'); out.flush()
        su = PgStartup.readUntagged(in).get
      }
      val (proto, params) = PgStartup.parse(su)
      require(proto == PgStartup.Protocol30 &&
        params.get("replication").contains("database"), s"bad startup $params")
      WalWire.write(out, 'R', new BinaryWriter().writeInt32(0).result())
      WalWire.write(out, 'S', new BinaryWriter().writeString("server_version")
        .writeString("16.4").result())
      WalWire.write(out, 'K', new BinaryWriter().writeInt32(1).writeInt32(2).result())
      WalWire.write(out, 'Z', Array[Byte]('I'))
      out.flush()
      val q = WalWire.read(in).get
      require(q.tag == 'Q', s"expected Query, got ${q.tag}")
      val sql = new String(q.body, UTF_8)
      val slot = "SLOT \"([^\"]+)\"".r.findFirstMatchIn(sql).get.group(1)
      WalWire.write(out, 'W', new BinaryWriter().writeUint8(0).writeInt16(0).result())
      out.flush()
      slot
    }

    private def readStatus(): Unit = WalWire.read(in) match {
      case Some(WalWire.Msg('d', body)) if body.nonEmpty && body(0) == 'r' =>
        statuses += 1
        val st = Transport.decodeStandbyStatus(body)
        if (st.flushed > confirmed) confirmed = st.flushed
      case Some(_) => ()
      case None => throw new java.io.EOFException("client closed early")
    }

    /** Consume whatever standby statuses already arrived. */
    def drainStatuses(): Unit = while (in.available() > 0) readStatus()

    def send(lsn: Long, frames: Seq[Array[Byte]]): Long = {
      var bytes = 0L
      val t = nowUs
      frames.foreach { f =>
        WalWire.write(out, 'd', Transport.encodeXLogData(lsn, lsn, t, f))
        bytes += f.length
      }
      bytes
    }

    def keepalive(lsn: Long, respond: Boolean): Unit =
      WalWire.write(out, 'd', Transport.encodeKeepalive(lsn, nowUs, respond))

    /** Ask for a reply at `lastLsn` and block until the client's
      * standby status confirms it (flushed = lastLsn + 1), then close. */
    def finish(lastLsn: Long): Unit = {
      keepalive(lastLsn, respond = true)
      out.flush()
      while (confirmed <= lastLsn) readStatus()
      sock.close()
    }
  }

  private def listen(portFile: String): ServerSocket = {
    val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val tmp = new File(portFile + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, server.getLocalPort.toString)
    require(tmp.renameTo(new File(portFile)))
    server
  }

  private def writeTruth(path: String, txLines: Iterator[String],
      rows: Map[(String, Long), Seq[String]], stats: Seq[(String, Any)]): Unit = {
    val w = new PrintWriter(new File(path + ".tmp"), "UTF-8")
    try {
      txLines.foreach(w.println)
      rows.foreach { case ((t, id), v) => w.println(("row" +: t +: v).mkString("\t")) }
      stats.foreach { case (k, v) => w.println(s"stat\t$k\t$v") }
    } finally w.close()
    require(new File(path + ".tmp").renameTo(new File(path)))
  }

  def live(seed: Long, ladder: Seq[(Double, Double)], portFile: String,
      truthFile: String): Unit = {
    val server = listen(portFile)
    val conn = new Conn(server.accept())
    conn.handshake()
    val model = new ChangeStream.Model(seed)
    val arrivals = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val announced = mutable.HashSet.empty[String]
    val txs = new StringBuilder
    var lastLsn = 0L
    val t0 = System.nanoTime() + 20000000L // first arrival 20 ms out
    var due = t0
    val wallAtT0 = System.currentTimeMillis() * 1000L +
      (t0 - System.nanoTime()) / 1000L
    var rungStart = t0
    ladder.zipWithIndex.foreach { case ((rate, secs), rung) =>
      val rungEnd = rungStart + (secs * 1e9).toLong
      due = math.max(due, rungStart)
      while (due < rungEnd) {
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val dueUs = wallAtT0 + (due - t0) / 1000L
        val tx = model.next(dueUs, rung)
        conn.send(tx.lsn, ChangeStream.pgoutput(tx, announced))
        conn.keepalive(tx.lsn, respond = false)
        conn.out.flush()
        conn.drainStatuses()
        val sentUs = wallAtT0 + (System.nanoTime() - t0) / 1000L
        txs ++= s"tx\t${tx.lsn}\t$dueUs\t$rung\t$sentUs\t${tx.changes.size}\n"
        lastLsn = tx.lsn
        // exponential inter-arrival gap: a Poisson process at `rate`
        due += (-math.log(1.0 - arrivals.nextDouble()) / rate * 1e9).toLong
      }
      rungStart = rungEnd
    }
    conn.finish(lastLsn)
    server.close()
    writeTruth(truthFile, txs.toString.linesIterator, model.snapshot,
      Seq("statuses" -> conn.statuses))
  }

  def backlog(seed: Long, nTx: Int, bigRows: Int, portFile: String,
      truthFile: String): Unit = {
    val model = new ChangeStream.Model(seed)
    val small = (1 to nTx).map(_ => model.next(0L, 0))
    val (big, bigRowsTruth) =
      if (bigRows > 0) ChangeStream.bigTxs(model.lastIndex + 1, bigRows, 0L)
      else (Nil, Map.empty[(String, Long), Seq[String]])
    val server = listen(portFile)
    val served = mutable.LinkedHashMap.empty[String, (Int, Long, Double)]
    while (served.size < ChangeStream.Plugins.size) {
      val conn = new Conn(server.accept())
      val plugin = conn.handshake().stripPrefix("bench_")
      val t = System.nanoTime()
      val announced = mutable.HashSet.empty[String]
      val log = if (plugin == "pgoutput") small ++ big else small
      var bytes = 0L
      log.zipWithIndex.foreach { case (tx, i) =>
        val frames = plugin match {
          case "pgoutput" => ChangeStream.pgoutput(tx, announced)
          case "test_decoding" => ChangeStream.testDecoding(tx)
          case "wal2json" => ChangeStream.wal2json(tx)
          case "decoderbufs" => ChangeStream.decoderbufs(tx)
        }
        bytes += conn.send(tx.lsn, frames)
        if ((i & 63) == 0) conn.drainStatuses()
      }
      conn.finish(log.last.lsn)
      served(plugin) = (log.size, bytes, (System.nanoTime() - t) / 1e9)
    }
    server.close()
    val txLines = (small.iterator.map(tx => s"tx\t${tx.lsn}\t0\t0\t0\t${tx.changes.size}") ++
      big.iterator.map(tx => s"bigtx\t${tx.lsn}\t0\t0\t0\t${tx.changes.size}"))
    writeTruth(truthFile, txLines, model.snapshot ++ bigRowsTruth,
      served.toSeq.flatMap { case (p, (n, b, s)) =>
        Seq(s"$p.txs" -> n, s"$p.bytes" -> b, s"$p.serve_s" -> s)
      })
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "live" =>
      val ladder = args(2).split(",").toSeq.map { r =>
        val Array(rate, secs) = r.split(":"); (rate.toDouble, secs.toDouble)
      }
      live(args(1).toLong, ladder, args(3), args(4))
    case "backlog" =>
      backlog(args(1).toLong, args(2).toInt, args(3).toInt, args(4), args(5))
  }
}
