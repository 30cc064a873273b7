package graft.cdc

import java.io.{BufferedInputStream, DataInputStream, IOException, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import graft.cdc.WalWire.nowMicros

/** PostgreSQL wire framing for the replication CopyBoth subprotocol:
  * every message is `[tag:1][length:4 BE, includes itself][body]`. The
  * reference receives these pre-deframed by the `pg` driver (its
  * `copyData` handler gets only the body —
  * `logical-replication-service.ts:144`) and sends the standby status
  * with `sendCopyFromChunk` (`:297`); here both directions carry the
  * explicit framing so a socket really is the transport.
  */
object WalWire {
  /** Wall clock in Unix µs, the unit of the wire's timestamp fields. */
  private[cdc] def nowMicros: Long = System.currentTimeMillis() * 1000L

  final case class Msg(tag: Byte, body: Array[Byte])

  /** Does NOT flush — callers control batching (flush after the
    * handshake, after keepalives, and with each covering ack; the
    * in-between stream rides the buffer for throughput). */
  def write(out: OutputStream, tag: Int, body: Array[Byte]): Unit =
    out.write(new BinaryWriter().writeUint8(tag).writeInt32(body.length + 4)
      .writeBytes(body).result())

  /** Frames above this are protocol garbage, not data — a corrupted
    * length field must fail the read, not attempt a multi-GB alloc
    * (PG's own wire limit for a single message is 1 GB; CopyData
    * frames here are transaction-frame-sized). */
  val MaxFrameBytes: Int = 64 << 20

  /** None on orderly EOF (peer closed between messages). */
  def read(in: DataInputStream): Option[Msg] = {
    val tag = in.read()
    if (tag < 0) return None
    val len = in.readInt()
    require(len >= 4 && len - 4 <= MaxFrameBytes,
      s"wire message length $len outside [4, ${MaxFrameBytes + 4}]")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    Some(Msg(tag.toByte, body))
  }
}

/** libpq connection startup (PostgreSQL frontend/backend protocol
  * v3.0) — the exchange `pg.Client` performs before the reference can
  * issue anything (`logical-replication-service.ts:72-87` connects
  * with `replication: 'database'`, which is what puts the backend in
  * walsender mode). Startup-phase client messages are UNTAGGED —
  * `[len:4 BE, includes itself][body]` — unlike every later message;
  * the server's replies are tagged normally. Implements the subset a
  * replication client needs: optional SSLRequest probe (answered 'N'
  * — no TLS here), StartupMessage key/value params, AuthenticationOk
  * / CleartextPassword, ParameterStatus, BackendKeyData,
  * ReadyForQuery, ErrorResponse.
  */
object PgStartup {
  val Protocol30 = 196608      // 3 << 16
  val SslRequestCode = 80877103

  def writeUntagged(out: OutputStream, body: Array[Byte]): Unit =
    out.write(new BinaryWriter().writeInt32(body.length + 4)
      .writeBytes(body).result())

  /** None on orderly EOF before any startup bytes. A close AFTER the
    * first header byte is not orderly — each remaining header read is
    * EOF-checked, so a peer dying mid-header surfaces as a closed
    * connection instead of -1 bytes folding into a garbage length
    * (which would mis-report as a bounds failure). */
  def readUntagged(in: DataInputStream): Option[Array[Byte]] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
    if ((b1 | b2 | b3) < 0) throw new java.io.EOFException(
      "connection closed inside a startup-message length header")
    val len = ((b0 & 0xff) << 24) | ((b1 & 0xff) << 16) |
      ((b2 & 0xff) << 8) | (b3 & 0xff)
    require(len >= 4 && len - 4 <= WalWire.MaxFrameBytes,
      s"startup message length $len outside [4, bound]")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    Some(body)
  }

  def sslRequestBody: Array[Byte] =
    new BinaryWriter().writeInt32(SslRequestCode).result()

  def startupBody(params: Seq[(String, String)]): Array[Byte] = {
    val w = new BinaryWriter().writeInt32(Protocol30)
    params.foreach { case (k, v) => w.writeString(k).writeString(v) }
    w.writeUint8(0).result()
  }

  /** (protocol code, params); params empty for SSLRequest. */
  def parse(body: Array[Byte]): (Int, Map[String, String]) = {
    val r = new BinaryReader(body)
    val proto = r.readInt32()
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    while (r.remaining > 1) m += (r.readString() -> r.readString())
    (proto, m.toMap)
  }

  /** The MD5 password response: `'md5' + md5hex(md5hex(pw || user)
    * + salt)` — PG's pre-SCRAM scheme (protocol docs, AuthenticationMD5Password). */
  def md5Password(password: String, user: String,
      salt: Array[Byte]): String = {
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val md = java.security.MessageDigest.getInstance("MD5")
    val inner = hex(md.digest(
      (password + user).getBytes(StandardCharsets.UTF_8)))
    md.reset()
    md.update(inner.getBytes(StandardCharsets.UTF_8))
    md.update(salt)
    "md5" + hex(md.digest())
  }

  /** ErrorResponse body: (code byte + cstring)* + terminator, with
    * the severity/code/message fields every client reads. */
  def errorBody(sqlState: String, message: String): Array[Byte] =
    new BinaryWriter()
      .writeUint8('S').writeString("ERROR")
      .writeUint8('C').writeString(sqlState)
      .writeUint8('M').writeString(message)
      .writeUint8(0).result()

  /** The `M` (message) field of an ErrorResponse body, or
    * "server error" when the server sent none. */
  def errorMessage(body: Array[Byte]): String = {
    val r = new BinaryReader(body)
    var msg = "server error"
    var c = r.readUint8()
    while (c != 0) {
      val s = r.readString()
      if (c == 'M') msg = s
      c = r.readUint8()
    }
    msg
  }
}

/** A walsender analogue: serves a recorded frame log over a local TCP
  * socket in CopyBoth framing, so the full live loop the reference
  * runs against PostgreSQL (`logical-replication-service.ts:126-185`)
  * can be exercised end-to-end without a server — connect, receive
  * START_REPLICATION, reply CopyBothResponse, stream XLogData +
  * keepalives, collect 34-byte standby statuses off the wire.
  *
  * Replay honors the START_REPLICATION position: only transactions
  * with `lsn > start` are sent (the server-side filtering that
  * `uptoLsn` resume relies on, `acknowledge.spec.ts:70-75`).
  *
  * @param log            (commitLsn, frames) transactions, LSN-sorted
  * @param keepaliveAfter 1-based tx indices (within a connection)
  *                       after which a shouldRespond keepalive is sent;
  *                       index 0 = one keepalive before any data
  * @param dropAfterTxs   close the connection after this many txs —
  *                       once, for reconnect tests; subsequent
  *                       connections stream to completion
  * @param holdOpenMillis keep the connection open this long after the
  *                       stream ends (quiet wire — lets tests observe
  *                       the client's periodic re-ack timer)
  */
final class LoopbackWalServer(
    log: Seq[(Long, Seq[Array[Byte]])],
    keepaliveAfter: Set[Int] = Set.empty,
    dropAfterTxs: Option[Int] = None,
    holdOpenMillis: Long = 0L,
    /** Chaos: cut EVERY connection after it has served this many
      * transactions (never cleared, unlike dropAfterTxs) — the
      * flapping-walsender harness. */
    dropEveryTxs: Option[Int] = None,
    /** Chaos: on the first connection only, close cleanly after
      * sending `frames` frames of the `tx`-th pending transaction
      * (1-based) — a cut on a message boundary INSIDE a transaction,
      * indistinguishable at the socket layer from end-of-stream. */
    dropMidTxFrames: Option[(Int, Int)] = None,
    /** When set, startup demands password auth and rejects a
      * mismatch with ErrorResponse 28P01 — the walsender side of
      * pg.Client's password option. */
    password: Option[String] = None,
    /** "cleartext" (R/3) or "scram-sha-256" (R/10..12, RFC 7677) —
      * PG's default since v10. Only meaningful with `password`. */
    authMethod: String = "cleartext",
    /** Chaos: after serving this many txs (first connection only),
      * send an ErrorResponse with this message instead of more data —
      * the walsender kill path (slot dropped / conflict with
      * recovery / slot stolen). */
    errorAfterTxs: Option[(Int, String)] = None,
    /** End the stream with the full CopyDone → CommandComplete →
      * ReadyForQuery shutdown (the clean COPY-mode exit; a logical
      * slot normally streams forever, so this is opt-in). */
    copyDoneOnEnd: Boolean = false,
    /** Accept the SSLRequest probe with 'S' and upgrade the
      * connection to TLS before startup (reference: ClientConfig
      * `ssl` passthrough, `logical-replication-service.ts:75-78`);
      * false keeps the clear-text 'N' fallback. */
    tls: Boolean = false,
    /** With tls: demand a CLIENT certificate chained to the loopback
      * store (mutual TLS) — a certless client fails the session. */
    requireClientCert: Boolean = false,
    /** Socket write buffer: a stream shorter than it leaves in one
      * write at the final keepalive — a backlog queued in full before
      * the client reads any of it. */
    writeBufferBytes: Int = 1 << 16,
    /** Follow each transaction with a keepalive that asks no reply and
      * wait (up to 5 s) for the client to confirm it before sending
      * the next — a source whose next commit waits on the previous
      * one's ack. */
    pacedAcks: Boolean = false,
    /** Called on the ack-reader thread as each standby status arrives,
      * before it is recorded — lets specs inspect the client's
      * durable state at the moment an ack lands. */
    onStatus: Transport.StandbyStatus => Unit = _ => ()) {

  private val server = new ServerSocket(0)
  def port: Int = server.getLocalPort

  private val statuses = ArrayBuffer.empty[Transport.StandbyStatus]
  private val starts = ArrayBuffer.empty[String]
  private val startups = ArrayBuffer.empty[Map[String, String]]
  private val saslMechs = ArrayBuffer.empty[String]
  @volatile private var confirmed = 0L
  @volatile private var drop = dropAfterTxs
  @volatile private var errAfter = errorAfterTxs
  @volatile private var midTx = dropMidTxFrames
  @volatile private var running = true

  /** Standby statuses received, in arrival order. */
  def receivedStatuses: Seq[Transport.StandbyStatus] =
    synchronized(statuses.toList)
  /** Highest flushed position acknowledged by the client. */
  def confirmedFlush: Long = confirmed
  /** START_REPLICATION commands received, one per connection. */
  def startCommands: Seq[String] = synchronized(starts.toList)
  /** StartupMessage parameter maps received, one per connection. */
  def startupParams: Seq[Map[String, String]] = synchronized(startups.toList)
  /** SASL mechanisms clients actually negotiated, in arrival order —
    * lets specs assert -PLUS was really chosen over a TLS session. */
  def negotiatedSaslMechanisms: Seq[String] = synchronized(saslMechs.toList)

  private val acceptThread = new Thread(() => {
    while (running) {
      try serve(server.accept())
      catch { case _: IOException => () } // closed server / dropped conn
    }
  }, "loopback-walsender")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def close(): Unit = { running = false; server.close() }

  /** TLS sessions completed (handshake + startup over the encrypted
    * channel) — lets specs assert the wire really was upgraded. */
  @volatile private var tlsCount = 0
  def tlsSessions: Int = tlsCount

  private def serve(sock: Socket): Unit = {
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new java.io.BufferedOutputStream(sock.getOutputStream,
      writeBufferBytes)
    var sslSock: Option[javax.net.ssl.SSLSocket] = None
    try {
      // ---- libpq startup preceding any command ---------------------
      // (logical-replication-service.ts:72-87: pg.Client connects with
      // replication: 'database' before plugin.start can run)
      var su = PgStartup.readUntagged(in).getOrElse(return)
      if (new BinaryReader(su).readInt32() == PgStartup.SslRequestCode) {
        if (tls) {
          // 'S': the TLS handshake starts NOW on the raw stream (the
          // SSLRequest bytes are fully consumed); everything after —
          // startup, auth, COPY — rides the encrypted channel
          out.write('S'); out.flush()
          val ssl =
            if (requireClientCert) Tls.wrapServerMutual(sock)
            else Tls.wrapServer(sock)
          in = new DataInputStream(
            new BufferedInputStream(ssl.getInputStream))
          out = new java.io.BufferedOutputStream(ssl.getOutputStream,
            writeBufferBytes)
          sslSock = Some(ssl)
          tlsCount += 1
        } else {
          out.write('N'); out.flush() // clear-text fallback
        }
        su = PgStartup.readUntagged(in).getOrElse(return)
      }
      val (proto, params) = PgStartup.parse(su)
      require(proto == PgStartup.Protocol30, s"protocol $proto")
      synchronized(startups += params)
      if (!params.get("replication").contains("database")) {
        // a walsender only accepts logical replication sessions opened
        // with replication=database — reject anything else up front
        WalWire.write(out, 'E', PgStartup.errorBody("55000",
          "logical replication requires replication=database"))
        out.flush(); return
      }
      def authFail(): Unit = {
        WalWire.write(out, 'E', PgStartup.errorBody("28P01",
          s"password authentication failed for user " +
            s""""${params.getOrElse("user", "?")}""""))
        out.flush()
      }
      password match {
        case Some(pw) if authMethod == "scram-sha-256" =>
          // AuthenticationSASL: advertise the mechanism list. On a
          // TLS session the server's certificate exists, so -PLUS is
          // offered FIRST (PG lists it before the plain mechanism);
          // cleartext sessions advertise plain SCRAM only.
          // A cert whose binding digest cannot be derived (e.g. an
          // RSASSA-PSS signature, which RFC 5929 leaves undefined —
          // Scram.tlsServerEndPoint refuses it) must NOT tear the
          // connection down mid-advertise: PG's own behavior is to
          // keep serving and simply not offer -PLUS, so the failure
          // degrades to plain SCRAM over the still-encrypted channel
          // (r12 advisor finding).
          val cbind = sslSock.flatMap(s =>
            scala.util.Try(Scram.tlsServerEndPoint(
              s.getSession.getLocalCertificates()(0)
                .asInstanceOf[java.security.cert.X509Certificate]))
              .toOption)
          val mechs =
            cbind.map(_ => Scram.MechanismPlus).toSeq :+ Scram.Mechanism
          val adv = new BinaryWriter().writeInt32(10)
          mechs.foreach(adv.writeString)
          WalWire.write(out, 'R', adv.writeUint8(0).result())
          out.flush()
          val init = WalWire.read(in).getOrElse(return)
          val ir = new BinaryReader(init.body)
          val mech = ir.readString()
          if (init.tag != 'p' || !mechs.contains(mech)) {
            authFail(); return
          }
          synchronized { saslMechs += mech }
          val cfLen = ir.readInt32()
          val clientFirst = ir.readText(cfLen)
          val salt = new Array[Byte](16)
          new java.security.SecureRandom().nextBytes(salt)
          val scram = new Scram.Server(pw, salt, 4096,
            java.util.UUID.randomUUID().toString.replace("-", ""),
            offeredPlus = cbind.nonEmpty,
            plusNegotiated = mech == Scram.MechanismPlus,
            cbindData = cbind.getOrElse(Array.emptyByteArray))
          val serverFirst =
            try scram.handleClientFirst(clientFirst)
            catch { case _: IllegalArgumentException =>
              authFail(); return
            }
          WalWire.write(out, 'R', new BinaryWriter().writeInt32(11)
            .writeBytes(serverFirst.getBytes(StandardCharsets.UTF_8))
            .result())
          out.flush()
          val fin = WalWire.read(in).getOrElse(return)
          if (fin.tag != 'p') { authFail(); return }
          scram.handleClientFinal(
            new String(fin.body, StandardCharsets.UTF_8)) match {
            case Left(_) => authFail(); return
            case Right(v) =>
              WalWire.write(out, 'R', new BinaryWriter().writeInt32(12)
                .writeBytes(v.getBytes(StandardCharsets.UTF_8)).result())
          }
        case Some(pw) if authMethod == "md5" =>
          // AuthenticationMD5Password: 4-byte salt; expected reply is
          // 'md5' || md5(md5(password || user) || salt) in hex —
          // the pre-SCRAM scheme PG still accepts (public docs §55.2)
          val salt = new Array[Byte](4)
          new java.security.SecureRandom().nextBytes(salt)
          WalWire.write(out, 'R',
            new BinaryWriter().writeInt32(5).writeBytes(salt).result())
          out.flush()
          val pm = WalWire.read(in).getOrElse(return)
          val got = new BinaryReader(pm.body).readString()
          val want = PgStartup.md5Password(pw,
            params.getOrElse("user", ""), salt)
          if (pm.tag != 'p' || got != want) { authFail(); return }
        case Some(pw) =>
          WalWire.write(out, 'R',
            new BinaryWriter().writeInt32(3).result()) // CleartextPassword
          out.flush()
          val pm = WalWire.read(in).getOrElse(return)
          val got = new BinaryReader(pm.body).readString()
          if (pm.tag != 'p' || got != pw) { authFail(); return }
        case None => ()
      }
      WalWire.write(out, 'R',
        new BinaryWriter().writeInt32(0).result()) // AuthenticationOk
      Seq("server_version" -> "16.4", "integer_datetimes" -> "on",
        "server_encoding" -> "UTF8").foreach { case (k, v) =>
        WalWire.write(out, 'S',
          new BinaryWriter().writeString(k).writeString(v).result())
      }
      WalWire.write(out, 'K', new BinaryWriter()
        .writeInt32(4242).writeInt32(117117).result()) // BackendKeyData
      WalWire.write(out, 'Z', Array[Byte]('I')) // ReadyForQuery, idle
      out.flush()

      // simple-query START_REPLICATION, as the reference's plugin.start
      // issues through the pg client (`pgoutput-plugin.ts:31`)
      val q = WalWire.read(in).getOrElse(return)
      require(q.tag == 'Q', s"expected Query, got tag ${q.tag}")
      val sql = new String(q.body, StandardCharsets.UTF_8).takeWhile(_ != 0)
      synchronized(starts += sql)
      val start = raw"LOGICAL ([0-9A-Fa-f]+/[0-9A-Fa-f]+)".r
        .findFirstMatchIn(sql).map(m => Lsn.parse(m.group(1))).getOrElse(0L)

      // CopyBothResponse: overall format 0, no columns
      WalWire.write(out, 'W',
        new BinaryWriter().writeUint8(0).writeInt16(0).result())
      out.flush()

      // acks arrive concurrently with the outbound stream
      val reader = new Thread(() => {
        try {
          var m = WalWire.read(in)
          while (m.isDefined) {
            m.get match {
              case WalWire.Msg('d', body) if body.nonEmpty && body(0) == 'r' =>
                val st = Transport.decodeStandbyStatus(body)
                onStatus(st)
                synchronized(statuses += st)
                if (Lsn.compare(st.flushed, confirmed) > 0) confirmed = st.flushed
              case _ => () // reference warns and drops unknown tags (:147-149)
            }
            m = WalWire.read(in)
          }
        } catch { case _: IOException => () }
      }, "loopback-walsender-ack-reader")
      reader.setDaemon(true)
      reader.start()

      if (keepaliveAfter(0)) {
        WalWire.write(out, 'd',
          Transport.encodeKeepalive(start, nowMicros, shouldRespond = true))
        out.flush()
      }

      var sent = 0
      val pending = log.filter(_._1 > start)
      for ((lsn, frames) <- pending) {
        if (midTx.exists(_._1 == sent + 1)) {
          // clean close after a PREFIX of this transaction's frames:
          // at the socket layer this EOF looks exactly like a normal
          // end of stream — the client must not treat it as a commit
          val k = midTx.get._2
          frames.take(k).foreach { f =>
            WalWire.write(out, 'd',
              Transport.encodeXLogData(lsn, lsn, nowMicros, f))
          }
          midTx = None; out.flush(); sock.close(); return
        }
        frames.foreach { f =>
          WalWire.write(out, 'd', Transport.encodeXLogData(lsn, lsn, nowMicros, f))
        }
        sent += 1
        if (pacedAcks) {
          WalWire.write(out, 'd',
            Transport.encodeKeepalive(lsn, nowMicros, shouldRespond = false))
          out.flush()
          val deadline = System.currentTimeMillis() + 5000
          while (Lsn.compare(confirmed, lsn) <= 0 &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(1)
        }
        if (keepaliveAfter(sent)) {
          WalWire.write(out, 'd',
            Transport.encodeKeepalive(lsn, nowMicros, shouldRespond = true))
          out.flush()
        }
        // a drop flushes first: the cut lands between messages, the
        // client sees a clean EOF with exactly `sent` transactions
        // delivered-but-unconfirmed (the last one replays: no
        // following message ever evidences its completeness)
        if (errAfter.exists(_._1 == sent)) {
          // walsender kill: an explicit ErrorResponse, then close —
          // unlike the silent drops above, the client must SURFACE it
          WalWire.write(out, 'E',
            PgStartup.errorBody("57P01", errAfter.get._2))
          errAfter = None; out.flush(); sock.close(); return
        }
        if (drop.contains(sent) || dropEveryTxs.contains(sent)) {
          drop = None; out.flush(); sock.close(); return
        }
      }

      // final keepalive, then hold the connection until the tail ack
      // lands (flushed = lastLsn + 1) or a bounded wait elapses
      val lastLsn = if (pending.isEmpty) start else pending.last._1
      WalWire.write(out, 'd',
        Transport.encodeKeepalive(lastLsn, nowMicros, shouldRespond = true))
      out.flush()
      val deadline = System.currentTimeMillis() + 5000
      while (Lsn.compare(confirmed, lastLsn) <= 0 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      if (holdOpenMillis > 0) Thread.sleep(holdOpenMillis)
      if (copyDoneOnEnd) {
        WalWire.write(out, 'c', Array.emptyByteArray) // CopyDone
        WalWire.write(out, 'C',
          new BinaryWriter().writeString("COPY 0").result())
        WalWire.write(out, 'Z', Array[Byte]('I'))
        out.flush()
      }
    } finally sock.close()
  }
}

/** The client half of the reference's runtime loop
  * (`logical-replication-service.ts:126-185`), over a real socket:
  * connect, issue the plugin's START_REPLICATION from the confirmed
  * position, demux CopyData into XLogData / keepalive
  * ([[Transport.demux]], `:146-174`), group frames into transactions
  * by walStart, append each to the cdc-replay frame log *durably
  * before acking* (the at-least-once contract: an ack claims
  * delivery, so the log write precedes it), auto-ack delivered
  * transactions (`acknowledge.auto`, `:186-191`), and reply
  * immediately to shouldRespond keepalives with the last seen LSN
  * (`:165-173` — the reference overwrites `_lastLsn` with keepalive
  * LSNs too, so the reply position advances even between
  * transactions).
  *
  * Acks are group commits, as PostgreSQL's own walreceiver does them:
  * completed transactions collect while more input is already
  * buffered, and one log write, one ack-record update and one
  * standby status cover the group once the receive buffer is drained
  * (or the group reaches `ackEveryTxs` transactions or
  * [[WalSocketClient.MaxGroupBytes]]). A transaction whose successor
  * has not arrived yet is acked at once; in a backlog catch-up, one
  * ack covers up to `ackEveryTxs` transactions.
  *
  * The delivered log feeds [[graft.streaming.ReplicationSession]] /
  * the cdc-replay source: socket ingest and Spark consumption are
  * decoupled exactly as a production deployment would shard them.
  */
final class WalSocketClient(
    host: String, port: Int,
    format: CdcFormat, slotName: String,
    logDir: String, shard: Int,
    /** The most delivered transactions one ack may cover — the
      * crash-replay window: the log is written BEFORE the covering
      * ack, so a crash replays at most this many. Group commit acks
      * sooner whenever the receive buffer drains, so a live stream is
      * acked per transaction and only a backlog fills whole groups.
      * 1 acks every transaction on its own. Keepalive replies, stream
      * end and errors always flush+ack pending work immediately. */
    ackEveryTxs: Int = 256,
    /** Re-ack the confirmed position when no standby status has been
      * sent for this long — the reference's `checkStandbyStatus` 1 s
      * timer (`logical-replication-service.ts:231-248`,
      * `acknowledge.timeoutSeconds` default 10). 0 disables. */
    ackTimeoutSeconds: Int = 0,
    /** Startup credentials — the pg.Client connection options the
      * reference forwards (`logical-replication-service.ts:72-80`);
      * replication=database is always sent. */
    user: String = "postgres",
    database: String = "postgres",
    password: Option[String] = None,
    /** Require TLS: send SSLRequest, demand 'S', and run startup +
      * auth + the COPY stream over the encrypted channel (reference:
      * ClientConfig `ssl` passthrough). false keeps the clear-text
      * expectation ('N'). Superseded by `sslmode` when that is set. */
    tls: Boolean = false,
    /** libpq sslmode (reference parity: pg.Client's ssl ClientConfig,
      * `logical-replication-service.ts:75-78`):
      *  - "disable": no SSLRequest at all — straight to startup
      *  - "require": SSLRequest, demand 'S', encrypt WITHOUT
      *    certificate validation (libpq's require semantics)
      *  - "verify-ca": demand 'S', validate the certificate chain
      *    against `sslRootStore` (the built-in loopback store when
      *    None); hostname NOT checked
      *  - "verify-full": verify-ca plus the hostname via endpoint
      *    identification
      * None keeps the legacy `tls`-flag behavior (tls=true ≈
      * verify-full against the loopback store; tls=false sends the
      * probe and insists on the clear-text 'N'). */
    sslmode: Option[String] = None,
    /** PKCS12 CA store for verify-ca/verify-full — libpq's
      * sslrootcert. */
    sslRootStore: Option[String] = None,
    sslRootStorePass: Option[Array[Char]] = None,
    /** PKCS12 keypair offered when the server requests CLIENT
      * authentication (mutual TLS) — libpq's sslcert/sslkey. */
    sslClientStore: Option[String] = None,
    sslClientStorePass: Option[Array[Char]] = None) {

  require(sslmode.forall(
    Set("disable", "require", "verify-ca", "verify-full").contains),
    s"unsupported sslmode '${sslmode.get}' " +
      "(expected disable | require | verify-ca | verify-full)")

  /** `groupCommits`: flushAndAck calls — each one log write, one
    * ack-record update and one standby status. `acksSent` also
    * counts the re-ack timer's statuses. */
  final case class RunResult(
      txs: Seq[(Long, Seq[Array[Byte]])],
      heartbeats: Int,
      acksSent: Int,
      groupCommits: Int)

  @volatile private var srvParams = Map.empty[String, String]
  @volatile private var backend = (0, 0)
  /** ParameterStatus values announced during the last startup. */
  def serverParameters: Map[String, String] = srvParams
  /** BackendKeyData (pid, secret) from the last startup. */
  def backendKeyData: (Int, Int) = backend

  /** Connect and consume until the server closes; returns what was
    * delivered this session. Resume position: the slot's entry in the
    * log dir's ack record (the reference's default of continuing from
    * the server-confirmed position). */
  def run(): RunResult = {
    // Resume from THIS SLOT's confirmed position (PG: per-slot
    // confirmed_flush_lsn), not the global scalar: after another
    // slot's client acked 500, this slot's undelivered frames at
    // LSN ≤ 500 must replay. The slot — not the shard file — is the
    // stable key, because each reconnect session appends a new
    // part-N shard while remaining the same logical stream. A dir
    // with no slot positions falls back to the global scalar's
    // documented single-slot semantics.
    val resume = graft.streaming.CdcReplaySource.acks(logDir)
      .slot(slotName).getOrElse(0L)
    var sock: Socket = new Socket(host, port)
    sock.setSoTimeout(30000)
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val shardName = s"part-$shard.jsonl"
    val logFile = new java.io.File(logDir, shardName)
    logFile.getParentFile.mkdirs()
    val logOut = new java.io.FileOutputStream(logFile, /* append = */ true)
    // the pending group's complete lines, handed to the OS in one write
    // at flushAndAck: a buffered writer would flush mid-line
    var group = new java.io.ByteArrayOutputStream()

    val delivered = ArrayBuffer.empty[(Long, Seq[Array[Byte]])]
    var heartbeats = 0
    var acks = 0
    var commits = 0
    var lastLsn = resume
    var curLsn = -1L
    var curFrames = ArrayBuffer.empty[Array[Byte]]

    // socket writes can come from the read loop AND the re-ack timer
    val writeLock = new Object
    def sendStatus(lsn: Long): Unit = writeLock.synchronized {
      try {
        WalWire.write(out, 'd', Transport.standbyStatus(lsn, nowMicros))
        out.flush()
        acks += 1
      } catch { case _: IOException => () } // server already gone: the
      // unacked tail replays next session (at-least-once)
    }
    // A11 in the live loop: the AckScheduler re-sends the confirmed
    // position when the wire has been quiet past the timeout — the
    // liveness signal a walsender uses to not kill the slot.
    // The census rides inside it (q293's live twin): delivery→ack
    // latency per advancing LSN, published into the ack record's
    // slot entry with every ack (as of the previous ack: the record
    // precedes the status that closes this group) and at session end,
    // so the SLO pane (`StreamOps.ackLagReport`) tracks a RUNNING
    // session, not just finished ones.
    val lagCensus = new AckLagCensus()
    val scheduler = new AckScheduler(math.max(ackTimeoutSeconds, 1),
      send = lsn => sendStatus(lsn), census = lagCensus)
    def publishLag(): Unit =
      try graft.streaming.CdcReplaySource.updateAcks(logDir)(
        _.withLag(slotName, shardName, lagCensus.census()))
      catch { case scala.util.control.NonFatal(_) => () } // the census
      // alone is best-effort telemetry: ANY failure in its lock/temp-
      // file path (not just IO) must never kill the live replication loop
    @volatile var closed = false
    val ackTimer: Option[Thread] =
      if (ackTimeoutSeconds <= 0) None
      else Some {
        val t = new Thread(() => {
          try while (!closed) { Thread.sleep(200); scheduler.tick() }
          catch { case _: InterruptedException => () }
        }, "wal-socket-ack-timer")
        t.setDaemon(true)
        t.start()
        t
      }

    // durable-then-ack: write the group's lines, publish the ack record
    // (one locked update), THEN send the covering standby status
    var sinceAck = 0
    var groupLsn = -1L
    def flushAndAck(lsn: Long): Unit = {
      // a failed log write must fail the run, never pass for a socket
      // cut (whose handler acks pending work)
      try group.writeTo(logOut)
      catch { case e: IOException => throw new java.io.UncheckedIOException(e) }
      // a huge transaction's buffer is not kept for the whole session
      if (group.size() > WalSocketClient.MaxGroupBytes)
        group = new java.io.ByteArrayOutputStream()
      else group.reset()
      // the slot's confirmed_flush_lsn (what this stream resumes from;
      // one slot's ack never advances another's), this shard's offsets
      // entry (floor left open, so a no-checkpoint resume never floors
      // a shard this slot did not ack), the scalar and the census
      graft.streaming.CdcReplaySource.updateAcks(logDir)(_
        .ackSlot(slotName, lsn)
        .ackShards(graft.streaming.ShardOffsets(Long.MinValue, Map(shardName -> lsn)))
        .ack(lsn).withLag(slotName, shardName, lagCensus.census()))
      scheduler.delivered(lsn)
      // position 0 is the scheduler's InvalidLsn sentinel — a
      // keepalive reply at the stream origin still goes on the wire
      if (lsn != Lsn.InvalidLsn) scheduler.ack() // send + reset timer
      else sendStatus(lsn)
      sinceAck = 0
      commits += 1
    }
    // group commit: ack once the receive buffer is drained — the next
    // transaction is not here yet — or the group is full
    def commitIfDue(): Unit =
      if (sinceAck > 0 && (sinceAck >= ackEveryTxs ||
          group.size() >= WalSocketClient.MaxGroupBytes || in.available() == 0))
        flushAndAck(groupLsn)
    // ---- pgoutput session schema registry ---------------------------
    // A real walsender announces each table's Relation ('R') and any
    // custom Type ('Y') message ONCE per decoding session (and again
    // only after DDL invalidates the cache) — NOT once per
    // transaction. The replay log's contract is the opposite: every
    // line decodes standalone (`CdcFunctions.decodeFrameSequence`
    // builds a fresh parser per line). Bridge the two here: cache the
    // latest schema frames as they stream by and PREPEND the ones a
    // transaction references but did not itself announce, making each
    // logged line self-contained. The registry is O(tables) — the
    // same bounded payload PG's own relcache invalidation model
    // implies. pgoutput only (text formats carry no schema frames);
    // proto-v2 streamed segments are untouched (the walsender streams
    // a transaction's Relation messages inside its own S..E blocks).
    val isPgoutput = format.isInstanceOf[PgoutputFormat]
    val relRegistry =
      scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
    val typeRegistry =
      scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
    def int32At(f: Array[Byte], at: Int): Int =
      ((f(at) & 0xff) << 24) | ((f(at + 1) & 0xff) << 16) |
        ((f(at + 2) & 0xff) << 8) | (f(at + 3) & 0xff)
    // Proto-v2 guard: frames between stream_start ('S') and
    // stream_stop ('E') carry an xid PREFIX before the usual layout,
    // so their byte-1 int32 is the transaction id, not a relation
    // OID. The walsender streams a transaction's schema messages
    // inside its own S..E blocks (in-segment, already line-local),
    // so the registry ignores in-stream frames entirely — caching or
    // referencing them would key garbage.
    var inV2Stream = false
    def observeSchemaFrame(payload: Array[Byte]): Unit =
      if (isPgoutput && payload.length >= 1) payload(0) match {
        case 'S' => inV2Stream = true
        case 'E' => inV2Stream = false
        case 'R' if !inV2Stream && payload.length >= 5 =>
          relRegistry(int32At(payload, 1)) = payload
        case 'Y' if !inV2Stream && payload.length >= 5 =>
          typeRegistry(int32At(payload, 1)) = payload
        case _ => ()
      }
    def referencedRels(frames: Seq[Array[Byte]]): Set[Int] = {
      var inStream = false
      frames.iterator.flatMap { f =>
        if (f.isEmpty) Iterator.empty
        else f(0) match {
          case 'S' => inStream = true; Iterator.empty
          case 'E' => inStream = false; Iterator.empty
          case _ if inStream || f.length < 5 => Iterator.empty
          case 'I' | 'U' | 'D' => Iterator.single(int32At(f, 1))
          case 'T' if f.length >= 6 + 4 * int32At(f, 1) =>
            val n = int32At(f, 1) // Int32 nrels, Int8 options, oids
            (0 until n).iterator.map(i => int32At(f, 6 + 4 * i))
          case _ => Iterator.empty
        }
      }.toSet
    }
    def selfContained(frames: Seq[Array[Byte]]): Seq[Array[Byte]] = {
      if (!isPgoutput) return frames
      val announced = {
        var inStream = false
        frames.iterator.filter { f =>
          if (f.nonEmpty && f(0) == 'S') inStream = true
          else if (f.nonEmpty && f(0) == 'E') inStream = false
          !inStream && f.length >= 5 && f(0) == 'R'
        }.map(int32At(_, 1)).toSet
      }
      val needed = (referencedRels(frames) -- announced)
        .toSeq.sorted.flatMap(relRegistry.get)
      if (needed.isEmpty) frames
      // types first (they feed relation parsing), then the relations
      else typeRegistry.values.toSeq ++ needed ++ frames
    }
    def finishTx(): Unit = if (curLsn >= 0) {
      val frames = selfContained(curFrames.toSeq)
      group.write(graft.streaming.CdcReplaySource.formatLine(curLsn, frames)
        .getBytes(StandardCharsets.US_ASCII))
      group.write('\n')
      delivered += ((curLsn, frames))
      if (Lsn.compare(curLsn, lastLsn) > 0) lastLsn = curLsn
      groupLsn = curLsn
      sinceAck += 1
      curLsn = -1L
      curFrames = ArrayBuffer.empty
    }

    try {
      // ---- libpq startup: SSL probe, StartupMessage, auth, RFQ ----
      // sslmode=disable skips the probe entirely (libpq sends no
      // SSLRequest at all); every other mode probes first
      if (!sslmode.contains("disable")) {
        PgStartup.writeUntagged(out, PgStartup.sslRequestBody)
        out.flush()
        val sslAnswer = in.read()
        sslmode match {
          case Some(m) => // require | verify-full: 'S' is mandatory,
            // and the handshake (incl. verify-full's certificate +
            // hostname validation) runs NOW — a wrong CA fails here,
            // before any startup byte leaves
            require(sslAnswer == 'S',
              s"server refused TLS (answer '${sslAnswer.toChar}') but " +
                s"sslmode=$m requires it")
            val ssl = Tls.wrapClientMode(sock, host, m,
              sslRootStore, sslRootStorePass,
              sslClientStore, sslClientStorePass)
            sock = ssl
            in = new DataInputStream(
              new BufferedInputStream(ssl.getInputStream))
            out = new java.io.BufferedOutputStream(
              ssl.getOutputStream, 1 << 16)
          case None if tls =>
            // legacy flag: anything but 'S' is a hard failure
            require(sslAnswer == 'S',
              s"server refused TLS (answer '${sslAnswer.toChar}') but " +
                "tls=true requires it")
            val ssl = Tls.wrapClient(sock, host)
            sock = ssl
            in = new DataInputStream(
              new BufferedInputStream(ssl.getInputStream))
            out = new java.io.BufferedOutputStream(
              ssl.getOutputStream, 1 << 16)
          case None => require(sslAnswer == 'N',
            s"unexpected SSLRequest answer '${sslAnswer.toChar}' " +
              "(tls=false expects the clear-text fallback)")
        }
      }
      PgStartup.writeUntagged(out, PgStartup.startupBody(Seq(
        "user" -> user, "database" -> database,
        "replication" -> "database", // walsender mode — the one option
        // that makes START_REPLICATION legal (ts:72-87)
        "application_name" -> slotName)))
      out.flush()
      val paramsM = scala.collection.mutable.LinkedHashMap
        .empty[String, String]
      var scram: Scram.Client = null
      var ready = false
      while (!ready) {
        val m = WalWire.read(in).getOrElse(
          throw new IOException("connection closed during startup"))
        m.tag match {
          case 'R' =>
            val r = new BinaryReader(m.body)
            r.readInt32() match {
              case 0 => () // AuthenticationOk
              case 3 => // CleartextPassword
                WalWire.write(out, 'p', new BinaryWriter()
                  .writeString(password.getOrElse("")).result())
                out.flush()
              case 5 => // MD5Password: salted double-md5 (docs §55.2)
                val salt = r.read(4)
                WalWire.write(out, 'p', new BinaryWriter()
                  .writeString(PgStartup.md5Password(
                    password.getOrElse(""), user, salt)).result())
                out.flush()
              case 10 => // AuthenticationSASL: prefer -PLUS over TLS
                var mechs = List.empty[String]
                var s = r.readString()
                while (s.nonEmpty) { mechs ::= s; s = r.readString() }
                val tlsUp = sock.isInstanceOf[javax.net.ssl.SSLSocket]
                // -PLUS is only usable when TLS is actually up: on a
                // cleartext socket the plain mechanism must itself be
                // offered, else there is nothing we can negotiate
                if (!(mechs.contains(Scram.Mechanism) ||
                  (tlsUp && mechs.contains(Scram.MechanismPlus))))
                  throw new IOException(
                    s"no supported SASL mechanism in $mechs" +
                      (if (!tlsUp && mechs.contains(Scram.MechanismPlus))
                        " (server requires channel binding; connect with TLS)"
                      else ""))
                // channel binding (RFC 5802 §6): on TLS, pick the
                // -PLUS mechanism when offered and bind to the
                // server cert's tls-server-end-point hash; if TLS is
                // up but -PLUS was NOT offered, say so with gs2 'y'
                // (a binding-capable real server rejects that as a
                // stripped-offer downgrade). Cleartext stays 'n'.
                val sslOpt = sock match {
                  case t: javax.net.ssl.SSLSocket => Some(t)
                  case _ => None
                }
                val (mech, binding) = sslOpt match {
                  case Some(t) if mechs.contains(Scram.MechanismPlus) =>
                    (Scram.MechanismPlus, Scram.EndPoint(
                      Scram.tlsServerEndPoint(
                        t.getSession.getPeerCertificates()(0)
                          .asInstanceOf[java.security.cert.X509Certificate])))
                  case Some(_) => (Scram.Mechanism, Scram.TlsServerNoPlus)
                  case None => (Scram.Mechanism, Scram.NoTls)
                }
                scram = new Scram.Client(password.getOrElse(""),
                  java.util.UUID.randomUUID().toString.replace("-", ""),
                  binding)
                val cf = scram.clientFirstMessage
                  .getBytes(StandardCharsets.UTF_8)
                WalWire.write(out, 'p', new BinaryWriter()
                  .writeString(mech)
                  .writeInt32(cf.length).writeBytes(cf).result())
                out.flush()
              case 11 => // AuthenticationSASLContinue: server-first
                val cfinal = scram.handleServerFirst(
                  r.readText(r.remaining))
                WalWire.write(out, 'p', new BinaryWriter().writeBytes(
                  cfinal.getBytes(StandardCharsets.UTF_8)).result())
                out.flush()
              case 12 => // AuthenticationSASLFinal: verify v= (mutual)
                if (!scram.verifyServerFinal(r.readText(r.remaining)))
                  throw new IOException(
                    "server signature verification failed")
              case c => throw new IOException(s"unsupported auth code $c")
            }
          case 'S' =>
            val r = new BinaryReader(m.body)
            paramsM += (r.readString() -> r.readString())
          case 'K' =>
            val r = new BinaryReader(m.body)
            backend = (r.readInt32(), r.readInt32())
          case 'Z' => ready = true
          case 'E' => throw new IOException(PgStartup.errorMessage(m.body))
          case _ => () // NoticeResponse etc. — ignorable in startup
        }
      }
      srvParams = paramsM.toMap

      WalWire.write(out, 'Q', new BinaryWriter()
        .writeString(format.startReplicationSql(slotName, Lsn.format(resume)))
        .result())
      out.flush()
      val first = WalWire.read(in).getOrElse(
        throw new IOException("connection closed before CopyBothResponse"))
      require(first.tag == 'W',
        s"expected CopyBothResponse, got tag ${first.tag}")

      var serverError: Option[String] = None
      var copyEnded = false
      try {
        var msg = WalWire.read(in)
        while (msg.isDefined) {
          msg.get match {
            case WalWire.Msg('d', body) =>
              Transport.demux(body) match {
                case Transport.XLogData(walStart, _, _, payload) =>
                  if (walStart != curLsn) { finishTx(); commitIfDue() }
                  curLsn = walStart
                  curFrames += payload
                  observeSchemaFrame(payload)
                case Transport.Keepalive(serverLsn, _, shouldRespond) =>
                  finishTx() // a keepalive never splits a transaction
                  heartbeats += 1
                  if (Lsn.compare(serverLsn, lastLsn) > 0) lastLsn = serverLsn
                  if (shouldRespond) flushAndAck(lastLsn) else commitIfDue()
                case Transport.Unknown(_) => ()
              }
            case WalWire.Msg('c', _) =>
              // server CopyDone: clean end of the COPY stream, but NOT
              // a transaction-completeness boundary — a real walsender
              // can end COPY (e.g. timeline switch) on a WAL position
              // that is mid-transaction, and nothing after CopyDone
              // ever evidences the in-flight tx's completeness. Treat
              // it like EOF: discard the in-flight frames — unacked,
              // the transaction replays next session (at-least-once).
              // Protocol still requires answering CopyDone before the
              // server's CommandComplete.
              curLsn = -1L
              curFrames = ArrayBuffer.empty
              writeLock.synchronized {
                try {
                  WalWire.write(out, 'c', Array.emptyByteArray)
                  out.flush()
                } catch { case _: IOException => () }
              }
            case WalWire.Msg('Z', _) =>
              copyEnded = true // ReadyForQuery: conversation over
            case WalWire.Msg('E', body) =>
              // walsender killed the stream (slot dropped, conflict
              // with recovery, slot stolen by another PID...). The
              // reference surfaces this as a client error event that
              // tears the service down; here it terminates the run —
              // completed txs stay logged + acked, the in-flight one
              // replays next session (at-least-once, same as a cut).
              serverError = Some(PgStartup.errorMessage(body))
              msg = None
            case _ => () // CommandComplete etc.: ignore
          }
          if (serverError.isEmpty && !copyEnded) msg = WalWire.read(in)
          else msg = None
        }
        // clean EOF with a transaction in flight: a MESSAGE boundary is
        // not a TRANSACTION boundary — a server dying between two
        // frames of one tx also closes cleanly. Completeness is only
        // ever evidenced by the next message (a keepalive or a new
        // walStart), so the in-flight frames are discarded; unacked,
        // the transaction replays next session (at-least-once).
        curLsn = -1L
        curFrames = ArrayBuffer.empty
      } catch {
        case _: IOException =>
          // abrupt cut mid-message: the partial transaction is NOT
          // delivered — never logged, never acked; it replays next
          // session from the confirmed position
          curLsn = -1L
          curFrames = ArrayBuffer.empty
      }
      if (sinceAck > 0) flushAndAck(lastLsn)
      // completed work is durable + acked first; then the error
      // surfaces to the caller (the reference's error-event contract)
      serverError.foreach(e => throw new IOException(e))
      RunResult(delivered.toSeq, heartbeats, acks, commits)
    } finally {
      closed = true
      ackTimer.foreach(_.interrupt())
      publishLag() // final census snapshot covers the session tail
      logOut.close()
      sock.close()
    }
  }
}

object WalSocketClient {
  /** Bytes of pending log lines that close a group whatever input is
    * buffered: a huge transaction is written and acked as soon as it
    * completes, and the group buffer holds at most this plus one
    * line. */
  val MaxGroupBytes: Int = 1 << 20
}
