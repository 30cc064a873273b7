package graft.cdc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Startup-phase framing: untagged startup messages round-trip
  * through writeUntagged/readUntagged, the key/value body through
  * startupBody/parse — including parameter values with UTF-8 and
  * '='/space characters — and the error body carries its fields. */
class PgStartupSpec extends AnyFunSuite {

  private def roundTrip(body: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    PgStartup.writeUntagged(bos, body)
    PgStartup.readUntagged(new DataInputStream(
      new ByteArrayInputStream(bos.toByteArray))).get
  }

  test("untagged framing round-trips arbitrary bodies") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 20) {
      val body = Array.fill(rnd.nextInt(512))(rnd.nextInt(256).toByte)
      assert(roundTrip(body).toSeq == body.toSeq)
    }
    // orderly EOF before any bytes → None, not an exception
    assert(PgStartup.readUntagged(new DataInputStream(
      new ByteArrayInputStream(Array.emptyByteArray))).isEmpty)
  }

  test("startup params round-trip, incl. UTF-8 and '=' in values") {
    val params = Seq(
      "user" -> "replica=tor",
      "database" -> "app db",
      "replication" -> "database",
      "application_name" -> "slöt_☃")
    val (proto, parsed) = PgStartup.parse(roundTrip(
      PgStartup.startupBody(params)))
    assert(proto == PgStartup.Protocol30)
    assert(parsed == params.toMap)
  }

  test("SSLRequest body parses to its magic code with no params") {
    val (code, params) = PgStartup.parse(PgStartup.sslRequestBody)
    assert(code == PgStartup.SslRequestCode)
    assert(params.isEmpty)
  }

  test("a close inside the length header is EOF, not a garbage length") {
    // r9 low finding: bytes 2-4 of the header used to mask read()'s
    // -1 into 0xff and fold it into the length, mis-reporting a dead
    // peer as a bounds violation
    for (n <- 1 to 3) {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(Array.fill[Byte](n)(0)))
      intercept[java.io.EOFException] { PgStartup.readUntagged(in) }
    }
    // 0 header bytes stays the orderly-EOF None
    val empty = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(Array.emptyByteArray))
    assert(PgStartup.readUntagged(empty).isEmpty)
  }

  test("oversized length field fails the read, not the allocator") {
    val bos = new ByteArrayOutputStream()
    new BinaryWriter().writeInt32(Int.MaxValue).result()
      .foreach(b => bos.write(b.toInt))
    val ex = intercept[IllegalArgumentException] {
      PgStartup.readUntagged(new DataInputStream(
        new ByteArrayInputStream(bos.toByteArray)))
    }
    assert(ex.getMessage.contains("length"))
  }

  test("error body carries severity, sqlstate, and message fields") {
    val b = PgStartup.errorBody("28P01", "bad password")
    val r = new BinaryReader(b)
    var fields = Map.empty[Char, String]
    var c = r.readUint8()
    while (c != 0) { fields += (c.toChar -> r.readString()); c = r.readUint8() }
    assert(fields('S') == "ERROR")
    assert(fields('C') == "28P01")
    assert(fields('M') == "bad password")
  }

  test("errorMessage reads back the message of errorBody") {
    for (m <- Seq("bad password", "", "slot \"s\" is active for PID 42", "slöt_☃"))
      assert(PgStartup.errorMessage(PgStartup.errorBody("55006", m)) == m)
  }

  test("an error body with no M field reads as \"server error\"") {
    val body = new BinaryWriter()
      .writeUint8('S').writeString("FATAL")
      .writeUint8('C').writeString("57P01")
      .writeUint8(0).result()
    assert(PgStartup.errorMessage(body) == "server error")
    assert(PgStartup.errorMessage(Array[Byte](0)) == "server error")
  }
}
