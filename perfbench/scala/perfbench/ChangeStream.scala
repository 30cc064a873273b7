package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.cdc._

/** The seeded change stream both CDC workloads replay, and its
  * rendering into each of the four output plugins' wire payloads.
  *
  * Eight small tables `t1..t8` share one layout — `id int8` (replica
  * identity key), `due_us int8` (the transaction's due time),
  * `rung int4`, `v text`, `n int4`. Transactions carry 1–5 mixed DML
  * rows over tables and keys drawn with a skew (low-numbered tables and
  * keys are hot). A key is touched at most once per transaction, so the
  * latest-by-key snapshot has exactly one answer. The optional `big`
  * table (`id` + 20 text columns of 32-char md5 hex) carries the
  * reference-shaped huge UPDATE.
  */
object ChangeStream {
  final case class Col(name: String, oid: Int, pgType: String)
  final case class Change(table: String, op: Char, id: Long,
      values: Seq[String])
  final case class Tx(xid: Long, lsn: Long, dueUs: Long, rung: Int,
      changes: Seq[Change])

  val SmallCols: Seq[Col] = Seq(Col("id", 20, "bigint"),
    Col("due_us", 20, "bigint"), Col("rung", 23, "integer"),
    Col("v", 25, "text"), Col("n", 23, "integer"))
  val BigCols: Seq[Col] =
    Col("id", 20, "bigint") +: (1 to 20).map(i => Col(f"c$i%02d", 25, "text"))
  val Tables: Seq[String] = (1 to 8).map(i => s"t$i")
  val Big = "big"
  val KeySpace = 4000

  def cols(table: String): Seq[Col] = if (table == Big) BigCols else SmallCols
  def relOid(table: String): Int =
    if (table == Big) 16500 else 16400 + table.drop(1).toInt

  def relation(table: String): RelationInfo =
    RelationInfo(relOid(table), "public", table, "default",
      cols(table).map(c => ColumnInfo(c.name, if (c.name == "id") 1 else 0,
        c.oid, -1, null, null)))

  def lsnOf(i: Long): Long = 0x1000000L + i * 0x100L

  /** Seeded transaction source. `live` tracks which keys exist so a
    * change is an insert for an absent key and an update or delete
    * (3:1) for a live one — the ground truth is the model itself. */
  final class Model(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val live = Tables.map(_ -> new java.util.HashMap[Long, Seq[String]]()).toMap
    private var i = 0L
    private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789 "

    private def text(): String = {
      val len = 6 + rng.nextInt(18)
      val sb = new StringBuilder
      while (sb.length < len) sb += alnum.charAt(rng.nextInt(alnum.length))
      "x" + sb.toString.trim
    }
    private def skewed(n: Int): Int = {
      val u = rng.nextDouble()
      math.min(n - 1, (n * u * u * u).toInt)
    }

    def next(dueUs: Long, rung: Int): Tx = {
      i += 1
      val k = 1 + rng.nextInt(5)
      val used = scala.collection.mutable.HashSet.empty[(String, Long)]
      val changes = (0 until k).flatMap { _ =>
        val t = Tables(skewed(Tables.size))
        val id = skewed(KeySpace).toLong
        if (!used.add((t, id))) None
        else {
          val m = live(t)
          val values = Seq(id.toString, dueUs.toString, rung.toString,
            text(), rng.nextInt(1000000).toString)
          if (!m.containsKey(id)) { m.put(id, values); Some(Change(t, 'I', id, values)) }
          else if (rng.nextInt(4) == 0) Some(Change(t, 'D', id, m.remove(id)))
          else { m.put(id, values); Some(Change(t, 'U', id, values)) }
        }
      }
      Tx(i, lsnOf(i), dueUs, rung, changes)
    }

    def lastIndex: Long = i

    /** Live rows: (table, id) -> column values. */
    def snapshot: Map[(String, Long), Seq[String]] = {
      import scala.jdk.CollectionConverters._
      live.toSeq.flatMap { case (t, m) =>
        m.asScala.toSeq.map { case (id, v) => (t, id) -> v }
      }.toMap
    }
  }

  /** `n` rows of the big table, inserted in chunks, then one UPDATE
    * transaction rewriting every row (the reference's huge-transaction
    * fixture: 20 text columns of md5 values). */
  def bigTxs(firstIndex: Long, n: Int, dueUs: Long): (Seq[Tx], Map[(String, Long), Seq[String]]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String): String =
      md.digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
    def row(id: Int, gen: Int): Seq[String] =
      id.toString +: (1 to 20).map(c => md5(s"$gen:$id:$c"))
    val chunk = 1000
    val inserts = (0 until n by chunk).zipWithIndex.map { case (from, j) =>
      val ix = firstIndex + j
      Tx(ix, lsnOf(ix), dueUs, 0, (from until math.min(n, from + chunk))
        .map(id => Change(Big, 'I', id, row(id, 0))))
    }
    val ux = firstIndex + inserts.size
    val update = Tx(ux, lsnOf(ux), dueUs, 0,
      (0 until n).map(id => Change(Big, 'U', id, row(id, 1))))
    (inserts :+ update,
      (0 until n).map(id => (Big, id.toLong) -> row(id, 1)).toMap)
  }

  // ---- plugin renderings: one payload per wire frame ----------------

  /** pgoutput frames; `announce` holds the tables whose Relation
    * message this session already sent (a walsender announces each
    * relation once per session, the socket client re-attaches it). */
  def pgoutput(tx: Tx, announce: scala.collection.mutable.Set[String]): Seq[Array[Byte]] = {
    val rels = tx.changes.map(_.table).distinct.filter(announce.add)
      .map(t => PgoutputWriter.relation(relation(t)))
    val rows = tx.changes.map { c =>
      c.op match {
        case 'I' => PgoutputWriter.insert(relOid(c.table), c.values)
        case 'U' => PgoutputWriter.update(relOid(c.table), 'N', Nil, c.values)
        case 'D' => PgoutputWriter.delete(relOid(c.table), 'K',
          c.values.head +: Seq.fill(c.values.size - 1)(null))
      }
    }
    (PgoutputWriter.begin(tx.lsn, tx.dueUs, tx.xid) +: rels) ++ rows :+
      PgoutputWriter.commit(tx.lsn, tx.lsn + 1, tx.dueUs)
  }

  private def datums(c: Change): Seq[TestDecodingParser.Datum] = {
    val cs = cols(c.table)
    val n = if (c.op == 'D') 1 else cs.size
    cs.take(n).zip(c.values).map { case (col, v) =>
      TestDecodingParser.Datum(col.name, col.pgType, v)
    }
  }

  def testDecoding(tx: Tx): Seq[Array[Byte]] =
    (s"BEGIN ${tx.xid}" +: tx.changes.map { c =>
      TestDecodingParser.render("public", c.table,
        c.op match { case 'I' => "INSERT"; case 'U' => "UPDATE"; case 'D' => "DELETE" },
        datums(c))
    } :+ s"COMMIT ${tx.xid}").map(_.getBytes(UTF_8))

  def decoderbufs(tx: Tx): Seq[Array[Byte]] = {
    def enc(c: Change): Seq[Array[Byte]] = {
      val cs = cols(c.table)
      val n = if (c.op == 'D') 1 else cs.size
      cs.take(n).zip(c.values).map { case (col, v) =>
        if (col.oid == 25) Decoderbufs.encodeDatumString(col.name, col.oid, v)
        else if (col.oid == 23) Decoderbufs.encodeDatumInt32(col.name, col.oid, v.toInt)
        else Decoderbufs.encodeDatumInt64(col.name, col.oid, v.toLong)
      }
    }
    (Decoderbufs.encodeRow(tx.xid, tx.dueUs, null, Decoderbufs.OpBegin, Nil) +:
      tx.changes.map { c =>
        val tuple = enc(c)
        c.op match {
          case 'I' => Decoderbufs.encodeRow(tx.xid, tx.dueUs, s"public.${c.table}", Decoderbufs.OpInsert, tuple)
          case 'U' => Decoderbufs.encodeRow(tx.xid, tx.dueUs, s"public.${c.table}", Decoderbufs.OpUpdate, tuple)
          case 'D' => Decoderbufs.encodeRow(tx.xid, tx.dueUs, s"public.${c.table}", Decoderbufs.OpDelete, Nil, tuple)
        }
      }) :+ Decoderbufs.encodeRow(tx.xid, tx.dueUs, null, Decoderbufs.OpCommit, Nil)
  }

  /** wal2json format-version 1: one JSON document per transaction,
    * built by hand (the plugin's `change` array layout). */
  def wal2json(tx: Tx): Seq[Array[Byte]] = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def v(c: Col, s: String) = if (c.oid == 25) q(s) else s
    val changes = tx.changes.map { c =>
      val cs = cols(c.table)
      val head = s""""schema":"public","table":${q(c.table)}"""
      c.op match {
        case 'D' =>
          s"""{"kind":"delete",$head,"oldkeys":{"keynames":["id"],"keytypes":["bigint"],"keyvalues":[${c.values.head}]}}"""
        case op =>
          val kind = if (op == 'I') "insert" else "update"
          val names = cs.map(c2 => q(c2.name)).mkString(",")
          val types = cs.map(c2 => q(c2.pgType)).mkString(",")
          val vals = cs.zip(c.values).map { case (c2, s) => v(c2, s) }.mkString(",")
          val old = if (op == 'U')
            s""","oldkeys":{"keynames":["id"],"keytypes":["bigint"],"keyvalues":[${c.values.head}]}""" else ""
          s"""{"kind":"$kind",$head,"columnnames":[$names],"columntypes":[$types],"columnvalues":[$vals]$old}"""
      }
    }
    Seq(s"""{"xid":${tx.xid},"nextlsn":"${Lsn.format(tx.lsn + 1)}","change":[${changes.mkString(",")}]}"""
      .getBytes(UTF_8))
  }

  val Plugins: Seq[String] = Seq("pgoutput", "test_decoding", "wal2json", "decoderbufs")

  def format(plugin: String): CdcFormat = plugin match {
    case "pgoutput" => new PgoutputFormat()
    case "test_decoding" => new TestDecodingFormat()
    case "wal2json" => new Wal2JsonFormat()
    case "decoderbufs" => new DecoderbufsFormat()
  }
}
