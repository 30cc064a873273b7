package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cdc._

/** Checks of the benchmark's own machinery. The percentile rule: a
  * percentile is reported only with ten samples beyond it. The frame
  * round-trip: every rendered change of a seeded stream must decode
  * back through the repo's own parsers, in all four plugins, to the
  * table, operation and column values the model produced. Prints
  * `roundtrip ok <changes>` or exits non-zero. */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val hundred = (0 until 100).map(_.toDouble)
    require(Stats.reportable(hundred, 0.9).isDefined, "p90 of 100 has 10 beyond")
    require(Stats.reportable(hundred, 0.95).isEmpty, "p95 of 100 has only 5 beyond")
    require(Stats.reportable(hundred.take(50), 0.9).isEmpty, "p90 of 50 has 5 beyond")
    require(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)

    val model = new ChangeStream.Model(args.headOption.map(_.toLong).getOrElse(7L))
    val txs = (1 to 300).map(i => model.next(1700000000000000L + i, 1)) ++
      ChangeStream.bigTxs(301, 3, 0L)._1
    val want = txs.flatMap(_.changes.map { c =>
      val names = ChangeStream.cols(c.table).map(_.name)
      val vals = if (c.op == 'D') names.take(1).zip(c.values.take(1))
        else names.zip(c.values)
      (c.table, c.op match { case 'I' => "insert"; case 'U' => "update"; case _ => "delete" },
        vals.toMap)
    })
    def dml(e: ChangeEvent) = e.tag == "insert" || e.tag == "update" || e.tag == "delete"
    def tuple(e: ChangeEvent) = Option(e.after).orElse(Option(e.before))
      .getOrElse(e.key).filter(_._2 != null)
    def check(plugin: String, got: Seq[(String, String, Map[String, String])]): Unit =
      if (got != want) {
        val i = got.zip(want).indexWhere { case (g, w) => g != w }
        System.err.println(s"$plugin round-trip mismatch at change $i: " +
          s"${got.lift(i)} vs ${want.lift(i)} (${got.size} vs ${want.size} changes)")
        sys.exit(1)
      }

    val announced = scala.collection.mutable.HashSet.empty[String]
    val pg = txs.flatMap { tx =>
      // the socket client re-attaches announced relations per line;
      // here one parser sees the whole session, as a walsender sends it
      ChangeStream.pgoutput(tx, announced)
    }
    check("pgoutput", CdcFunctions.decodeFrameSequence(pg).filter(dml)
      .map(e => (e.table, e.tag, tuple(e))))
    check("test_decoding", txs.flatMap(ChangeStream.testDecoding)
      .map(new String(_, "UTF-8")).filter(_.startsWith("table "))
      .map(TestDecodingParser.parse).map(e => (e.table, e.tag, tuple(e))))
    check("decoderbufs", txs.flatMap(ChangeStream.decoderbufs)
      .map(f => Decoderbufs.toChangeEvent(Decoderbufs.decode(f))).filter(dml)
      .map(e => (e.table, e.tag, tuple(e))))

    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = txs.flatMap(ChangeStream.wal2json).map(new String(_, "UTF-8"))
      .zipWithIndex.toDF("payload", "i")
    val rows = CdcFunctions.wal2jsonChanges(docs, col("payload"), Seq("i"))
      .collect().toSeq
    // rows of one document keep their order; documents follow `i`
    check("wal2json", rows.zipWithIndex.sortBy(x => (x._1.getInt(0), x._2)).map(_._1).map { r =>
      val after = Option(r.getAs[scala.collection.Map[String, String]]("after"))
      val key = Option(r.getAs[scala.collection.Map[String, String]]("key"))
      val op = r.getAs[String]("op")
      (r.getAs[String]("table"), op,
        (if (op == "delete") key else after).get.toMap)
    })
    spark.stop()
    println(s"roundtrip ok ${want.size}")
  }
}
