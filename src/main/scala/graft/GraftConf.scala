package graft

import org.apache.spark.sql.SparkSession

/** The library's own `spark.graft.*` session settings, typed. Each is
  * a runtime SQL conf: `spark.conf.set(GraftConf.GraphLocalEdgeMax.key,
  * ...)` moves one session's dispatch bound. */
object GraftConf {

  final case class LongEntry(key: String, default: Long) {
    def get(spark: SparkSession): Long =
      spark.conf.get(key, default.toString).toLong
  }

  /** Row bound of the single-task local kernels: below it a relation
    * runs in one executor task, past it the distributed twin is the
    * scale path. */
  val LocalMax = 4000000L

  /** Edge count below which the graph operators (components, label
    * propagation, k-core, PageRank) run `GraphKernel` in one task. */
  val GraphLocalEdgeMax =
    LongEntry("spark.graft.graph.localEdgeMax", LocalMax)

  /** Word-vocabulary size below which the BPE trainer runs
    * `BpeKernel` in one task. */
  val BpeLocalVocabMax =
    LongEntry("spark.graft.bpe.localVocabMax", LocalMax)
}
