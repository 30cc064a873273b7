package graft.cdc

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.execution.debug.codegenString
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every row of the native-function table: both registration paths
  * expose exactly the table's names, every native row stays a named
  * operator inside whole-stage codegen with a direct kernel call (no
  * `CodegenFallback`), the text tokenizers reject non-string input,
  * and each result's nullability over non-null and nullable input is
  * the one the per-function expression classes had. */
class NativeFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private def freshSession(extensions: Boolean): SparkSession = {
    // extensions only apply at session creation — make sure ours is new
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-native-functions-spec")
      .config("spark.ui.enabled", "false")
    (if (extensions) b.config("spark.sql.extensions",
      "graft.cdc.GraftExtensions") else b).getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val names = NativeFunctions.builders.map(_._1)
  private val s = "CAST(id AS STRING)"

  /** name → (arguments over `id`, a fragment of its generated Java,
    * result nullable over non-null input, over nullable input). */
  private val rows: Map[String, (Seq[String], String, Boolean, Boolean)] = Map(
    "format_lsn" -> (Seq("id"), "graft.cdc.Lsn.format(", false, true),
    "parse_lsn" -> (Seq("format_lsn(id)"), "graft.cdc.Lsn.parse(", false, true),
    "lsn_plus_one" -> (Seq("id"), "project_value_0 = (range_value_0 + 1L);",
      false, true),
    "pg_epoch_to_unix" -> (Seq("id"), s" + ${PgEpoch.OffsetMicros}L)",
      false, true),
    "unix_to_pg_epoch" -> (Seq("id"), s" - ${PgEpoch.OffsetMicros}L)",
      false, true),
    "md5_h32" -> (Seq(s), "graft.cdc.Md5H32.hash(", false, true),
    "vec_dot" -> (Seq("array(CAST(id AS DOUBLE))", "array(1.0D)"),
      "graft.cdc.VecOps.dot(", true, true),
    "vec_l2i" -> (Seq("array(id, id + 1L)", "array(id + 2L, id + 4L)"),
      "graft.cdc.VecOps.l2i(", true, true),
    "sliding_min" -> (Seq("array(id, id + 1L)", "1"),
      "graft.cdc.SlidingMin.apply(", false, true),
    "jump_shard" -> (Seq("id", "4"), "graft.cdc.JumpHash.shard(", false, true),
    "pair_pack" -> (Seq("array(id, id + 1L)"), "graft.cdc.PairPack.apply(",
      false, true),
    "sorted_inter_count" -> (Seq("array(id)", "array(id)"),
      "graft.cdc.SortedInterCount.apply(", false, true),
    "json_depth_delta" -> (Seq(s), "graft.cdc.JsonDepth.delta(", false, true),
    "longest_repeat" -> (Seq(s"array($s)"), "graft.cdc.LongestRepeat.apply(",
      false, true),
    "pg_array_tokens" -> (Seq(s), "graft.cdc.PgTextArray.tokens(", true, true),
    "pg_record_tokens" -> (Seq(s), "graft.cdc.PgTextRecord.tokens(", true, true))

  /** Names the session's registry holds beyond Spark's builtins. */
  private def added(sp: SparkSession): Set[String] =
    sp.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("the table has 17 distinct names: 16 native rows + bloom_might_contain") {
    assert(names.size == 17 && names.distinct == names)
    assert(names.toSet == rows.keySet + "bloom_might_contain")
  }

  test("GraftExtensions and register each expose exactly the table") {
    spark = freshSession(extensions = true)
    assert(added(spark) == names.toSet)
    assert(names.forall(spark.catalog.functionExists))
    spark.stop()
    spark = freshSession(extensions = false)
    GraftFunctions.register(spark)
    assert(added(spark) == names.toSet)
    assert(names.forall(spark.catalog.functionExists))
    GraftFunctions.register(spark) // idempotent: nothing re-registered
    assert(added(spark) == names.toSet)
  }

  test("every native row is a named operator with a direct kernel call " +
      "in the generated Java") {
    GraftFunctions.register(spark)
    for ((f, (args, call, _, _)) <- rows) {
      val df = spark.range(3).selectExpr(s"$f(${args.mkString(", ")}) AS r")
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains(s"*(1) Project [$f("), s"$f plan:\n$plan")
      val java = codegenString(plan)
      assert(java.contains(call), s"$f: no `$call` in\n$java")
      // a CodegenFallback evaluates through the expression object
      assert(!java.contains("catalyst.expressions.Expression) references["),
        s"$f fell back to interpreted eval:\n$java")
      df.collect()
    }
  }

  test("the text tokenizers reject non-string input instead of casting it") {
    GraftFunctions.register(spark)
    for (f <- Seq("pg_array_tokens", "pg_record_tokens")) {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $f(1)"))
      assert(e.getMessage.contains(f), e.getMessage)
    }
  }

  test("nullability over non-null and nullable input is unchanged") {
    GraftFunctions.register(spark)
    for ((f, (args, _, overNonNull, overNullable)) <- rows) {
      def nullable(as: Seq[String]): Boolean = spark.range(3)
        .selectExpr(s"$f(${as.mkString(", ")}) AS r").schema("r").nullable
      assert(nullable(args) == overNonNull, f)
      assert(nullable(args.map(a => s"if(id < 0, NULL, $a)")) == overNullable, f)
    }
  }
}
