package graft.cdc

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One row of the native-function table: a SQL function evaluated by a
  * kernel in this package, inside whole-stage codegen (no
  * serialization boundary, no boxing in the generated loop, unlike a
  * Scala UDF or the higher-order-function chains the kernels replace).
  * `implicitCast = false` rejects inputs of any other type instead of
  * casting them; `alwaysNullable` marks a result that may be null on
  * non-null inputs, otherwise it is nullable iff an input is. */
sealed trait NativeFn {
  def name: String
  def inputs: Seq[DataType]
  def result: DataType
  def implicitCast: Boolean
  def alwaysNullable: Boolean
  def build(args: Seq[Expression]): Expression
}

/** `eval` is the interpreted call; `gen(ev, c)` the Java statements
  * that set `ev.value` (and `ev.isNull`, if the row may yield null)
  * from the non-null input `c`. */
final case class Fn1(name: String, input: DataType, result: DataType,
    eval: Any => Any, gen: (ExprCode, String) => String,
    implicitCast: Boolean = true, alwaysNullable: Boolean = false)
    extends NativeFn {
  def inputs: Seq[DataType] = Seq(input)
  def build(args: Seq[Expression]): Expression = NativeUnary(name, args.head)
}

final case class Fn2(name: String, inputs: Seq[DataType], result: DataType,
    eval: (Any, Any) => Any, gen: (ExprCode, String, String) => String,
    implicitCast: Boolean = true, alwaysNullable: Boolean = false)
    extends NativeFn {
  def build(args: Seq[Expression]): Expression =
    NativeBinary(name, args(0), args(1))
}

object NativeFunctions {

  private def call1(f: String => String): (ExprCode, String) => String =
    (ev, c) => s"${ev.value} = ${f(c)};"

  private def call2(f: (String, String) => String)
      : (ExprCode, String, String) => String =
    (ev, a, b) => s"${ev.value} = ${f(a, b)};"

  /** `ev.value = kernel(c)`, null when the kernel returns null. */
  private def callOrNull(kernel: String): (ExprCode, String) => String =
    (ev, c) => s"""
      ${ev.value} = $kernel($c);
      ${ev.isNull} = ${ev.value} == null;
    """

  /** A null element anywhere (for `vec_l2i` also a length mismatch)
    * poisons the result to null, like the `aggregate(zip_with(...))`
    * fold the vector kernels replace. NB: no generated line may BEGIN
    * with '|' — enclosing expressions compose child code inside
    * s"""...""".stripMargin templates, which would eat the leading
    * pipes of a line-initial `||` (seen in the wild as `')' expected
    * instead of 'graft'` Janino failures). */
  private def unlessPoisoned(kernel: String, lengthCheck: Boolean)
      : (ExprCode, String, String) => String = (ev, a, b) => {
    val length =
      if (lengthCheck) s"$a.numElements() != $b.numElements() ||\n    " else ""
    s"""if (${length}graft.cdc.VecOps.hasNullElement($a) ||
       |    graft.cdc.VecOps.hasNullElement($b)) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.cdc.VecOps.$kernel($a, $b);
       |}""".stripMargin
  }

  private def poisoned(x: ArrayData, y: ArrayData): Boolean =
    VecOps.hasNullElement(x) || VecOps.hasNullElement(y)

  private def arr(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  private def str(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  private val longs = ArrayType(LongType, containsNull = false)

  private val rows: Seq[NativeFn] = Seq(
    // LSN codec (A7) and lsn + 1 with uint64 carry, the ack arithmetic (A9)
    Fn1("format_lsn", LongType, StringType,
      v => UTF8String.fromString(Lsn.format(v.asInstanceOf[Long])),
      call1(c => "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.cdc.Lsn.format($c))")),
    Fn1("parse_lsn", StringType, LongType,
      v => Lsn.parse(str(v).toString),
      call1(c => s"graft.cdc.Lsn.parse($c.toString())")),
    Fn1("lsn_plus_one", LongType, LongType,
      v => Lsn.plusOne(v.asInstanceOf[Long]), call1(c => s"($c + 1L)")),
    // PG epoch (2000-01-01, µs) ↔ Unix µs — `binary-reader.ts:88-91` and
    // the standby-status timestamp (`logical-replication-service.ts:262-264`)
    Fn1("pg_epoch_to_unix", LongType, LongType,
      v => PgEpoch.toUnixMicros(v.asInstanceOf[Long]),
      call1(c => s"($c + ${PgEpoch.OffsetMicros}L)")),
    Fn1("unix_to_pg_epoch", LongType, LongType,
      v => PgEpoch.fromUnixMicros(v.asInstanceOf[Long]),
      call1(c => s"($c - ${PgEpoch.OffsetMicros}L)")),
    Fn1("md5_h32", StringType, LongType,
      v => Md5H32.hash(str(v).getBytes),
      call1(c => s"graft.cdc.Md5H32.hash($c.getBytes())")),
    // Inputs implicit-cast to array<double>, so raw array<float>
    // embedding columns work directly.
    Fn2("vec_dot", Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      DoubleType,
      (a, b) => if (poisoned(arr(a), arr(b))) null else VecOps.dot(arr(a), arr(b)),
      unlessPoisoned("dot", lengthCheck = false), alwaysNullable = true),
    Fn2("vec_l2i", Seq(ArrayType(LongType), ArrayType(LongType)), LongType,
      (a, b) =>
        if (arr(a).numElements() != arr(b).numElements() ||
            poisoned(arr(a), arr(b))) null
        else VecOps.l2i(arr(a), arr(b)),
      unlessPoisoned("l2i", lengthCheck = true), alwaysNullable = true),
    // Elements must be non-null: callers feed md5_h32 / collect_set
    // outputs, which never are.
    Fn2("sliding_min", Seq(longs, IntegerType), longs,
      (a, w) => SlidingMin(arr(a), w.asInstanceOf[Int]),
      call2((a, w) => s"graft.cdc.SlidingMin.apply($a, $w)")),
    Fn1("pair_pack", longs, longs,
      v => PairPack(arr(v)), call1(c => s"graft.cdc.PairPack.apply($c)")),
    Fn2("jump_shard", Seq(LongType, IntegerType), LongType,
      (k, n) => JumpHash.shard(k.asInstanceOf[Long], n.asInstanceOf[Int]),
      call2((k, n) => s"graft.cdc.JumpHash.shard($k, $n)")),
    Fn2("sorted_inter_count", Seq(longs, longs), LongType,
      (a, b) => SortedInterCount(arr(a), arr(b)),
      call2((a, b) => s"graft.cdc.SortedInterCount.apply($a, $b)")),
    Fn1("json_depth_delta", StringType, LongType,
      v => JsonDepth.delta(str(v)),
      call1(c => s"graft.cdc.JsonDepth.delta($c)")),
    Fn1("longest_repeat", ArrayType(StringType), LongType,
      v => LongestRepeat(arr(v)),
      call1(c => s"graft.cdc.LongestRepeat.apply($c)")),
    // Text-format tokenizers: a string only, null for malformed input.
    // Element casts compose on top with the codegen'd builtins
    // `transform` + `cast`.
    Fn1("pg_array_tokens", StringType, ArrayType(StringType),
      v => PgTextArray.tokens(str(v)), callOrNull("graft.cdc.PgTextArray.tokens"),
      implicitCast = false, alwaysNullable = true),
    Fn1("pg_record_tokens", StringType, ArrayType(StringType),
      v => PgTextRecord.tokens(str(v)), callOrNull("graft.cdc.PgTextRecord.tokens"),
      implicitCast = false, alwaysNullable = true))

  private[cdc] val unary: Map[String, Fn1] =
    rows.collect { case f: Fn1 => f.name -> f }.toMap
  private[cdc] val binary: Map[String, Fn2] =
    rows.collect { case f: Fn2 => f.name -> f }.toMap

  /** Every SQL function this package adds, with its builder: the
    * native rows, plus Spark's own codegen'd Bloom probe (the
    * expression its runtime bloom-filter rewrite injects) under a
    * callable name. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    rows.map(f => f.name -> (f.build _)) :+
      ("bloom_might_contain" ->
        ((e: Seq[Expression]) => BloomFilterMightContain(e(0), e(1))))
}

/** What [[NativeUnary]] and [[NativeBinary]] share: the row named
  * `name` gives everything but the arity. Equality and
  * canonicalization are by name and children. */
sealed trait NativeExpr extends Expression with ImplicitCastInputTypes {
  def name: String
  protected def fn: NativeFn

  override def prettyName: String = name
  override def dataType: DataType = fn.result
  override def nullable: Boolean =
    fn.alwaysNullable || children.exists(_.nullable)
  override def inputTypes: Seq[DataType] =
    if (fn.implicitCast) fn.inputs else Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (fn.implicitCast || children.map(_.dataType) == fn.inputs)
      super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs ${fn.inputs.map(_.simpleString).mkString(", ")}, " +
        s"got ${children.map(_.dataType.simpleString).mkString(", ")}")
  // the name is the function, not an argument: print `vec_l2i(a, b)`
  override protected def stringArgs: Iterator[Any] = children.iterator
}

case class NativeUnary(name: String, child: Expression)
    extends UnaryExpression with NativeExpr {
  @transient protected lazy val fn: Fn1 = NativeFunctions.unary(name)

  override def nullSafeEval(v: Any): Any = fn.eval(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => fn.gen(ev, c))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NativeBinary(name: String, left: Expression, right: Expression)
    extends BinaryExpression with NativeExpr {
  @transient protected lazy val fn: Fn2 = NativeFunctions.binary(name)

  override def nullSafeEval(a: Any, b: Any): Any = fn.eval(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => fn.gen(ev, a, b))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `spark.sql.extensions`-style integration: a session built with
  * `.config("spark.sql.extensions", "graft.cdc.GraftExtensions")`
  * gets every graft scalar function registered at session creation —
  * no explicit `GraftFunctions.register` call needed. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, build) <- NativeFunctions.builders)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
}

object GraftFunctions {
  import org.apache.spark.sql.functions.call_function

  // Column wrappers resolve through the function registry — call
  // register() on the session first (idempotent, cheap).
  def format_lsn(c: Column): Column = call_function("format_lsn", c)
  def parse_lsn(c: Column): Column = call_function("parse_lsn", c)
  def lsn_plus_one(c: Column): Column = call_function("lsn_plus_one", c)
  def pg_epoch_to_unix(c: Column): Column = call_function("pg_epoch_to_unix", c)
  def unix_to_pg_epoch(c: Column): Column = call_function("unix_to_pg_epoch", c)
  def md5_h32(c: Column): Column = call_function("md5_h32", c)
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vec_l2i(a: Column, b: Column): Column = call_function("vec_l2i", a, b)
  def pg_array_tokens(c: Column): Column = call_function("pg_array_tokens", c)
  def pg_record_tokens(c: Column): Column =
    call_function("pg_record_tokens", c)
  def sliding_min(a: Column, w: Column): Column =
    call_function("sliding_min", a, w)
  def jump_shard(k: Column, n: Column): Column =
    call_function("jump_shard", k, n)
  def longest_repeat(c: Column): Column =
    call_function("longest_repeat", c)
  def pair_pack(c: Column): Column = call_function("pair_pack", c)
  def sorted_inter_count(a: Column, b: Column): Column =
    call_function("sorted_inter_count", a, b)
  def json_depth_delta(c: Column): Column =
    call_function("json_depth_delta", c)

  /** Codegen'd Bloom-filter probe: `bf` is a binary literal holding a
    * serialized `org.apache.spark.util.sketch.BloomFilter`, `key` a
    * LongType column. Resolves to Spark's native
    * `BloomFilterMightContain`, so the probe stays inside whole-stage
    * codegen — unlike a Scala UDF, which would break the codegen span
    * on the fact-table scan it is meant to cheapen. */
  def bloom_might_contain(bf: Column, key: Column): Column =
    call_function("bloom_might_contain", bf, key)

  /** Make the functions callable from SQL: format_lsn(x), ...
    * Each function registers independently iff its name is absent, so
    * a partially-populated registry (an older build, a user override)
    * still gains the missing ones, and nothing already registered is
    * clobbered or re-registered (no replace warnings per query). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, build) <- NativeFunctions.builders
         if reg.lookupFunctionBuilder(FunctionIdentifier(name)).isEmpty)
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
  }
}
