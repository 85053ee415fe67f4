package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import graft.functions.HashKernels

/** Custom Catalyst expressions for the signature kernels (SURVEY §5):
  * higher-order functions don't participate in whole-stage codegen —
  * every lambda element costs an interpreted `Expression.eval`. These
  * expressions emit a single static-method call into generated code, so
  * a document's full minhash/simhash signature (or a vector's 16 LSH
  * buckets) is one compiled loop per row.
  *
  * Semantics are EXACTLY the portable arithmetic the DuckDB oracle runs
  * (see [[graft.functions.PortableHash]] / [[graft.functions.VectorFns]]
  * scaladoc) — the expressions change the execution strategy, never the
  * result. Registered under `graft_*` names by [[GraftFunctions]].
  */
abstract class KernelExpression extends UnaryExpression {
  /** fully-qualified static call target, e.g. "...HashKernels.polyHash". */
  def kernel: String
  /** required input type (AbstractDataType is private[sql] in Spark 4). */
  def expectedInput: DataType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, expectedInput, ignoreNullability = true)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${expectedInput.simpleString}, got ${child.dataType.simpleString}")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernel($c)")
}

/** `graft_polyhash(str)` → long: poly-31 over code points mod 2³¹-1. */
case class PolyHash(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = StringType
  override def dataType: DataType = LongType
  override def kernel: String = "graft.functions.HashKernels.polyHash"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.polyHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
}

/** `graft_shingle_hashes(str)` → array<long>: distinct 3-gram shingle
  * hashes, fused (split → shingle → hash → distinct in one pass).
  */
case class ShingleHashes(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.shingleHashes"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** `graft_minhash(array<long>)` → array<long>[12]. */
case class MinhashSig(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = ArrayType(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.minhashSig"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashSig(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): MinhashSig = copy(child = c)
}

/** `graft_simhash_bands(array<long>)` → array<long>[4] of 16-bit bands. */
case class SimhashBands(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = ArrayType(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.simhashBands"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashBands(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): SimhashBands = copy(child = c)
}

/** `graft_lsh_buckets(array<double>)` → array<long>[16] bucket ids. */
case class LshBuckets(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = ArrayType(DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.lshBuckets"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.lshBuckets(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): LshBuckets = copy(child = c)
}

/** `graft_lsh_buckets_param(array<double>, tables, bits)` →
  * array<long>[tables] bucket ids at an explicit geometry — the
  * compiled twin of `VectorFns.sparkLshBucketsParam`'s HOF spec
  * (same plane-index stream t·bits+p, so (16, 4) reproduces
  * `graft_lsh_buckets` bit-for-bit). `tables`/`bits` must be foldable
  * int literals: they are baked into the generated code, keeping the
  * kernel a single static call per row.
  */
case class LshBucketsParam(child: Expression, tables: Int, bits: Int)
    extends KernelExpression {
  override def expectedInput: DataType = ArrayType(DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.lshBucketsParam"
  override def prettyName: String = "graft_lsh_buckets_param"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.lshBucketsParam(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], tables, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernel($c, $tables, $bits)")
  override protected def withNewChildInternal(c: Expression): LshBucketsParam =
    copy(child = c)
}

/** `graft_project(array<double>)` → array<double>[16]: JL random
  * projection with the portable-PRN coefficient stream.
  */
case class ProjectVec(child: Expression) extends KernelExpression {
  override def expectedInput: DataType = ArrayType(DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def kernel: String = "graft.functions.HashKernels.project"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.project(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): ProjectVec = copy(child = c)
}

/** `graft_cosine(array<double>, array<double>)` → double. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e =>
      DataType.equalsStructurally(e.dataType, ArrayType(DoubleType), ignoreNullability = true))
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two array<double> args")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineSim(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** `graft_jaccard(array<long>, array<long>)` → double (distinct-element
  * arrays — what graft_shingle_hashes produces).
  */
case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e =>
      DataType.equalsStructurally(e.dataType, ArrayType(LongType), ignoreNullability = true))
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two array<long> args")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccard(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.jaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
}

/** Registers the `graft_*` functions in a session's FunctionRegistry —
  * idempotent; called from GraftSession / Tables so any session that
  * touches a graft table can parse the expressions.
  */
object GraftFunctions {
  /** geometry args of graft_lsh_buckets_param are plan-time constants —
    * fail at parse time (never mid-job) if a caller passes a column, a
    * non-integral literal or a Long literal outside the Int range.
    */
  private def foldedInt(e: Expression): Int = {
    require(e.foldable, s"graft_lsh_buckets_param geometry arg must be a literal, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_lsh_buckets_param geometry arg must be an Int literal, got $other")
    }
  }

  /** `graft_lsh_buckets_param(v, tables, bits)`: at least one table, and
    * a bucket id of 1..63 bits so it fits a non-negative BIGINT.
    */
  private def lshBucketsParam(es: Seq[Expression]): LshBucketsParam = {
    val (tables, bits) = (foldedInt(es(1)), foldedInt(es(2)))
    require(tables > 0, s"graft_lsh_buckets_param tables must be > 0, got $tables")
    require(bits > 0 && bits < 64, s"graft_lsh_buckets_param bits must be in 1..63, got $bits")
    LshBucketsParam(es.head, tables, bits)
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_polyhash" -> (es => PolyHash(es.head)),
    "graft_minhash" -> (es => MinhashSig(es.head)),
    "graft_shingle_hashes" -> (es => ShingleHashes(es.head)),
    "graft_simhash_bands" -> (es => SimhashBands(es.head)),
    "graft_lsh_buckets" -> (es => LshBuckets(es.head)),
    "graft_lsh_buckets_param" -> lshBucketsParam,
    "graft_project" -> (es => ProjectVec(es.head)),
    "graft_cosine" -> (es => CosineSim(es(0), es(1))),
    "graft_jaccard" -> (es => JaccardSim(es(0), es(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      // skip if present: createOrReplaceTempFunction WARNs on every
      // replacement, and register() runs once per Tables.* call
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** The same kernels as `SparkSessionExtensions.injectFunction`
    * descriptions — the cluster-wide path: with
    * `spark.sql.extensions=graft.plans.GraftExtensions` every session
    * (including plain SQL / Thrift / connect clients that never touch
    * the Scala API) can call `graft_minhash(...)` etc. from SQL text,
    * and the functions survive `newSession()` where temp functions
    * don't.
    */
  def injectable: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] =
    builders.map { case (name, b) =>
      (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.expressions.GraftExpressions", name),
        b)
    }
}
