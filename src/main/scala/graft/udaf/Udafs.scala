package graft.udaf

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, Cast, Coalesce, EvalMode, Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The reference's two 32-bit sum UDAFs, one aggregate in two modes.
  * Both return Float32 (Spark's built-in `sum` widens to Double), skip
  * nulls, and give 0.0f, not NULL, over zero rows
  * (src/cubecl_sum_udaf.rs:105,207-209).
  *  - `Float32` — `sum_custom`, the reference's `sum_cudarc`: the one
  *    argument is cast to Float32 whatever its numeric type
  *    (src/cudarc_sum_udaf.rs:71), by the analyzer's implicit cast to a
  *    FLOAT parameter; partials merge by addition (:154-160).
  *  - `Coercing` — `sum_coercing`, the reference's `sum_cubecl`: signed
  *    ints sum as wrapping Int32, floats as Float32, anything else is
  *    rejected (coerce_types, src/cubecl_sum_udaf.rs:69-75); the result
  *    is cast to Float32 (:195-199). Spark has no unsigned types (SURVEY
  *    §2.4 deviation 3).
  *
  * A DeclarativeAggregate (pure Catalyst expressions), so the whole
  * aggregate, partial aggregation included, runs inside whole-stage
  * codegen with no buffer serialization; a typed `Aggregator` can express
  * neither that nor the type-dependent buffer width.
  *
  * The reference's GPU offload (src/sum.cu:18-29) is not observable, but
  * its tree reduction orders the Float32 adds differently, so tests
  * compare with tolerance. Its merge_batch skips zero-valued partials
  * (src/cubecl_sum_udaf.rs:222-232), value-neutral for a sum (SURVEY §7
  * deviation 4).
  */
case class SumCoercingAgg(
    child: Expression,
    name: String = "sum_coercing",
    mode: SumCoercingAgg.Mode = SumCoercingAgg.Coercing)
    extends DeclarativeAggregate with ImplicitCastInputTypes {

  // Float32 mode asks the analyzer for a FLOAT argument; Coercing mode
  // declares no input type, so nothing is cast, and types it below
  override def inputTypes: Seq[DataType] =
    if (mode == SumCoercingAgg.Float32) Seq(FloatType) else Nil

  // lazy: child.dataType is unavailable until the plan is resolved
  private lazy val sumType: DataType = (mode, child.dataType) match {
    case (SumCoercingAgg.Float32, _) => FloatType
    case (_, FloatType | DoubleType) => FloatType
    case (_, ByteType | ShortType | IntegerType | LongType) => IntegerType
    case (_, NullType) => FloatType
    case (_, other) =>
      throw new IllegalArgumentException(
        s"$name: unsupported input type $other (reference coerce_types rejects it)")
  }

  private lazy val sum = AttributeReference("sum", sumType, nullable = false)()

  private lazy val zero = Literal.default(sumType)

  override lazy val aggBufferAttributes: Seq[AttributeReference] = sum :: Nil

  override lazy val initialValues: Seq[Expression] = Seq(zero)

  // LEGACY eval mode: the reference's device arithmetic is wrapping i32
  // (src/sum.cu adds in 32-bit); ANSI Add would throw on overflow instead
  private def wrapAdd(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    wrapAdd(sum, Coalesce(Seq(Cast(child, sumType, None, EvalMode.LEGACY), zero))))

  override lazy val mergeExpressions: Seq[Expression] = Seq(wrapAdd(sum.left, sum.right))

  // result always Float32 (reference: src/cubecl_sum_udaf.rs:40-42,195-199)
  override lazy val evaluateExpression: Expression = Cast(sum, FloatType)

  override def dataType: DataType = FloatType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  // registered under both our name and the reference's; carrying the
  // invoked name keeps REPL output headers verbatim
  override def prettyName: String = name
  // plans print the name, which implies the mode
  override protected def stringArgs: Iterator[Any] = Iterator(child, name)
}

object SumCoercingAgg {
  sealed trait Mode
  case object Float32 extends Mode
  case object Coercing extends Mode
}

object Udafs {

  /** Every 32-bit sum name and its mode: our descriptive names and the
    * reference's published ones (`sum_cudarc` / `sum_cubecl`, reference:
    * src/lib.rs:53-55), so the README's REPL transcript (reference:
    * README.md:71-75) replays verbatim. */
  val sums: Seq[(String, SumCoercingAgg.Mode)] = Seq(
    "sum_custom" -> SumCoercingAgg.Float32,
    "sum_cudarc" -> SumCoercingAgg.Float32,
    "sum_coercing" -> SumCoercingAgg.Coercing,
    "sum_cubecl" -> SumCoercingAgg.Coercing)

  /** Register every name in [[sums]] in the session's function registry,
    * the analogue of `ctx.register_udaf(...)` (reference: src/lib.rs:53-55).
    * The builder returns the bare aggregate function, so the analyzer
    * wraps it with the call's DISTINCT and FILTER like a built-in. */
  def registerAll(spark: SparkSession): Unit = {
    sums.foreach { case (name, mode) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, {
        case Seq(c) => SumCoercingAgg(c, name, mode)
        case _ => throw new IllegalArgumentException(s"$name takes exactly one argument")
      }, "scala_udf")
    }
    graft.functions.Registry.registerAll(spark)
  }

  /** Column-API forms. */
  def sum_custom(c: Column): Column =
    Bridge.column(SumCoercingAgg(Bridge.expression(c), "sum_custom", SumCoercingAgg.Float32)
      .toAggregateExpression())
  def sum_coercing(c: Column): Column =
    Bridge.column(SumCoercingAgg(Bridge.expression(c)).toAggregateExpression())
}
