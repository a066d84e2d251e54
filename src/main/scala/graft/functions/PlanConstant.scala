package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StructField, StructType}

/** A driver constant (a codebook, a lookup-table matrix) carried in a plan
  * BY REFERENCE: generated code reads it through one `addReferenceObj`
  * slot, interpreted code returns it from `eval`, and the plan text shows
  * only `name[shape]`.
  *
  * Why not `typedLit`: a `Literal` renders every element wherever the plan
  * is printed, and Spark prints a query's plan for the SQL listener at
  * execution start and at each adaptive re-plan — a 115 × 64 codebook plus
  * 8 PQ matrices made ~0.5 MB of text per IVF-PQ search, twice that once
  * dynamic partition pruning copied the probe side into its subquery.
  * `Literal` also holds its doubles boxed; here each row is one
  * `UnsafeArrayData`, so the value serializes as flat bytes.
  *
  * Not foldable, so no optimizer rule evaluates it into a `Literal`;
  * deterministic, so filters and joins over it plan as over a literal.
  * Equality is by value (`ArrayData` compares elements), so two plans that
  * carry the same constant canonicalize equal and their exchanges reuse.
  */
case class PlanConstant(name: String, shape: String, value: ArrayData,
                        dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(name, value, CodeGenerator.javaType(dataType))
    ExprCode.forNonNullValue(JavaCode.global(ref, dataType))
  }

  override def toString: String = s"$name[$shape]"
  override def sql: String = toString
}

object PlanConstant {
  private val vectorType = ArrayType(DoubleType, containsNull = false)

  private def row(v: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v)

  private def column(c: PlanConstant): Column = CatalystBridge.column(c)

  /** `array<double>`, shape `n`. */
  def vector(name: String, v: Array[Double]): Column =
    column(PlanConstant(name, s"${v.length}", row(v), vectorType))

  /** `array<bigint>`, shape `n`. */
  def longs(name: String, v: Array[Long]): Column =
    column(PlanConstant(name, s"${v.length}", UnsafeArrayData.fromPrimitiveArray(v),
      ArrayType(LongType, containsNull = false)))

  /** `array<array<double>>`, one element per row, shape `rows x dim`. */
  def matrix(name: String, rows: Seq[Array[Double]]): Column =
    column(PlanConstant(name, s"${rows.size}x${rows.headOption.fold(0)(_.length)}",
      new GenericArrayData(rows.map(row).toArray[Any]),
      ArrayType(vectorType, containsNull = false)))

  /** `array<struct<_1: bigint, _2: array<double>>>` — (id, vector) rows,
    * shape `rows x dim`.
    */
  def keyedRows(name: String, rows: Seq[(Long, Array[Double])]): Column =
    column(PlanConstant(name, s"${rows.size}x${rows.headOption.fold(0)(_._2.length)}",
      new GenericArrayData(rows.map { case (k, v) => InternalRow(k, row(v)) }
        .toArray[Any]),
      ArrayType(StructType(Seq(StructField("_1", LongType, nullable = false),
        StructField("_2", vectorType, nullable = false))), containsNull = false)))
}
