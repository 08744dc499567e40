package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Vector kernels for the similarity operators. `aggregate`/`zip_with`
  * higher-order functions evaluate their lambdas interpreted, one
  * boxed element at a time — far too slow for an all-pairs prefilter.
  * These expressions loop over the primitive float arrays directly and
  * generate a tight scalar loop under whole-stage codegen.
  */
object VectorExpressions {

  /** `dot_f32(ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE` — IEEE
    * index-order sum of per-component double products (the same fold
    * order as DuckDB's list_sum over list_transform, so doubles agree
    * bit-for-bit).
    */
  /** Both operands must be ARRAY<FLOAT>: toFloatArray over an
    * array<double> layout reads garbage bit patterns silently, so the
    * mismatch has to be an analysis error, not a wrong answer.
    */
  private def checkFloatArrays(name: String, l: Expression, r: Expression): TypeCheckResult =
    if (Seq(l, r).forall {
        case e => e.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }
      })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${l.dataType.sql}, ${r.dataType.sql})")

  case class DotF32(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArrays(prettyName, left, right)

    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorKernels.dot($a, $b)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32 = copy(l, r)
    override def prettyName: String = "dot_f32"
  }

  /** `dot_f32_dec(ARRAY<FLOAT>, ARRAY<FLOAT>) → DECIMAL(38,12)` —
    * order-independent exact score: each double product is rounded to
    * 12 dp through its shortest decimal representation (exactly what
    * `CAST(double AS DECIMAL(28,12))` does in both Spark and DuckDB)
    * and summed exactly. Value-identical to the SQL formulation
    * `SUM(CAST(x*y AS DECIMAL(28,12)))`, ~20x faster than the
    * interpreted aggregate/zip_with chain.
    */
  case class DotF32Dec(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DecimalType(38, 12)
    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArrays(prettyName, left, right)

    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.dotDec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorKernels.dotDec($a, $b)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32Dec = copy(l, r)
    override def prettyName: String = "dot_f32_dec"
  }

  val sq8Type: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(ByteType, containsNull = false),
      nullable = false)))

  /** `sq8_quantize(ARRAY<FLOAT>) → STRUCT<scale DOUBLE, q ARRAY<TINYINT>>`
    * — symmetric int8 scalar quantization ([[VectorKernels.sq8Quantize]]):
    * the 4× memory cut of a quantized ANN index, with every rounding
    * step a fixed-order IEEE double op so the SQL oracle replays the
    * codes bit-for-bit.
    */
  case class Sq8Quantize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = sq8Type
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ARRAY<FLOAT>, got ${other.sql}")
    }
    override def nullSafeEval(a: Any): Any =
      VectorKernels.sq8QuantizeRow(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.VectorKernels.sq8QuantizeRow($a)")
    override protected def withNewChildInternal(c: Expression): Sq8Quantize = copy(c)
    override def prettyName: String = "sq8_quantize"
  }

  /** `bq_pack(ARRAY<FLOAT>) → BIGINT` — sign-bit binary quantization
    * over the first 64 dims ([[VectorKernels.bqPack]]): one long per
    * vector, the 32× memory cut of the binary-quantized ANN path;
    * Hamming over the packed words is the candidate metric.
    */
  case class BqPack(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ARRAY<FLOAT>, got ${other.sql}")
    }
    override def nullSafeEval(a: Any): Any =
      VectorKernels.bqPack(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.VectorKernels.bqPack($a)")
    override protected def withNewChildInternal(c: Expression): BqPack = copy(c)
    override def prettyName: String = "bq_pack"
  }

  /** `dot_i8(ARRAY<TINYINT>, ARRAY<TINYINT>) → BIGINT` — exact
    * integer dot over int8 codes, the quantized ranking kernel.
    */
  case class DotI8(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(ByteType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<TINYINT>, ARRAY<TINYINT>), got (${left.dataType.sql}, ${right.dataType.sql})")
    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorKernels.dotI8($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotI8 = copy(l, r)
    override def prettyName: String = "dot_i8"
  }

  /** `decimal_vec_sum(ARRAY<DECIMAL(28,12)>, dim) →
    * ARRAY<DECIMAL(38,12)>` — elementwise sum of fixed-width decimal
    * vectors as ONE imperative aggregate.
    *
    * The Lloyd trainers' per-round means were `dim` separate
    * `sum(CAST(... AS DECIMAL(28,12)))` aggregate expressions; at
    * dim = 64 the generated HashAggregate source is enormous and its
    * per-plan instantiation (codegen source generation — janino is
    * cache-hit) measured ~0.4 s of the ~0.55 s per training round.
    * One typed-imperative aggregate with an Array[BigDecimal] buffer
    * makes the generated aggregate trivial. Value identity with the
    * per-column sums is exact: the addends are the identical
    * DECIMAL(28,12) values (the cast stays in the codegen'd input
    * projection), BigDecimal addition is exact and associative in any
    * grouping/order, and the result is surfaced at the same
    * DECIMAL(38,12) type Spark's sum produces. Null elements are not
    * supported (the trainers never produce them); a null INPUT ROW is
    * skipped like sum does.
    */
  case class DecimalVecSumAgg(child: Expression, dim: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[java.math.BigDecimal]] {
    private val outType = DecimalType(38, 12)
    override def children: Seq[Expression] = Seq(child)
    override def dataType: DataType = ArrayType(outType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Array[java.math.BigDecimal] =
      Array.fill(dim)(java.math.BigDecimal.ZERO)
    override def update(buf: Array[java.math.BigDecimal], row: org.apache.spark.sql.catalyst.InternalRow): Array[java.math.BigDecimal] = {
      val v = child.eval(row)
      if (v != null) {
        val a = v.asInstanceOf[ArrayData]
        var i = 0
        while (i < dim) {
          buf(i) = buf(i).add(a.getDecimal(i, 28, 12).toJavaBigDecimal)
          i += 1
        }
      }
      buf
    }
    override def merge(b1: Array[java.math.BigDecimal], b2: Array[java.math.BigDecimal]): Array[java.math.BigDecimal] = {
      var i = 0
      while (i < dim) { b1(i) = b1(i).add(b2(i)); i += 1 }
      b1
    }
    override def eval(buf: Array[java.math.BigDecimal]): Any =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        buf.map(b => org.apache.spark.sql.types.Decimal(new scala.math.BigDecimal(b), 38, 12)
          .asInstanceOf[Any]))
    override def serialize(buf: Array[java.math.BigDecimal]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(buf); out.close()
      bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): Array[java.math.BigDecimal] =
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
        .readObject().asInstanceOf[Array[java.math.BigDecimal]]
    override def withNewMutableAggBufferOffset(newOffset: Int): DecimalVecSumAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): DecimalVecSumAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): DecimalVecSumAgg =
      copy(child = cs.head)
    override def prettyName: String = "decimal_vec_sum"
  }

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def dot_f32(a: Column, b: Column): Column = c(DotF32(e(a), e(b)))
  def decimal_vec_sum(a: Column, dim: Int): Column =
    c(DecimalVecSumAgg(e(a), dim).toAggregateExpression())
  def dot_f32_dec(a: Column, b: Column): Column = c(DotF32Dec(e(a), e(b)))
  def sq8_quantize(a: Column): Column = c(Sq8Quantize(e(a)))
  def bq_pack(a: Column): Column = c(BqPack(e(a)))
  def dot_i8(a: Column, b: Column): Column = c(DotI8(e(a), e(b)))

  /** SQL name -> builder of every function this pack registers; both
    * [[register]] and `graft.GraftExtensions` read it.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("dot_f32", es => DotF32(es(0), es(1))),
    ("dot_f32_dec", es => DotF32Dec(es(0), es(1))))

  def register(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
  }
}
