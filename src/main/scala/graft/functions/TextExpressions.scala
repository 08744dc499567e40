package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over [[TextImpl]]: simhash, rolling
  * fingerprints, hamming distance, language ID.
  */
object TextExpressions {

  case class SimHash64(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      TextCodegen.simhash64(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.simhash64($a)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
    override def prettyName: String = "simhash64"
  }

  case class Hamming64(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      TextImpl.hamming64(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Hamming64 = copy(l, r)
    override def prettyName: String = "hamming64"
  }

  case class Fnv1a64(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      TextCodegen.fnv1a64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.fnv1a64($a)")
    override protected def withNewChildInternal(c: Expression): Fnv1a64 = copy(c)
    override def prettyName: String = "fnv1a64"
  }

  case class RollingFingerprint(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      TextCodegen.rollingFingerprint(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.rollingFingerprint($a)")
    override protected def withNewChildInternal(c: Expression): RollingFingerprint = copy(c)
    override def prettyName: String = "rolling_fingerprint"
  }

  case class LangId(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      TextCodegen.langId(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.langId($a)")
    override protected def withNewChildInternal(c: Expression): LangId = copy(c)
    override def prettyName: String = "lang_id"
  }

  case class ArgvTokenize(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      TextCodegen.argvTokenize(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.argvTokenize($a)")
    override protected def withNewChildInternal(c: Expression): ArgvTokenize = copy(c)
    override def prettyName: String = "argv_tokenize"
  }

  /** Byte-level BPE encode under the frozen [[BpeVocab]] table:
    * `bpe_encode(text) → ARRAY<INT>` of token ids. Codegen-resident —
    * the merge loop runs in one static call per row over the shared
    * rank LUT (no per-row vocabulary materialization), so token
    * counting / budgeting / packing in MODEL tokens stays inside
    * WholeStageCodegen like the regex pretokenizer it upgrades.
    */
  case class BpeEncode(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      TextCodegen.bpeEncode(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextCodegen.bpeEncode($a)")
    override protected def withNewChildInternal(c: Expression): BpeEncode = copy(c)
    override def prettyName: String = "bpe_encode"
  }

  /** Env expansion against a constant environment (foldable when the
    * path is a literal).
    */
  case class ExpandEnv(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, MapType(StringType, StringType))
    override def dataType: DataType = StringType
    override def nullSafeEval(p: Any, m: Any): Any =
      TextCodegen.expandEnv(p.asInstanceOf[UTF8String],
        m.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextCodegen.expandEnv($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ExpandEnv = copy(l, r)
    override def prettyName: String = "expand_env"
  }

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))
  def argv_tokenize(line: Column): Column = c(ArgvTokenize(e(line)))
  def expand_env(path: Column, env: Column): Column = c(ExpandEnv(e(path), e(env)))
  def hamming64(a: Column, b: Column): Column = c(Hamming64(e(a), e(b)))
  def fnv1a64(s: Column): Column = c(Fnv1a64(e(s)))
  def rolling_fingerprint(s: Column): Column = c(RollingFingerprint(e(s)))
  def lang_id(s: Column): Column = c(LangId(e(s)))
  def bpe_encode(s: Column): Column = c(BpeEncode(e(s)))

  /** SQL name -> builder of every function this pack registers; both
    * [[register]] and `graft.GraftExtensions` read it.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", es => SimHash64(es.head)),
    ("hamming64", es => Hamming64(es(0), es(1))),
    ("fnv1a64", es => Fnv1a64(es.head)),
    ("rolling_fingerprint", es => RollingFingerprint(es.head)),
    ("lang_id", es => LangId(es.head)),
    ("argv_tokenize", es => ArgvTokenize(es.head)),
    ("expand_env", es => ExpandEnv(es(0), es(1))),
    ("bpe_encode", es => BpeEncode(es.head)))

  def register(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
  }
}
