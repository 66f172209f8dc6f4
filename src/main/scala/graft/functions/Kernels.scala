package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A kernel's plan-time literal argument (the last SQL argument of
  * count_ranges, count_substrs, count_rlike and vec_quantize). `read`
  * turns the evaluated literal into the call's field value (a String,
  * `Seq[String]` or Double, so two equal calls compare equal); `prepare`
  * turns that value and the input type into the kernel-ready form once
  * per expression; `javaArgs` hands the prepared form to generated code. */
final class LiteralArg(
    val param: String,
    val kind: String,
    val read: PartialFunction[Any, Any],
    val prepare: (Any, DataType) => AnyRef,
    val javaArgs: (CodegenContext, AnyRef) => Seq[String])

/** One row of the kernel table: a SQL name bound to a Scala kernel.
  *
  * @param inputs  one type test per column argument
  * @param want    the accepted input types, as the type-check message says them
  * @param result  result type from the first input's type
  * @param method  the kernel's static Java path, called by generated code
  * @param eval    the same kernel for interpreted eval: (input, prepared
  *                literal or null) for unary rows, (left, right) for binary
  * @param params  argument names for the arity message; empty means
  *                "exactly N argument(s)"
  * @param boxed   Java type and unboxing suffix of a kernel that returns
  *                null for "no value" (the call is then always nullable) */
final class Kernel(
    val name: String,
    val inputs: Seq[DataType => Boolean],
    val want: String,
    val result: DataType => DataType,
    val method: String,
    val eval: (Any, Any) => Any,
    val params: Seq[String] = Nil,
    val literal: Option[LiteralArg] = None,
    val boxed: Option[(String, String)] = None) {

  def arity: Int = inputs.length + literal.size

  def arityMessage(got: Int): String =
    if (params.isEmpty)
      s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}, got $got"
    else s"$name expects (${params.mkString(", ")}), got $got arguments"

  // AbstractDataType (the ExpectsInputTypes route) is private[sql]:
  // check the input types directly instead
  def check(types: Seq[DataType]): TypeCheckResult =
    if (inputs.zip(types).forall { case (ok, t) => ok(t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires $want, got ${types.map(_.catalogString).mkString(", ")}")

  /** The generated statement around one kernel call. */
  def code(ev: ExprCode, args: Seq[String]): String = {
    val call = s"$method(${args.mkString(", ")})"
    boxed.fold(s"${ev.value} = $call;") { case (javaType, unbox) => s"""
      |$javaType ${ev.value}_r =
      |  $call;
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r$unbox; }
      |""".stripMargin }
  }
}

/** graft's native Catalyst kernels, one row per SQL name, registered by
  * [[graft.GraftExtensions]]. A Scala UDF would convert every value to
  * and from Scala types and split whole-stage codegen at the projection;
  * these calls work on UTF8String / ArrayData in place and inline one
  * static kernel call into the generated code. The higher-order-function
  * forms they replace (`transform`/`zip_with`/`aggregate`/`filter`) are
  * CodegenFallback and box every element through an interpreted lambda.
  * Interpreted eval and codegen call the same kernel, so both paths are
  * value-identical by construction; KernelTableSpec checks every row. */
object Kernels {
  private val str: DataType => Boolean = _ == StringType
  private def arrayOf(elems: DataType*): DataType => Boolean = {
    case ArrayType(e, _) => elems.contains(e)
    case _ => false
  }
  private val longs = arrayOf(LongType)
  private def arrayKeepingNulls(elem: DataType): DataType => DataType = {
    case ArrayType(_, containsNull) => ArrayType(elem, containsNull)
    case _ => ArrayType(elem)
  }
  private val counts: DataType => DataType =
    _ => ArrayType(LongType, containsNull = false)
  private val BoxedLong = Some(("java.lang.Long", ".longValue()"))
  private val BoxedArray =
    Some(("org.apache.spark.sql.catalyst.util.ArrayData", ""))
  private val Text = "graft.functions.TextKernels$.MODULE$."
  private val Vector = "graft.functions.VectorKernels$.MODULE$."

  private def utf8(x: Any) = x.asInstanceOf[UTF8String]
  private def arr(x: Any) = x.asInstanceOf[ArrayData]
  private def ref(name: String, javaType: String) =
    (ctx: CodegenContext, prepared: AnyRef) =>
      Seq(ctx.addReferenceObj(name, prepared, javaType))
  private val stringLiteral: PartialFunction[Any, Any] = {
    case s: UTF8String => s.toString
  }

  private def textToText(name: String, method: String,
      kernel: UTF8String => UTF8String) =
    new Kernel(name, Seq(str), "string", _ => StringType, Text + method,
      (s, _) => kernel(utf8(s)))

  private def longFold(name: String, method: String,
      kernel: ArrayData => java.lang.Long) =
    new Kernel(name, Seq(longs), "array<bigint>", _ => LongType,
      Vector + method, (a, _) => kernel(arr(a)), boxed = BoxedLong)

  private def longFold2(name: String, method: String,
      kernel: (ArrayData, ArrayData) => java.lang.Long) =
    new Kernel(name, Seq(longs, longs), "two array<bigint>", _ => LongType,
      Vector + method, (a, b) => kernel(arr(a), arr(b)), boxed = BoxedLong)

  val all: Seq[Kernel] = Seq(
    // Porter-stem each token ([[PorterStemmer]])
    new Kernel("stem_tokens", Seq(arrayOf(StringType)), "array<string>",
      arrayKeepingNulls(StringType),
      "graft.functions.StemTokens$.MODULE$.evalArray",
      (a, _) => StemTokens.evalArray(arr(a))),
    // floor(x * scale) per element: the engine-portable quantization
    new Kernel("vec_quantize", Seq(arrayOf(FloatType, DoubleType)),
      "array<float> or array<double>", arrayKeepingNulls(LongType),
      Vector + "quantize",
      (a, p) => {
        val (isFloat, scale) = p.asInstanceOf[(Boolean, Double)]
        VectorKernels.quantize(arr(a), isFloat, scale)
      },
      params = Seq("array", "scale"),
      literal = Some(new LiteralArg("scale", "numeric", {
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float => f.doubleValue
        case i: java.lang.Integer => i.doubleValue
        case l: java.lang.Long => l.doubleValue
        case d: Decimal => d.toDouble
      }, (scale, t) => (t match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }, scale.asInstanceOf[Double]),
        (_, p) => {
          val (isFloat, scale) = p.asInstanceOf[(Boolean, Double)]
          Seq(isFloat.toString, s"${scale}D")
        }))),
    longFold2("dot_longs", "dotLongs", VectorKernels.dotLongs),
    longFold("maxabs_longs", "maxAbsLongs", VectorKernels.maxAbsLongs),
    longFold("sq8_sqerr_longs", "sq8SqErrLongs", VectorKernels.sq8SqErrLongs),
    // element-wise difference: the residual x − centroid(cell(x)) of IVF-PQ
    new Kernel("sub_longs", Seq(longs, longs), "two array<bigint>",
      _ => ArrayType(LongType, containsNull = true), Vector + "subLongs",
      (a, b) => VectorKernels.subLongs(arr(a), arr(b)), boxed = BoxedArray),
    longFold2("sqdist_longs", "sqdistLongs", VectorKernels.sqdistLongs),
    textToText("nfc_normalize", "nfc", TextKernels.nfc),
    // struct(charset, text) from one detection scan
    new Kernel("decode_page", Seq(_ == BinaryType), "binary",
      _ => StructType(Seq(
        StructField("charset", StringType, nullable = false),
        StructField("text", StringType, nullable = false))),
      "graft.functions.CharsetKernels$.MODULE$.decodePage",
      (b, _) => CharsetKernels.decodePage(b.asInstanceOf[Array[Byte]])),
    textToText("decode_html_refs", "decodeHtmlRefs", TextKernels.decodeHtmlRefs),
    textToText("redact_cards", "redactCards", TextKernels.redactCards),
    new Kernel("count_ranges", Seq(str), "string", counts,
      Text + "countRanges",
      (s, p) => TextKernels.countRanges(utf8(s), p.asInstanceOf[Array[Array[Int]]]),
      params = Seq("str", "spec"),
      literal = Some(new LiteralArg("spec", "a string literal", stringLiteral,
        (spec, _) => TextKernels.parseRangeSpec(spec.asInstanceOf[String]),
        ref("countRangesClasses", "int[][]")))),
    new Kernel("count_substrs", Seq(str), "string", counts,
      Text + "countSubstrs",
      (s, p) => TextKernels.countSubstrs(utf8(s), p.asInstanceOf[Array[String]]),
      params = Seq("str", "grams"),
      literal = Some(new LiteralArg("grams", "a string array literal", {
        case a: ArrayData => (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), "count_substrs grams must be non-null")
          a.getUTF8String(i).toString
        }
      }, (grams, _) => grams.asInstanceOf[Seq[String]].toArray,
        ref("countSubstrsGrams", "java.lang.String[]")))),
    new Kernel("tokenize_mixed", Seq(str), "string",
      _ => ArrayType(StringType, containsNull = false),
      Text + "tokenizeMixed", (s, _) => TextKernels.tokenizeMixed(utf8(s))),
    new Kernel("robots_match", Seq(str, str), "(string, string)",
      _ => BooleanType, Text + "robotsMatch",
      (p, s) => TextKernels.robotsMatch(utf8(p), utf8(s)),
      params = Seq("pattern", "path")),
    new Kernel("count_rlike", Seq(arrayOf(StringType)), "array<string>",
      _ => LongType, Text + "countRlike",
      (a, p) => TextKernels.countRlike(arr(a), p.asInstanceOf[Pattern]),
      params = Seq("array", "pattern"),
      literal = Some(new LiteralArg("pattern", "a string literal",
        stringLiteral, (pattern, _) => Pattern.compile(pattern.asInstanceOf[String]),
        ref("countRlikePattern", classOf[Pattern].getName)))))

  private val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap

  def apply(name: String): Kernel = byName(name)
}

/** `name(child[, literal])`: a one-column kernel call, found in
  * [[Kernels]] by name. Plan text is `name(child, literal)`, as the
  * SQL call reads. */
case class UnaryKernelCall(name: String, child: Expression,
    literal: Option[Any] = None) extends UnaryExpression {

  @transient private lazy val kernel = Kernels(name)
  @transient private lazy val prepared: AnyRef =
    kernel.literal.fold(null: AnyRef)(_.prepare(literal.get, child.dataType))

  override def checkInputDataTypes(): TypeCheckResult =
    kernel.check(Seq(child.dataType))
  override def dataType: DataType = kernel.result(child.dataType)
  override def nullable: Boolean = kernel.boxed.isDefined || child.nullable

  override def nullSafeEval(input: Any): Any = kernel.eval(input, prepared)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val extra = kernel.literal.fold(Seq.empty[String])(_.javaArgs(ctx, prepared))
    nullSafeCodeGen(ctx, ev, c => kernel.code(ev, c +: extra))
  }

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ literal
  override protected def withNewChildInternal(newChild: Expression): UnaryKernelCall =
    copy(child = newChild)
}

/** `name(left, right)`: a two-column kernel call, found in [[Kernels]]. */
case class BinaryKernelCall(name: String, left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val kernel = Kernels(name)

  override def checkInputDataTypes(): TypeCheckResult =
    kernel.check(Seq(left.dataType, right.dataType))
  override def dataType: DataType = kernel.result(left.dataType)
  override def nullable: Boolean =
    kernel.boxed.isDefined || left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = kernel.eval(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernel.code(ev, Seq(a, b)))

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryKernelCall =
    copy(left = newLeft, right = newRight)
}
