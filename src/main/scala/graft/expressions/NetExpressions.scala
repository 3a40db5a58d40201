package graft.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot network predicates (SURVEY.md
  * §4 "custom Catalyst work": cidr_match as an expression, F4).
  *
  * These are the engine's one CIDR/IPv4 form (`GraftFunctions.cidrMatch`
  * for DnsOpenResolvers, PatternFinder's `ip` filter op and
  * q_cidr_filter): a single byte-scan per row with no intermediate array
  * allocation, full whole-stage-codegen participation via `doGenCode`,
  * and SQL availability through [[GraftExtensions]] /
  * [[GraftFunctions.register]]. Reference semantics are netaddr's
  * `IPAddress(ip) in IPNetwork(net)` (host_stats.py:152): an octet above
  * 255, a missing octet or any other malformed address parses to NULL,
  * so `10.0.100.300` matches no network.
  */
object Ipv4Util {

  /** Dotted-quad → uint32 as long; -1 for malformed (negative is outside
    * the valid range, so it doubles as the null sentinel in codegen). */
  def parse(s: UTF8String): Long = {
    if (s == null) return -1L
    val bytes = s.getBytes
    var value = 0L
    var octet = 0L
    var nDots = 0
    var digits = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= '0' && b <= '9') {
        octet = octet * 10 + (b - '0')
        digits += 1
        if (octet > 255L || digits > 3) return -1L
      } else if (b == '.') {
        if (digits == 0) return -1L
        value = value * 256L + octet
        nDots += 1
        if (nDots > 3) return -1L
        octet = 0L
        digits = 0
      } else return -1L
      i += 1
    }
    if (digits == 0 || nDots != 3) -1L
    else value * 256L + octet
  }

  /** 1 = inside, 0 = outside, -1 = malformed ip or cidr (→ SQL NULL). */
  def cidrMatch(ip: UTF8String, cidr: UTF8String): Int = {
    if (ip == null || cidr == null) return -1
    val cs = cidr.toString
    val slash = cs.indexOf('/')
    if (slash < 0) return -1
    val net = parse(UTF8String.fromString(cs.substring(0, slash)))
    if (net < 0) return -1
    val len =
      try cs.substring(slash + 1).toInt
      catch { case _: NumberFormatException => return -1 }
    if (len < 0 || len > 32) return -1
    val ipL = parse(ip)
    if (ipL < 0) return -1
    val mask = if (len == 0) 0L else (0xFFFFFFFFL << (32 - len)) & 0xFFFFFFFFL
    if ((ipL & mask) == (net & mask)) 1 else 0
  }
}

/** `ip4_to_long('1.2.3.4')` → 16909060; NULL for malformed input. */
case class Ipv4ToLong(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "ip4_to_long"

  protected override def nullSafeEval(input: Any): Any = {
    val r = Ipv4Util.parse(input.asInstanceOf[UTF8String])
    if (r < 0L) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val parsed = ctx.freshName("parsed")
      s"""
         |long $parsed = graft.expressions.Ipv4Util.parse($c);
         |if ($parsed < 0L) { ${ev.isNull} = true; } else { ${ev.value} = $parsed; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Ipv4ToLong =
    copy(child = newChild)
}

/** `cidr_match(ip, 'a.b.c.d/len')` → boolean; NULL for malformed input. */
case class CidrMatch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] && right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string arguments")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "cidr_match"

  protected override def nullSafeEval(ip: Any, cidr: Any): Any =
    Ipv4Util.cidrMatch(ip.asInstanceOf[UTF8String], cidr.asInstanceOf[UTF8String]) match {
      case 1  => true
      case 0  => false
      case _  => null
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ip, cidr) => {
      val m = ctx.freshName("cidrm")
      s"""
         |int $m = graft.expressions.Ipv4Util.cidrMatch($ip, $cidr);
         |if ($m < 0) { ${ev.isNull} = true; } else { ${ev.value} = ($m == 1); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CidrMatch =
    copy(left = newLeft, right = newRight)
}

/** Function registry entries + Column wrappers for the native expressions. */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def intArg(e: Expression, fn: String): Int = e match {
    case lit if lit.foldable => lit.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal int, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a literal int")
  }

  /** Widen a resolved numeric argument to double/long at build time —
    * the natural-literal UX (`quantile_sketch_query(s, 0.9)` parses 0.9
    * as DECIMAL, `cms_estimate(s, 42)` as INT) without opening the
    * expression to ImplicitCastInputTypes, whose rules would ALSO admit
    * a string posing as the binary sketch. Non-numeric or unresolved
    * arguments pass through for the expression's strict check to
    * reject. */
  private[expressions] def widenToDouble(e: Expression): Expression =
    if (e.resolved && e.dataType != org.apache.spark.sql.types.DoubleType &&
        e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      org.apache.spark.sql.catalyst.expressions.Cast(
        e, org.apache.spark.sql.types.DoubleType)
    else e

  private[expressions] def widenToLong(e: Expression): Expression = e match {
    case _ if !e.resolved => e
    case _ => e.dataType match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.LongType)
      case _ => e
    }
  }

  private def stringArg(e: Expression, fn: String): String = e match {
    case lit if lit.foldable => lit.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal string, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a literal string")
  }

  private def doubleArg(e: Expression, fn: String): Double = e match {
    case lit if lit.foldable => lit.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      // SQL parses 0.01 as a DECIMAL literal — the natural spelling
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case dec: java.math.BigDecimal => dec.doubleValue
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal double, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a literal double")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("ip4_to_long"),
      new ExpressionInfo(classOf[Ipv4ToLong].getName, "ip4_to_long"),
      (e: Seq[Expression]) => Ipv4ToLong(e.head)),
    (FunctionIdentifier("cidr_match"),
      new ExpressionInfo(classOf[CidrMatch].getName, "cidr_match"),
      (e: Seq[Expression]) => CidrMatch(e(0), e(1))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (e: Seq[Expression]) => WordShingles(e.head,
        if (e.size > 1) intArg(e(1), "word_shingles") else 1,
        distinct = e.size > 2 && e(2).foldable &&
          e(2).eval() == java.lang.Boolean.TRUE)),
    (FunctionIdentifier("poly_hash47"),
      new ExpressionInfo(classOf[PolyHash47].getName, "poly_hash47"),
      (e: Seq[Expression]) => PolyHash47(e.head)),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (e: Seq[Expression]) => MinhashSig(e.head, intArg(e(1), "minhash_sig"))),
    (FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (e: Seq[Expression]) => CharEntropy(e.head)),
    (FunctionIdentifier("levenshtein_banded"),
      new ExpressionInfo(classOf[LevenshteinBanded].getName,
        "levenshtein_banded"),
      (e: Seq[Expression]) => LevenshteinBanded(e(0), e(1),
        intArg(e(2), "levenshtein_banded"))),
    (FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (e: Seq[Expression]) => DeflateRatio(e.head)),
    (FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (e: Seq[Expression]) => DeflateLen(e.head)),
    (FunctionIdentifier("media_phash"),
      new ExpressionInfo(classOf[MediaPhash].getName, "media_phash"),
      (e: Seq[Expression]) => MediaPhash(e.head)),
    (FunctionIdentifier("z_key"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "z_key"),
      (e: Seq[Expression]) => InterleaveBits(e.tail, intArg(e.head, "z_key"))),
    (FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (e: Seq[Expression]) => WinnowFp(e.head,
        intArg(e(1), "winnow_fp"), intArg(e(2), "winnow_fp"))),
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (e: Seq[Expression]) => CdcChunks(e.head,
        intArg(e(1), "cdc_chunks"), intArg(e(2), "cdc_chunks").toLong)),
    (FunctionIdentifier("simhash_fold"),
      new ExpressionInfo(classOf[SimhashFold].getName, "simhash_fold"),
      (e: Seq[Expression]) => SimhashFold(e.head)),
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (e: Seq[Expression]) => UnicodeNormalize(e.head,
        if (e.size > 1) stringArg(e(1), "unicode_normalize") else "NFC")),
    (FunctionIdentifier("cms_merge"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "cms_merge"),
      (e: Seq[Expression]) => CmsMergeAgg(e.head).toAggregateExpression()),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (e: Seq[Expression]) => CmsEstimate(e(0), widenToLong(e(1)))),
    (FunctionIdentifier("quantile_sketch"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch"),
      (e: Seq[Expression]) => QuantileSketchAgg(e.head,
        if (e.size > 1) doubleArg(e(1), "quantile_sketch") else 0.01)
        .toAggregateExpression()),
    (FunctionIdentifier("quantile_sketch_merge"),
      new ExpressionInfo(classOf[QuantileSketchMergeAgg].getName,
        "quantile_sketch_merge"),
      (e: Seq[Expression]) => QuantileSketchMergeAgg(e.head)
        .toAggregateExpression()),
    (FunctionIdentifier("quantile_sketch_query"),
      new ExpressionInfo(classOf[QuantileSketchQuery].getName,
        "quantile_sketch_query"),
      (e: Seq[Expression]) => QuantileSketchQuery(e(0), widenToDouble(e(1)))))

  /** Register on a live session (the no-extensions path). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }

  // Column API over the native expressions (no registration needed)
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def cidrMatch(ip: Column, cidr: Column): Column =
    column(CidrMatch(expression(ip), expression(cidr)))
}

/** `--conf spark.sql.extensions=graft.expressions.GraftExtensions` —
  * registers the native functions and the native as-of join planner
  * strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
