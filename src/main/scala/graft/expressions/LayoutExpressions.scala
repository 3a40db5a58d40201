package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** `z_key(bits; c0, c1, …)` — Morton interleave of the low `bits` bits
  * of each child, first child at bit position 0. The composed shift/or
  * tree spells bits·n Column nodes (the oracle-portable form, kept in the
  * tests as `RefColumns.interleaveBits`); this is ONE expression node
  * with a tight two-level loop in both interpreted eval and generated
  * code — the hot-path form
  * a full-corpus layout pass wants, since the z-key is computed for
  * every row of the table being rewritten. Children must already be
  * LongType (cast upstream) and non-negative scaled values; NULL in any
  * child nulls the key. */
case class InterleaveBits(children: Seq[Expression], bits: Int)
    extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "z_key"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.isEmpty)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs at least one column")
    else if (bits <= 0 || bits * children.size > 63)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: bits=$bits over ${children.size} columns exceeds a long")
    else if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName arguments must all be bigint")

  override def eval(input: InternalRow): Any = {
    val n = children.size
    var z = 0L
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Long]
      var b = 0
      while (b < bits) {
        z |= ((x >> b) & 1L) << (b * n + i)
        b += 1
      }
      i += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = children.size
    val evals = children.map(_.genCode(ctx))
    val terms = evals.zipWithIndex.map { case (e, i) =>
      s"""
         |${e.code}
         |if (!${ev.isNull}) {
         |  if (${e.isNull}) { ${ev.isNull} = true; ${ev.value} = 0L; }
         |  else {
         |    for (int b = 0; b < $bits; b++) {
         |      ${ev.value} |= ((${e.value} >> b) & 1L) << (b * $n + $i);
         |    }
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
        boolean ${ev.isNull} = false;
        long ${ev.value} = 0L;
        $terms
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InterleaveBits =
    copy(children = newChildren)
}

object LayoutExpressions {
  /** Column face of the native interleave. */
  def zKey(cols: Seq[Column], bits: Int): Column =
    ColumnBridge.column(
      InterleaveBits(cols.map(ColumnBridge.expression), bits))
}
