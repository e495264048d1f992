package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the packed ctid row id.
  *
  * The connector packs the Postgres `(page, row)` tuple id into one
  * int64 as `(page << 16) | row` (same encoding as the reference —
  * ref: src/include/postgres_binary_reader.hpp:354-360; re-split for
  * DELETE ref: src/storage/postgres_delete.cpp:67-75). These two
  * expressions expose pack/unpack to SQL and the Column API
  * (SURVEY.md §7.3 lists them as the only custom expressions needed).
  *
  * Both are codegen'd (`doGenCode`), so they stay inside whole-stage
  * codegen instead of breaking the pipeline into interpreted eval.
  */
case class PgCtidPack(left: Expression, right: Expression)
    extends BinaryExpression {

  // Integral inputs of any width are accepted and widened to long
  // BEFORE the shift, in BOTH paths: codegen used to run `page << 16`
  // in the INPUT's arithmetic width — an INT page column (the natural
  // call shape) overflowed silently into a wrong packed id that
  // DELETE/UPDATE would then aim at the wrong rows — while the
  // interpreted path threw ClassCastException for the very same
  // query. Non-integral inputs fail analysis.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires integral (page, row) arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "pg_ctid_pack"

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  override protected def nullSafeEval(page: Any, row: Any): Any =
    (toLong(page) << 16) | (toLong(row) & 0xffffL)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (p, r) => s"${ev.value} = (((long) $p) << 16) | (((long) $r) & 0xffffL);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PgCtidPack =
    copy(left = l, right = r)
}

/** `pg_ctid_unpack(packed)` → struct(page BIGINT, row INT), plus the
  * text form `'(page,row)'` via [[PgCtidText]] for SQL generation. */
case class PgCtidUnpack(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT packed ctid, got ${child.dataType.simpleString}")
  override def dataType: DataType = StructType(Seq(
    StructField("page", LongType, nullable = false),
    StructField("row", IntegerType, nullable = false)))
  override def prettyName: String = "pg_ctid_unpack"

  override protected def nullSafeEval(packed: Any): Any = {
    val v = packed.asInstanceOf[Long]
    org.apache.spark.sql.catalyst.InternalRow(v >>> 16, (v & 0xffffL).toInt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ ($p >>> 16), (int) ($p & 0xffffL) });""".stripMargin)

  override protected def withNewChildInternal(c: Expression): PgCtidUnpack = copy(child = c)
}

/** `pg_ctid_text(packed)` → `'(page,row)'` — the literal form used in
  * generated DELETE/UPDATE SQL. */
case class PgCtidText(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT packed ctid, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "pg_ctid_text"

  override protected def nullSafeEval(packed: Any): Any = {
    val v = packed.asInstanceOf[Long]
    UTF8String.fromString(s"(${v >>> 16},${v & 0xffffL})")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  "(" + ($p >>> 16) + "," + ($p & 0xffffL) + ")");""".stripMargin)

  override protected def withNewChildInternal(c: Expression): PgCtidText = copy(child = c)
}

/** Column-API + SQL access to the ctid expressions. Call
  * [[CtidFunctions.register]] once per session (or configure
  * `spark.sql.extensions=graft.GraftExtensions`). */
object CtidFunctions {
  import org.apache.spark.sql.functions.call_function

  def register(spark: org.apache.spark.sql.SparkSession): Unit = GraftFunctions.install(spark)

  def pg_ctid_pack(page: Column, row: Column): Column =
    call_function("pg_ctid_pack", page, row)
  def pg_ctid_unpack(packed: Column): Column =
    call_function("pg_ctid_unpack", packed)
  def pg_ctid_text(packed: Column): Column =
    call_function("pg_ctid_text", packed)
}
