package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType

/** Bridge into `private[sql]` conversion utilities so graft's native
  * Catalyst expressions can be exposed as `Column`s (the Spark 4 Column no
  * longer wraps Expression publicly after the Connect refactor).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A native kernel as one column: `obj.fn(args…, refs…)`, where `fn` is a
    * method of the Scala object `obj`, called through its static forwarder
    * by Spark's own `StaticInvoke` — a direct call in generated code, a
    * reflective one in interpreted mode. Arguments arrive in Catalyst's
    * internal form (`UTF8String`, `ArrayData`, primitives).
    *
    * `inputTypes` gives one type per `args` entry; a mismatched column is
    * implicitly cast where Spark can, and fails analysis with
    * `DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE` where it cannot. A null
    * argument makes the result null without calling `fn`; `returnsNull`
    * says `fn` may itself return null (the column is then always
    * nullable). `refs` are driver-built objects (a centroid matrix, a
    * codebook, an automaton) passed as trailing arguments: each rides as
    * one object literal — a codegen reference object — so the plan stays
    * constant-size however large they are.
    */
  def staticCall(
      obj: AnyRef,
      fn: String,
      dataType: DataType,
      args: Seq[Column],
      inputTypes: Seq[DataType],
      refs: Seq[AnyRef] = Nil,
      returnsNull: Boolean = false
  ): Column = {
    require(args.length == inputTypes.length,
      s"$fn: ${args.length} arguments but ${inputTypes.length} input types")
    val refLits = refs.map(Literal.fromObject(_))
    column(StaticInvoke(obj.getClass, dataType, fn,
      args.map(expression) ++ refLits, inputTypes ++ refLits.map(_.dataType),
      returnNullable = returnsNull))
  }

  /** `bloom_filter_agg(key, n, bits)`: Spark's native Bloom aggregate,
    * serialized as `BloomFilterImpl` bytes — a partial-merged, codegen'd
    * aggregate, so several filters over one frame build in one pass. It
    * clamps `n` and `bits` to the session's runtime-bloom caps without a
    * word; callers check them.
    */
  def bloomFilterAgg(key: Column, n: Long, bits: Long): Column =
    column(new BloomFilterAggregate(expression(key), expression(lit(n)),
      expression(lit(bits))).toAggregateExpression())

  /** `might_contain(bloom, key)` over a serialized sketch, the bloom riding
    * as one binary literal (deserialized once per task, not per row).
    */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    column(BloomFilterMightContain(expression(lit(bloomBytes)), expression(key)))
}
