package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftinterop.ColumnInterop
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.security.MessageDigest

/** One-pass argmax scorer for `domain_classify`'s formula-derived
  * linear model — semantically identical to the composable form
  *
  *   greatest over classes c of
  *     struct(aggregate(transform(tokens, t ->
  *              conv(substring(md5(t), 1, 2), 16, 10)),
  *            0L, (acc, f) -> acc + (pmod(f*p_c + q_c, 1001) - 500)),
  *            c)
  *
  * but ONE md5 digest and one k-accumulator sweep per token instead of
  * k interpreted `aggregate` folds over a separately materialized
  * feature array (higher-order functions are CodegenFallback — the
  * per-row interpreted dispatch was the residual constant factor the
  * round-14 map-side rewrite left in place). The feature value is the
  * first md5 OUTPUT byte (= the first two hex chars read base-16);
  * f*p+q never goes negative, so `%` equals `pmod`. Ties follow
  * `greatest`'s struct order exactly: larger score, then binary-larger
  * class name. An empty token array scores 0 for every class and
  * returns the binary-largest class, as the fold form does.
  *
  * The class list rides the expression as a literal (formula-derived
  * weights need no table at inference — see the query's comment).
  *
  * Contracts: the class list is non-empty and every weight p, q is
  * non-negative (both checked at construction — a negative weight would
  * make `%` differ from `pmod`). Tokens must be non-null: a NULL array
  * yields a NULL struct (the fold form yields a struct with a NULL
  * score) and a NULL element fails the task. The `domain_classify`
  * call site (`words(text)`) satisfies both for non-null text.
  */
case class DomainScore(child: Expression,
    classes: Seq[(String, Long, Long)])
  extends RefCallCodegen {

  require(classes.nonEmpty, "classes must be non-empty")
  require(classes.forall { case (_, p, q) => p >= 0 && q >= 0 },
    s"class weights must be non-negative: $classes")

  override def dataType: DataType = StructType(Seq(
    StructField("score", LongType, nullable = false),
    StructField("cls", StringType, nullable = false)))
  override def prettyName: String = "domain_score"

  @transient private lazy val md = MessageDigest.getInstance("MD5")
  // driver-evaluated once per task deserialization, not per row
  @transient private lazy val ps = classes.map(_._2).toArray
  @transient private lazy val qs = classes.map(_._3).toArray
  @transient private lazy val names =
    classes.map(c => UTF8String.fromString(c._1)).toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val k = ps.length
    val sums = new Array[Long](k)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      val f = (d(0) & 0xff).toLong
      var c = 0
      while (c < k) {
        sums(c) += (f * ps(c) + qs(c)) % 1001L - 500L
        c += 1
      }
      i += 1
    }
    var bi = 0
    var c = 1
    while (c < k) {
      if (sums(c) > sums(bi) ||
        (sums(c) == sums(bi) && names(c).compareTo(names(bi)) > 0)) bi = c
      c += 1
    }
    InternalRow(sums(bi), names(bi))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DomainScore {
  /** struct(score, cls) of the argmax class for the token array. */
  def domain_score(tokens: Column,
      classes: Seq[(String, Long, Long)]): Column =
    ColumnInterop.toColumn(
      DomainScore(ColumnInterop.toExpr(tokens), classes))
}
