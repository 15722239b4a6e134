// Lives inside the org.apache.spark.sql package hierarchy because the
// expression-authoring surface (AbstractDataType, TypeCollection,
// ExpressionUtils.column) is private[sql]. Public API consumers use
// graft.functions.GraftFunctions below via this object's re-export.
package org.apache.spark.sql.graft

import graft.functions.{MinHash, StringSim}
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the ER scoring stage (SURVEY.md §2.8/§2.9).
  *
  * Native expressions (with `doGenCode`) instead of Scala UDFs so the
  * pairwise-scoring stage stays inside whole-stage codegen: no
  * serialization of a closure per row, null handling generated, and the
  * similarity kernel is a static-method call from generated Java.
  *
  * Reference: informagi/REL computes its context score as a torch dot
  * product (`mulrel_ranker.py::PreRank.forward`, SURVEY.md §2.8 [M]); the
  * string kernels are new, mandated by BASELINE.json north_rule.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    StringSim.jaroWinkler(a.asInstanceOf[UTF8String].toString,
                          b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.StringSim.jaroWinkler($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity over two ArrayType(Float|Double) columns → double.
  * Accumulates in double regardless of input element type. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
        TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = toDoubles(a.asInstanceOf[ArrayData], elemIsFloat(left))
    val bb = toDoubles(b.asInstanceOf[ArrayData], elemIsFloat(right))
    StringSim.cosine(aa, bb)
  }

  private def toDoubles(ad: ArrayData, isFloat: Boolean): Array[Double] =
    if (isFloat) {
      val f = ad.toFloatArray()
      val out = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
      out
    } else ad.toDoubleArray()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.CosineSim.cosineOfArrayData($a, $lf, $b, $rf)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Called from generated code. */
  def cosineOfArrayData(a: ArrayData, aFloat: Boolean,
                        b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}

/** |a ∩ b| of two SORTED, DISTINCT, null-free string arrays → int, by one
  * merge walk: no hash set, no result array, no element hashing — the
  * exact-Jaccard verify kernel of near-dup detection, where
  * `size(array_intersect(a, b))` built an OpenHashSet per pair. Elements
  * compare as UTF8String bytes (unsigned lexicographic), so "sorted"
  * means byte order; for ASCII arrays (Dedup.shingles) that is Java
  * String order. Equals `size(array_intersect(a, b))` on every input
  * that meets the contract (DedupSpec); null arrays give null. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.SortedIntersectSize.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Called from generated code. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }
}

/** Unicode fold: NFKD-normalize, strip combining marks, lowercase —
  * "Zürich"→"zurich", "café"→"cafe" (matches DuckDB strip_accents(lower())
  * for Latin accents). The SURVEY §2.2 unicode2ascii analogue the round-1
  * tokenizer lacked: `[a-z0-9]+` silently deleted every non-ASCII surface
  * form. Codegen'd so tokenization stays inside whole-stage codegen. */
case class UnicodeFold(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unicode_fold"

  override protected def nullSafeEval(a: Any): Any =
    UTF8String.fromString(
      graft.functions.TextFns.foldUnicode(a.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextFns.foldUnicode($a.toString()))")

  override protected def withNewChildInternal(newChild: Expression): UnicodeFold =
    copy(child = newChild)
}

/** Blocking keys of one mention (graft.operators.Blocking.withBlockKeys):
  * "nm:<norm>", the MinHash-LSH band keys of the norm's character n-grams
  * and "ent:<entity>" per candidate entity, distinct, in that order.
  * Codegen'd so keying stays inside the scan's whole-stage stage. */
case class BlockKeys(left: Expression, right: Expression, k: Int, bands: Int, rows: Int,
                     charNgram: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "block_keys"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BlockKeys.keys(a.asInstanceOf[UTF8String], b.asInstanceOf[ArrayData], k, bands, rows,
                   charNgram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.BlockKeys.keys($a, $b, $k, $bands, $rows, $charNgram)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockKeys =
    copy(left = newLeft, right = newRight)
}

object BlockKeys {
  /** Called from generated code. */
  def keys(norm: UTF8String, ents: ArrayData, k: Int, bands: Int, rows: Int,
           charNgram: Int): ArrayData = {
    val n = norm.toString
    val bandKeys = MinHash.bandKeys(MinHash.signature(MinHash.charNgrams(n, charNgram), k),
                                    bands, rows)
    val entKeys = (0 until ents.numElements()).map(i => "ent:" + ents.getUTF8String(i))
    new GenericArrayData((("nm:" + n) +: (bandKeys ++ entKeys)).distinct
      .map(UTF8String.fromString).toArray[Any])
  }
}

/** Column wrappers + SQL registration for the custom expressions. */
object GraftFunctions {
  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinkler(ExpressionUtils.expression(a),
                                       ExpressionUtils.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a),
                                     ExpressionUtils.expression(b)))

  def sortedIntersectSize(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectSize(ExpressionUtils.expression(a),
                                               ExpressionUtils.expression(b)))

  def blockKeys(norm: Column, ents: Column, k: Int, bands: Int, rows: Int,
                charNgram: Int): Column =
    ExpressionUtils.column(BlockKeys(ExpressionUtils.expression(norm),
                                     ExpressionUtils.expression(ents), k, bands, rows, charNgram))

  def unicodeFold(a: Column): Column =
    ExpressionUtils.column(UnicodeFold(ExpressionUtils.expression(a)))

  /** Make the expressions usable from spark.sql(...). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "jaro_winkler", args => JaroWinkler(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "cosine_sim", args => CosineSim(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "unicode_fold", args => UnicodeFold(args(0)), "built-in")
  }
}
