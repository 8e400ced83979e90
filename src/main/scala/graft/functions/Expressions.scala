package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels invoked from generated code (one static call per row —
  * no per-row closure/array allocation like the zip_with/aggregate chain). */
object VectorKernels {

  /** Cosine similarity of two float-array columns, accumulated in double,
    * left-to-right (bitwise-compatible with the HOF formulation). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Exact dot product of two long-array columns (quantized-vector hot
    * paths: SemDeDup's within-cluster pair join evaluates this per
    * candidate pair). Associative integer adds — result is order-exact. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Exact squared L2 distance of two long-array columns — the k-means
    * assignment hot loop evaluates this k times per row against literal
    * centroids; one static call, no zipped-array allocation. */
  def sqDistLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); s += d * d; i += 1 }
    s
  }

  /** Distinct minimizers of a DNA string (ambiguity-aware), as array<long>. */
  def minimizers(dna: UTF8String, k: Int, m: Int, spaces: Int): ArrayData = {
    val scanner = new graft.kmers.SupermerScanner(k,
      if (spaces > 0)
        graft.kmers.SpacedSeedPriority(spaces, graft.kmers.RandomXorPriority(m))
      else graft.kmers.RandomXorPriority(m))
    val seen = scala.collection.mutable.LongMap.empty[Unit]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.kmers.SupermerScanner.splitByAmbiguity(dna.toString).foreach { run =>
      if (run.valid && run.seq.length >= k)
        scanner.scan(run.seq).foreach { sm =>
          if (!seen.contains(sm.minimizer)) { seen(sm.minimizer) = (); out += sm.minimizer }
        }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Static text kernels invoked from generated code. */
object TextKernels {
  /** Unicode NFC normalization (canonical composition) — the
    * canonicalization step before hashing/dedup so that composed and
    * decomposed encodings of the same text collide. Spark ships no
    * normalizer built-in; DuckDB's `nfc_normalize` is the oracle analogue. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan and almost all
    // real text is already NFC — skip the allocation entirely
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Native codegen'd Unicode NFC normalization over a string column. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Native codegen'd cosine similarity over two array<float> columns.
  * Replaces `aggregate(zip_with(...))` in ANN hot paths: whole-stage codegen
  * emits a single static call, no intermediate array allocation. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Native codegen'd dot product over two array<float> columns. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Native codegen'd EXACT dot product over two array<bigint> columns — the
  * integer sibling of [[DotProduct]] for quantized-vector pipelines where
  * the result must be bit-identical across engines and partitionings. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dotLong($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Native codegen'd exact squared L2 distance over two array<bigint>
  * columns — the assignment kernel of the integer k-means (c01/c02/c04). */
case class SquaredDistanceLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.sqDistLong($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Native expression exposing the minimizer kernel to SQL users:
  * graft_minimizers(dna, k, m, spaces) -> array<bigint> of distinct
  * minimizer priorities. k/m/spaces must be foldable (literals). */
case class SupermerMinimizers(dna: Expression, k: Expression, m: Expression,
    spaces: Expression) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(dna, k, m, spaces)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = dna.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val d = dna.eval(input)
    if (d == null) null
    else VectorKernels.minimizers(d.asInstanceOf[UTF8String],
      k.eval(input).asInstanceOf[Int], m.eval(input).asInstanceOf[Int],
      spaces.eval(input).asInstanceOf[Int])
  }

  // CodegenFallback: the scanning kernel dominates per-row cost (per-bp
  // loop), so interpreted dispatch is immaterial for this convenience fn.

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dna = newChildren(0), k = newChildren(1), m = newChildren(2),
      spaces = newChildren(3))
}

/** Per-position word-n-gram digests (array<struct<h1,h2>>) from a token
  * array — the span-dedup gram identity ([[TextAnalysis.gramDigests]]).
  * One call per DOCUMENT row (the kernel loops tokens/positions inside),
  * so CodegenFallback's interpreted dispatch is immaterial, exactly as for
  * [[SupermerMinimizers]]. */
case class GramDigests(words: Expression, n: Expression) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(words, n)
  override def dataType: DataType = GramDigests.Schema
  override def nullable: Boolean = words.nullable || n.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val w = words.eval(input)
    val nv = n.eval(input)
    // a null n must yield NULL per SQL semantics — asInstanceOf[Int] on a
    // null box silently unboxes to 0, which would hand EVERY position the
    // seed-constant digest and mark the whole corpus one duplicate
    if (w == null || nv == null) null
    else {
      val nn = nv.asInstanceOf[Int]
      require(nn >= 1, s"gram_digests: n must be >= 1, got $nn")
      TextAnalysis.gramDigests(
        w.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nn)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(words = newChildren(0), n = newChildren(1))
}

object GramDigests {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
}

/** Registration: imperative (per-session) and declarative
  * (spark.sql.extensions=graft.functions.GraftExtensions). */
object GraftFunctions {

  // inputs are cast at build time (ExpectsInputTypes is private to Spark)
  private def fa(e: Expression): Expression = Cast(e, ArrayType(FloatType))
  private def int(e: Expression): Expression = Cast(e, IntegerType)

  private def la(e: Expression): Expression = Cast(e, ArrayType(LongType))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(fa(es(0)), fa(es(1)))),
    "dot_product" -> (es => DotProduct(fa(es(0)), fa(es(1)))),
    "dot_long" -> (es => DotProductLong(la(es(0)), la(es(1)))),
    "sqdist_long" -> (es => SquaredDistanceLong(la(es(0)), la(es(1)))),
    "nfc_normalize" -> (es => NfcNormalize(Cast(es(0), StringType))),
    "graft_minimizers" -> (es =>
      SupermerMinimizers(Cast(es(0), StringType), int(es(1)), int(es(2)), int(es(3)))),
    "gram_digests" -> (es =>
      GramDigests(Cast(es(0), ArrayType(StringType)), int(es(1)))))

  /** Register as temp functions on an existing session, once: the builders
    * take no parameters, so a name already present (an earlier call, or
    * [[GraftExtensions]]) is kept rather than replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, builder) <- all
         if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** Session-extension entry point: built-in registration at session build
  * time (`.withExtensions(new GraftExtensions)` or the
  * spark.sql.extensions conf). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, builder) <- GraftFunctions.all)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Expressions", name), builder))
    // default-on, row-guarded HOF→native vector rewrite (disable with
    // spark.graft.nativeVectorRewrite=false)
    e.injectOptimizerRule(_ => NativeVectorRewrite)
  }
}
