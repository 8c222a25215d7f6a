package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Native codegen'd cosine similarity over two `array<float|double>`
  * columns.
  *
  * This is the E-10 v2 upgrade from SURVEY.md s7.4: the v1 form composes
  * `aggregate(zip_with(...))`, which is correct but allocates an
  * intermediate array and evaluates three lambda folds per row; this
  * expression fuses dot product and both norms into ONE loop inside
  * whole-stage codegen (a per-element null guard is the only branch) — no
  * allocation, no virtual dispatch. The accumulation order (index 0..n-1,
  * independent accumulators, doubles) and the null semantics (null element
  * => null result) are identical to the fold form, so results are
  * bit-equal and the DuckDB oracle continues to hold.
  *
  * Element types are resolved statically per side (float reads widen to
  * double, exactly); `ExpectsInputTypes` is `private[sql]` so mixed other
  * types surface at runtime rather than analysis — the public helpers in
  * [[GraftFunctions]] insert explicit casts.
  *
  * Null semantics: null if either side is null (BinaryExpression default)
  * or if lengths differ.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_cosine expects array<float|double>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        // null element => null result, matching the zip_with/aggregate fold
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local goes through freshName: with two non-nullable children
      // nullSafeCodeGen emits this body unscoped, so two graft_cosine calls
      // in one projection would otherwise redeclare the same names and kick
      // the whole stage out of codegen
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val anyNull = ctx.freshName("anyNull")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |    double $xi = $getX;
         |    double $yi = $getY;
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($anyNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration surface for the engine's native functions. */
object GraftFunctions {

  /** The engine's native functions, as `SparkSessionExtensions` injects
    * them and [[register]] installs them.
    */
  private[functions] val Builtins
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("graft_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
        (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))),
      (FunctionIdentifier("graft_phash60"),
        new ExpressionInfo(classOf[PHash60].getName, "graft_phash60"),
        (children: Seq[Expression]) => PHash60(children.head)),
      (FunctionIdentifier("graft_bloom_might_contain"),
        new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_might_contain"),
        bloomExpr(_)))

  /** Idempotent per-session registration — usable on ANY session (the
    * driver's included), no extensions config required. A session that
    * already holds every function is left as it is, so a registration
    * from one thread never rewrites the registry under another thread's
    * resolution (and logs no "replaced a previously registered function").
    */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!Builtins.forall { case (id, _, _) => registry.functionExists(id) })
      Builtins.foreach { case (id, info, builder) =>
        registry.registerFunction(id, info, builder)
      }
  }

  /** Folds the (words, k) literal arguments into constructor parameters at
    * resolution time so the filter bits never sit in the expression tree
    * as a giant array literal (see BloomMightContain's Scaladoc).
    */
  private[functions] def bloomExpr(children: Seq[Expression]): Expression = {
    require(children.size == 3 && children(1).foldable && children(2).foldable,
      "usage: graft_bloom_might_contain(key, <array<bigint> literal>, <int literal>)")
    BloomMightContain(children.head,
      children(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(),
      children(2).eval().asInstanceOf[Number].intValue())
  }

  /** Column-API form (register first). Casts keep the expression's static
    * element-type resolution honest for any numeric array input.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine",
      a.cast("array<double>"), b.cast("array<double>"))

  /** Column-API form of the native portable hash (register first). */
  def phash60(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_phash60",
      c.cast("string"))

  /** Column-API Bloom membership probe (register first). The words/k
    * literals are folded into the expression at analysis time. `key` must
    * be the SAME expression the filter was built over — BloomJoin builds
    * over `xxhash64(keyCol)`, so probe with `xxhash64(keyCol)` too.
    */
  def bloomMightContain(key: Column, words: Array[Long], k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_might_contain",
      key.cast("long"), org.apache.spark.sql.functions.lit(words),
      org.apache.spark.sql.functions.lit(k))
}

/** `SparkSessionExtensions` hook: sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * get `graft_cosine` in SQL from the start.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.Builtins.foreach(ext.injectFunction)
}
