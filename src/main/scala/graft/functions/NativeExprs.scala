package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, ArrayType, IntegerType}

/** Native Catalyst expressions for the two measured hot paths (SURVEY.md
  * §4.2 reserved exactly this escalation for "a failing bench number in
  * hand"):
  *
  *  - pairwise set-similarity: the built-in `array_intersect`/`array_union`
  *    evaluate interpreted with boxed hash sets per row — ~8 s for 200k
  *    pairs at sf0.1. [[SortedLongIntersectCount]] is a primitive merge
  *    scan over pre-sorted long arrays with full codegen: |A∪B| falls out
  *    as |A|+|B|−|A∩B|, so one expression replaces both built-ins.
  *  - vector dot products: `aggregate(zip_with(...))` is likewise
  *    interpreted per element. [[FloatDotProduct]] is a tight primitive
  *    loop, codegen'd, accumulating float→double products left-to-right —
  *    bit-identical to the higher-order-function formulation (and to the
  *    DuckDB oracle's CAST(… AS DOUBLE[]) list functions).
  *
  * Both eval paths avoid boxing even in interpreted mode (ArrayData
  * primitive getters).
  */
object NativeExprs {

  /** Count of common elements of two SORTED, de-duplicated long arrays. */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      var i = 0; var j = 0; var c = 0
      val n = a.numElements(); val m = b.numElements()
      while (i < n && j < m) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      c
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        s"""
           |int $i = 0; int $j = 0; ${ev.value} = 0;
           |while ($i < $a.numElements() && $j < $b.numElements()) {
           |  long $x = $a.getLong($i); long $y = $b.getLong($j);
           |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
           |  else if ($x < $y) { $i++; } else { $j++; }
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Left-to-right double-precision dot product of two float/double arrays
    * (same accumulation order as `aggregate(zip_with(a, b, _*_), 0d, _+_)`).
    */
  case class FloatDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0; var i = 0
      val lf = isFloat(left); val rf = isFloat(right)
      while (i < n) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y; i += 1
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val ga = if (isFloat(left)) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
        val gb = if (isFloat(right)) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
        s"""
           |${ev.value} = 0.0;
           |int $n = Math.min($a.numElements(), $b.numElements());
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value} += $ga * $gb;
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 63-bit SimHash of an array of 64-bit token hashes (multiplicities
    * count): each hash votes ±1 per bit position, positive totals set the
    * bit. Replaces an interpreted aggregate(zip_with(...)) chain that boxed
    * 63 longs per token.
    */
  case class SimHash63(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override protected def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](63)
      var i = 0
      while (i < a.numElements()) {
        val h = a.getLong(i); var j = 0
        while (j < 63) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var out = 0L; var j = 0
      while (j < 63) { if (votes(j) > 0) out |= (1L << j); j += 1 }
      out
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
        val j = ctx.freshName("j"); val h = ctx.freshName("h")
        s"""
           |int[] $votes = new int[63];
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $j = 0; $j < 63; $j++) {
           |    if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
           |  }
           |}
           |${ev.value} = 0L;
           |for (int $j = 0; $j < 63; $j++) {
           |  if ($votes[$j] > 0) ${ev.value} |= (1L << $j);
           |}
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Codegen'd point estimate against a serialized Count-min sketch: the
    * probe twin of Spark's own `count_min_sketch` aggregate, which ships
    * with no probe expression (the Java API's estimateCount is only
    * reachable via a Scala UDF otherwise — the last codegen break the r5
    * verdict flagged in a scan pipeline). The sketch side must be FOLDABLE
    * (a literal of the serialized bytes), per the same contract as
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]:
    * it is deserialized ONCE per task via a plan-object reference, not per
    * row. Key is a string column, matching how `DataFrameStatFunctions
    * .countMinSketch` added items at build time.
    */
  case class CountMinEstimateCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    @transient private lazy val sketch
        : org.apache.spark.util.sketch.CountMinSketch = {
      val bytes = left.eval().asInstanceOf[Array[Byte]]
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
    }
    override protected def nullSafeEval(l: Any, r: Any): Any =
      sketch.estimateCount(
        r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val sk = ctx.addReferenceObj("cmsSketch", sketch,
        classOf[org.apache.spark.util.sketch.CountMinSketch].getName)
      nullSafeCodeGen(ctx, ev, (_, key) =>
        s"${ev.value} = $sk.estimateCount($key.toString());")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Register the expressions as SQL functions in THIS session's registry.
    * Called unconditionally (createOrReplaceTempFunction is idempotent and
    * cheap): the function registry is per-SparkSession, so a per-JVM guard
    * flag would skip registration for every session after the first (e.g.
    * `spark.newSession()`), leaving graft_* unresolvable there.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_sorted_intersect_count",
      (args: Seq[Expression]) => SortedLongIntersectCount(args(0), args(1)),
      "built-in")
    reg.createOrReplaceTempFunction("graft_dot",
      (args: Seq[Expression]) => FloatDotProduct(args(0), args(1)),
      "built-in")
    reg.createOrReplaceTempFunction("graft_simhash63",
      (args: Seq[Expression]) => SimHash63(args(0)), "built-in")
    // Spark ships codegen'd bloom expressions (used by its own runtime
    // row-level filtering) but does not expose them in the public function
    // registry; surfacing them here keeps the bloom pre-join filter fully
    // inside whole-stage codegen where a Scala UDF would break the pipeline.
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1), args(2))
          .toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction("graft_cms_estimate",
      (args: Seq[Expression]) => CountMinEstimateCount(args(0), args(1)),
      "built-in")
    reg.createOrReplaceTempFunction("graft_might_contain",
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(args(0), args(1)),
      "built-in")
  }

  def sortedIntersectCount(s: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(s); call_function("graft_sorted_intersect_count", a, b)
  }

  def dot(s: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(s); call_function("graft_dot", a, b)
  }

  def simhash63(s: SparkSession, tokenHashes: Column): Column = {
    ensureRegistered(s); call_function("graft_simhash63", tokenHashes)
  }

  /** Codegen'd Count-min point estimate; `sketch` must be a literal of the
    * serialized sketch bytes (see [[CountMinEstimateCount]]).
    */
  def cmsEstimate(s: SparkSession, sketch: Column, key: Column): Column = {
    ensureRegistered(s); call_function("graft_cms_estimate", sketch, key)
  }

  /** Distributed bloom-filter build (partial sketches merged by Spark's
    * TypedImperativeAggregate, not a driver-side RDD fold).
    */
  def bloomAgg(s: SparkSession, key: Column, expectedItems: Long,
      numBits: Long): Column = {
    ensureRegistered(s)
    call_function("graft_bloom_agg", key,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))
  }

  /** Codegen'd membership probe against a serialized bloom filter. The
    * bloom side must be foldable (a literal), per Catalyst's contract for
    * BloomFilterMightContain.
    */
  def bloomMightContain(s: SparkSession, bloom: Column, key: Column): Column = {
    ensureRegistered(s); call_function("graft_might_contain", bloom, key)
  }
}
