package graft.functions

import graft.core.RoutingKeyHash
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `hash_to_range(key)` as a native Catalyst expression with codegen — the
  * engine's routing primitive (reference semantics:
  * common/.../hash/HashHelper.java:117). Generated code calls the static
  * hasher directly, so the expression stays inside whole-stage codegen
  * rather than falling back to a Scala UDF.
  */
case class HashToRange(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hash_to_range expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    RoutingKeyHash.hashToRange(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.core.RoutingKeyHash.hashToRange($c.toString())")

  override protected def withNewChildInternal(c: Expression): HashToRange = copy(c)
}

/** `range_bucket(key, n)`: fixed N-way segment index for the key — the
  * write-path partitioner for streams with evenly tiled epochs.
  */
case class RangeBucket(child: Expression, numBuckets: Int) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any): Any =
    RoutingKeyHash.bucketForKey(v.asInstanceOf[UTF8String].toString, numBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.core.RoutingKeyHash.bucketForKey($c.toString(), $numBuckets)")
  override protected def withNewChildInternal(c: Expression): RangeBucket = copy(child = c)
}

/** `sorted_intersect_size(a, b)`: |A ∩ B| for two SORTED array<bigint>
  * columns via a zero-allocation merge loop — the hot inner op of the
  * set-similarity joins. Spark's `array_intersect` builds a hash set and
  * an output array per row; for the millions of candidate pairs a
  * near-dup join verifies, the merge loop is several times cheaper and
  * stays inside whole-stage codegen.
  */
case class SortedIntersectSize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case _ =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size expects (ARRAY<BIGINT>, ARRAY<BIGINT>), " +
          s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { n += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |int $i = 0; int $j = 0; int $n = 0;
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  final long $u = $a.getLong($i);
         |  final long $v = $b.getLong($j);
         |  if ($u == $v) { $n++; $i++; $j++; }
         |  else if ($u < $v) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

/** `seq_dot(a, b)`: Σ aᵢ·bᵢ over two array<float> columns, accumulated
  * left-to-right in double — numerically IDENTICAL to the
  * aggregate(zip_with(...)) higher-order formulation (and to DuckDB's
  * list_sum(list_transform(...)) oracle SQL), but as one codegen'd loop
  * with no per-element boxing. The hot inner op of every similarity
  * query.
  */
case class SeqDotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.FloatType, _),
          ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case _ =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"seq_dot expects (ARRAY<FLOAT>, ARRAY<FLOAT>), " +
          s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SeqDotProduct =
    copy(left = l, right = r)
}

/** `affine_minhash(hashes, n)`: n MinHash minima over the modular affine
  * family h_j(x) = (x·A_j + B_j) mod P from [[graft.operators.MinHashLSH]]'s
  * oracle-reproducible variant, as one kernel loop instead of n×|hashes|
  * interpreted lambda evaluations.
  */
case class AffineMinHash(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"affine_minhash expects ARRAY<BIGINT>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.operators.MinHashLSH.affineMins(v.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.operators.MinHashLSH.affineMins($c, $numHashes))")

  override protected def withNewChildInternal(c: Expression): AffineMinHash = copy(child = c)
}

/** `md5_shingle_hashes(tokens, shingleSize)`: md5-based shingle ids of an
  * ordered token-string array — the SQL-reproducible hash family's
  * shingling stage as one kernel call (see
  * [[graft.operators.MinHashLSH.md5ShingleHashes]]).
  */
case class Md5ShingleHashes(child: Expression, shingleSize: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_shingle_hashes expects ARRAY<STRING>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.operators.MinHashLSH.md5ShingleHashes(v.asInstanceOf[ArrayData], shingleSize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.operators.MinHashLSH.md5ShingleHashes($c, $shingleSize))")

  override protected def withNewChildInternal(c: Expression): Md5ShingleHashes = copy(child = c)
}

/** `minhash_signature(tokenHashes, shingleSize, numHashes)`: MinHash
  * signature (array<bigint>) of an ordered token-hash array in one native
  * kernel call — see [[graft.core.MinHashCore]].
  */
case class MinHashSignature(child: Expression, shingleSize: Int, numHashes: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_signature expects ARRAY<BIGINT>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.MinHashCore.signature(v.asInstanceOf[ArrayData], shingleSize, numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.core.MinHashCore.signature($c, $shingleSize, $numHashes))")

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** `simhash60(tokens)`: 60-bit Charikar SimHash of a distinct-token
  * string array in one kernel pass (md5 token hashes, reproducible by the
  * SQL oracle) — see [[graft.operators.SimHash.signatureOf]].
  */
case class Simhash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash60 expects ARRAY<STRING>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    graft.operators.SimHash.signatureOf(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.operators.SimHash.signatureOf($c)")

  override protected def withNewChildInternal(c: Expression): Simhash60 = copy(child = c)
}

/** `winnowed_fingerprints(text, k, w)`: Rabin-Karp + winnowing document
  * fingerprint set as array<bigint> — see [[graft.core.RollingHashCore]].
  */
case class WinnowedFingerprints(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnowed_fingerprints expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.RollingHashCore.winnow(v.asInstanceOf[UTF8String], k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.core.RollingHashCore.winnow($c, $k, $w))")

  override protected def withNewChildInternal(c: Expression): WinnowedFingerprints = copy(child = c)
}

object GraftFunctions {
  def winnowed_fingerprints(text: Column, k: Int, w: Int): Column =
    ColumnShim.column(WinnowedFingerprints(ColumnShim.expression(text), k, w))

  def seq_dot(a: Column, b: Column): Column =
    ColumnShim.column(SeqDotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  def affine_minhash(hashes: Column, numHashes: Int): Column =
    ColumnShim.column(AffineMinHash(ColumnShim.expression(hashes), numHashes))

  def md5_shingle_hashes(tokens: Column, shingleSize: Int): Column =
    ColumnShim.column(Md5ShingleHashes(ColumnShim.expression(tokens), shingleSize))

  def simhash60(tokens: Column): Column =
    ColumnShim.column(Simhash60(ColumnShim.expression(tokens)))

  def sorted_intersect_size(a: Column, b: Column): Column =
    ColumnShim.column(SortedIntersectSize(ColumnShim.expression(a), ColumnShim.expression(b)))

  def hash_to_range(c: Column): Column =
    ColumnShim.column(HashToRange(ColumnShim.expression(c)))

  def range_bucket(c: Column, n: Int): Column =
    ColumnShim.column(RangeBucket(ColumnShim.expression(c), n))
}
