package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** §2.8 custom Catalyst expressions — the performance path for the
  * operators whose composed-built-in forms allocate per element
  * (zip_with/aggregate build intermediate arrays; salted-string MinHash
  * concatenates per (hash, shingle)). Each expression is semantically
  * identical to its composed counterpart; the composed forms remain in
  * graft.functions as the reference implementation.
  */
object GraftExpressions {

  /** Wrap an Expression as a user-facing Column (classic session). */
  def column(e: Expression): Column = GraftColumnBridge.column(e)

  def dotF(a: Column, b: Column): Column =
    column(FloatVecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Spark's own BloomFilterAggregate (the runtime-filtering sketch)
    * surfaced as a user Column: a mergeable bloom over a LONG key
    * column, returned as the serialized filter bytes. KB–MB-scale
    * broadcast state for membership prefilters (d21).
    */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        GraftColumnBridge.expression(key),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits)
      ).toAggregateExpression()
    )

  /** Membership probe against [[bloomAgg]] bytes — no false negatives. */
  def bloomMightContain(bloom: Column, key: Column): Column =
    column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        GraftColumnBridge.expression(bloom),
        GraftColumnBridge.expression(key)
      )
    )

  def minhashSig(shingles: Column, k: Int): Column =
    column(MinHashSig(GraftColumnBridge.expression(shingles), k))

  def simhash64(tokens: Column): Column =
    column(SimHash64(GraftColumnBridge.expression(tokens)))

  def simhash64FromHashes(hashes: Column): Column =
    column(SimHash64FromHashes(GraftColumnBridge.expression(hashes)))

  def shingleHashes(tokens: Column, k: Int): Column =
    column(ShingleHashes(GraftColumnBridge.expression(tokens), k))

  def minhashFromHashes(hashes: Column, k: Int): Column =
    column(MinHashFromHashes(GraftColumnBridge.expression(hashes), k))

  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedLongIntersectSize(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Misra-Gries heavy-hitter CANDIDATE set (≤ k-1 terms, superset of all
    * terms with frequency > n/k) as an aggregate Column.
    */
  def mgCandidates(c: Column, k: Int): Column =
    column(MisraGries(GraftColumnBridge.expression(c), k).toAggregateExpression())

  /** One-pass quantized Gramian (n, component sums, upper-triangle
    * product sums) over a fixed-width float-vector column — O(d²)
    * mergeable state, exact integer sums (see [[GramianAgg]]).
    */
  def gramian(vec: Column, dim: Int): Column =
    column(GramianAgg(GraftColumnBridge.expression(vec), dim).toAggregateExpression())

  /** Mergeable KLL quantile sketch over a double column (serialized bytes). */
  def kllSketch(c: Column, k: Int = 200): Column =
    column(KllSketchAgg(GraftColumnBridge.expression(c), k).toAggregateExpression())

  /** Merge serialized KLL sketches (binary column) into one sketch. */
  def kllMerge(c: Column, k: Int = 200): Column =
    column(KllMergeAgg(GraftColumnBridge.expression(c), k).toAggregateExpression())

  /** Quantile estimate at `rank` ∈ [0,1] from a serialized KLL sketch. */
  def kllQuantile(sketch: Column, rank: Double): Column =
    column(KllQuantileAt(GraftColumnBridge.expression(sketch), rank))

  /** Mergeable theta sketch over an integral key column (serialized bytes). */
  def thetaSketch(c: Column): Column =
    column(ThetaSketchAgg(GraftColumnBridge.expression(c)).toAggregateExpression())

  /** Distinct estimate from a serialized theta sketch. */
  def thetaEstimate(c: Column): Column =
    column(ThetaEstimate(GraftColumnBridge.expression(c)))

  /** |A ∩ B| estimate from two serialized theta sketches. */
  def thetaIntersect(a: Column, b: Column): Column =
    column(ThetaIntersectEstimate(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

/** Dot product of two `array<float>` columns in double precision.
  * Whole-stage-codegen'd tight loop — no intermediate array (the
  * composed `aggregate(zip_with(...))` allocates a 64-element array per
  * pair, which dominates d5/v1 at millions of pairs). Accumulation
  * order is sequential left-to-right, bit-identical to the composed
  * form and to DuckDB's `list_dot_product` oracle.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"FloatVecDot needs array<float> inputs, got ${left.dataType}, ${right.dataType}"
      )
  }

  /** True when either input may carry null ELEMENTS (parquet-read arrays
    * default to containsNull=true). A null element makes the whole dot
    * NULL — matching the composed aggregate(zip_with(...)) form, where
    * null propagates through the fold.
    */
  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _                => false
  })

  override def nullable: Boolean = left.nullable || right.nullable || elemNullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    if (elemNullable) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        if (elemNullable) {
          // null-element check only compiled in when the schema allows
          // null elements; the all-non-null path keeps the tight loop
          val bad = ctx.freshName("hasNull")
          code"""
            |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
            |double $acc = 0.0;
            |boolean $bad = false;
            |for (int $i = 0; $i < $n; $i++) {
            |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
            |  $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
            |}
            |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
          """.stripMargin.toString
        } else {
          code"""
            |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
            |double $acc = 0.0;
            |for (int $i = 0; $i < $n; $i++) {
            |  $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
            |}
            |${ev.value} = $acc;
          """.stripMargin.toString
        }
      }
    )

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static kernels for the dedup-path expressions, shared by interpreted
  * eval AND generated code: each expression's `doGenCode` emits a single
  * static call on the child's evaluated ArrayData, so the surrounding
  * operators stay inside ONE WholeStageCodegen span (no per-row
  * `InternalRow` boxing through a CodegenFallback eval, no span break).
  * A plain top-level object compiles to a class with static forwarders,
  * callable from janino-generated Java as `graft.plans.ExprKernels.x(...)`.
  */
object ExprKernels {

  /** MinHash remix coefficients for k slots (splitmix64 constants),
    * cached per k — computed once per executor, not per row.
    */
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coefs(k: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(
      k,
      kk =>
        (Array.tabulate(kk)(i => 0x9e3779b97f4a7c15L * (2L * i + 1L) | 1L),
          Array.tabulate(kk)(i => 0xbf58476d1ce4e5b9L * (i + 1L)))
    )

  def shingleHashes(arr: ArrayData, k: Int): ArrayData = {
    val n0 = arr.numElements()
    val th = new Array[Long](n0)
    var m = 0
    var j = 0
    while (j < n0) {
      val s = arr.getUTF8String(j)
      if (s != null && s.numBytes() > 0) {
        th(m) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        m += 1
      }
      j += 1
    }
    val nsh = m - k + 1
    if (nsh <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nsh)
    var i = 0
    while (i < nsh) {
      var h = th(i)
      var t = 1
      while (t < k) {
        h = h * 0x100000001b3L ^ th(i + t)
        t += 1
      }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    i = 1
    while (i < nsh) {
      if (out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  def minHashSig(arr: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coefs(k)
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var i = 0
      while (i < k) {
        val m = as(i) * h + bs(i)
        if (m < sig(i)) sig(i) = m
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  def minHashFromHashes(arr: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coefs(k)
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < k) {
        val m = as(i) * h + bs(i)
        if (m < sig(i)) sig(i) = m
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  def simHash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simHash64FromHashes(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Intersection size of two sorted distinct `array<long>`s: one merge walk. */
  def sortedIntersectSize(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/** k-function MinHash signature over an `array<string>` shingle set in a
  * SINGLE pass: each shingle is xxhash64'd once (seed 42, Spark's XXH64 —
  * same family as the `xxhash64` builtin), then the k signature slots use
  * a (a_i·h + b_i) universal-hash remix — integer ops instead of the
  * composed form's per-(i, shingle) string concatenation (64× fewer
  * hashes, zero allocation). Candidate-generation only: d2's exact-verify
  * stage makes the final output independent of the hash family.
  * Codegen'd via the [[ExprKernels]] static-call pattern.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"MinHashSig needs array<string>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    ExprKernels.minHashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprKernels.minHashSig($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over an `array<string>` token multiset. Semantically
  * identical to the composed form (xxhash64 seed 42 per token, bit b
  * votes ±1, sign → bit) but one pass with an int[64] vote buffer
  * instead of two array-valued lambda folds per token.
  * Codegen'd via the [[ExprKernels]] static-call pattern.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"SimHash64 needs array<string>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(ExprKernels.simHash64(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprKernels.simHash64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHash64 over PRE-HASHED tokens (`array<long>`): the same vote loop
  * as [[SimHash64]], with the 64-bit token hash supplied by the caller.
  * This is the portable-oracle form — d3 feeds md5-derived hashes both
  * engines compute identically, so the DuckDB gate can replay the votes
  * bit-for-bit (xxhash64-seeded [[SimHash64]] has no DuckDB twin). Null
  * elements are skipped.
  */
case class SimHash64FromHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"SimHash64FromHashes needs array<long>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(ExprKernels.simHash64FromHashes(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprKernels.simHash64FromHashes($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word-k-shingle HASHES of a token array, sorted ascending, in
  * one pass: each token xxhash64'd once, k-gram hashes combined with an
  * order-sensitive FNV-style fold, then sort + dedupe. Near-dup operators
  * only ever need shingle identity (minhash remix, set intersection), so
  * shipping 8-byte hashes instead of shingle strings removes all string
  * allocation AND shrinks every downstream shuffle. Empty tokens are
  * skipped (split artifacts).
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ShingleHashes needs array<string>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    ExprKernels.shingleHashes(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprKernels.shingleHashes($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature over an `array<long>` of (already distinct) element
  * hashes — the paired fast path for [[ShingleHashes]]: k-slot
  * (a_i·h + b_i) remix per element, zero hashing, zero allocation beyond
  * the signature itself.
  */
case class MinHashFromHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"MinHashFromHashes needs array<long>, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    ExprKernels.minHashFromHashes(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprKernels.minHashFromHashes($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Misra-Gries heavy-hitters sketch as a Catalyst
  * `TypedImperativeAggregate`: a bounded (k-1)-counter summary whose
  * final candidate set is guaranteed to contain EVERY term with true
  * frequency > n/k (the classic deterministic-superset property; the MG
  * merge preserves the summed error bound, so the guarantee survives
  * partial aggregation across any partitioning). This is the one-pass,
  * shuffle-free half of exact distributed heavy hitters: partial
  * summaries are O(k) bytes per partition, merged on a single reducer;
  * an exact recount of the ≤ k-1 candidates (broadcast semi-join)
  * then makes the final answer deterministic and oracle-checkable —
  * see TextAnalysis.t12HeavyHitters. Compare: the naive exact form
  * shuffles the full (term, count) space.
  *
  * eval() returns the candidate terms sorted ascending (estimates are
  * partitioning-dependent lower bounds, so only the SET is emitted).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
      scala.collection.mutable.HashMap[String, Long]
    ] with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 2, "MisraGries needs k >= 2")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"MisraGries needs a string column, got $other")
    }

  override def createAggregationBuffer(): scala.collection.mutable.HashMap[String, Long] =
    scala.collection.mutable.HashMap.empty

  /** Classic MG step: known term +1; free slot → admit; else global -1. */
  override def update(
      buf: scala.collection.mutable.HashMap[String, Long],
      input: InternalRow
  ): scala.collection.mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val t = v.asInstanceOf[UTF8String].toString
      buf.get(t) match {
        case Some(c) => buf.update(t, c + 1)
        case None if buf.size < k - 1 => buf.update(t, 1L)
        case None =>
          // decrement-all; drop zeros (amortized O(1) per input)
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c == 0L) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  /** MG merge: sum counts, then shrink back to k-1 entries by subtracting
    * the k-th largest count from everything (error bounds add, so the
    * > n/k superset guarantee is preserved under any merge tree).
    */
  override def merge(
      buf: scala.collection.mutable.HashMap[String, Long],
      other: scala.collection.mutable.HashMap[String, Long]
  ): scala.collection.mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k - 1) {
      val kth = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k - 1)
      val dead = buf.iterator.collect { case (t, c) if c - kth <= 0L => t }.toList
      dead.foreach(buf.remove)
      buf.keysIterator.toList.foreach(t => buf.update(t, buf(t) - kth))
    }
    buf
  }

  override def eval(buf: scala.collection.mutable.HashMap[String, Long]): Any =
    new GenericArrayData(buf.keysIterator.toArray.sorted.map(UTF8String.fromString(_)))

  override def serialize(buf: scala.collection.mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = scala.collection.mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Intersection size of two SORTED distinct `array<long>` columns
  * (as produced by [[ShingleHashes]]): a single merge walk, vs.
  * array_intersect's hash-set build per pair.
  * Codegen'd via the [[ExprKernels]] static-call pattern, so the cross
  * joins and projections that evaluate it per pair stay inside one
  * WholeStageCodegen span.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"SortedLongIntersectSize needs array<long> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(ExprKernels.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.ExprKernels.sortedIntersectSize($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Mergeable KLL quantile sketch aggregate over a DOUBLE column
  * (DataSketches `KllDoublesSketch`, ships with Spark). k=200 gives
  * ~±1.65% rank error at 99% confidence with a fixed few-KB buffer, so
  * partial aggregation streams any input size through bounded memory and
  * serialized sketches persist as a binary column that merges across
  * partitions/days WITHOUT rescanning raw data — the mergeable-summary
  * pattern c6 uses for additive stats, extended to percentiles, which
  * are not additive. KLL compaction is randomized (coin-flip level
  * promotion), so estimates vary run-to-run inside the rank-error bound:
  * rows-only + tolerance gate, like the HLL operators.
  */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
      org.apache.datasketches.kll.KllDoublesSketch
    ] with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 8, "KllSketchAgg needs k >= 8")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"KllSketchAgg needs a double column, got $other")
    }

  override def createAggregationBuffer(): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)

  override def update(
      buf: org.apache.datasketches.kll.KllDoublesSketch,
      input: InternalRow
  ): org.apache.datasketches.kll.KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(
      buf: org.apache.datasketches.kll.KllDoublesSketch,
      other: org.apache.datasketches.kll.KllDoublesSketch
  ): org.apache.datasketches.kll.KllDoublesSketch = { buf.merge(other); buf }

  override def eval(buf: org.apache.datasketches.kll.KllDoublesSketch): Any =
    buf.toByteArray

  override def serialize(buf: org.apache.datasketches.kll.KllDoublesSketch): Array[Byte] =
    buf.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(offset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Union of SERIALIZED KLL sketches (a binary column of KllSketchAgg
  * outputs) into one sketch — how persisted per-day partials roll up to
  * any coarser grain without touching raw rows.
  */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
      org.apache.datasketches.kll.KllDoublesSketch
    ] with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"KllMergeAgg needs a binary (serialized sketch) column, got $other")
    }

  override def createAggregationBuffer(): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)

  override def update(
      buf: org.apache.datasketches.kll.KllDoublesSketch,
      input: InternalRow
  ): org.apache.datasketches.kll.KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) {
      buf.merge(
        org.apache.datasketches.kll.KllDoublesSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(v.asInstanceOf[Array[Byte]])))
    }
    buf
  }

  override def merge(
      buf: org.apache.datasketches.kll.KllDoublesSketch,
      other: org.apache.datasketches.kll.KllDoublesSketch
  ): org.apache.datasketches.kll.KllDoublesSketch = { buf.merge(other); buf }

  override def eval(buf: org.apache.datasketches.kll.KllDoublesSketch): Any =
    buf.toByteArray

  override def serialize(buf: org.apache.datasketches.kll.KllDoublesSketch): Array[Byte] =
    buf.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(offset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Quantile estimate at a fixed rank from a serialized KLL sketch column.
  * Null for an empty sketch.
  */
case class KllQuantileAt(child: Expression, rank: Double)
    extends UnaryExpression with CodegenFallback {

  require(rank >= 0.0 && rank <= 1.0, s"rank must be in [0,1], got $rank")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"KllQuantileAt needs a binary (serialized sketch) column, got $other")
    }

  override protected def nullSafeEval(bytes: Any): Any = {
    val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null else java.lang.Double.valueOf(sk.getQuantile(rank))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Mergeable Theta sketch over a LONG key column (DataSketches theta
  * family). Where HLL only unions, theta sketches support set
  * INTERSECTION and difference — the "audience overlap" algebra — while
  * still merging associatively across partitions with KB-sized buffers.
  * The retained set is the k smallest distinct key hashes, so the sketch
  * is insertion-order-independent (deterministic for a given key set);
  * estimates are exact below k retained entries and within the
  * documented relative error above it.
  */
case class ThetaSketchAgg(
    child: Expression,
    nominalEntries: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
      org.apache.datasketches.theta.Union
    ] with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ThetaSketchAgg needs an integral key column, got $other")
    }

  private def newUnion(): org.apache.datasketches.theta.Union =
    org.apache.datasketches.theta.SetOperation
      .builder()
      .setNominalEntries(nominalEntries)
      .buildUnion()

  override def createAggregationBuffer(): org.apache.datasketches.theta.Union = newUnion()

  override def update(
      buf: org.apache.datasketches.theta.Union,
      input: InternalRow
  ): org.apache.datasketches.theta.Union = {
    val v = child.eval(input)
    if (v != null) {
      val key = v match {
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other                => other.asInstanceOf[Number].longValue()
      }
      buf.update(key)
    }
    buf
  }

  override def merge(
      buf: org.apache.datasketches.theta.Union,
      other: org.apache.datasketches.theta.Union
  ): org.apache.datasketches.theta.Union = { buf.union(other.getResult); buf }

  override def eval(buf: org.apache.datasketches.theta.Union): Any =
    buf.getResult.toByteArray

  override def serialize(buf: org.apache.datasketches.theta.Union): Array[Byte] =
    buf.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.theta.Union = {
    val u = newUnion()
    u.union(
      org.apache.datasketches.theta.Sketches.heapifySketch(
        org.apache.datasketches.memory.Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(offset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct-count estimate from a serialized theta sketch. */
case class ThetaEstimate(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ThetaEstimate needs a binary (serialized sketch) column, got $other")
    }
  override protected def nullSafeEval(bytes: Any): Any =
    java.lang.Double.valueOf(
      org.apache.datasketches.theta.Sketches
        .heapifySketch(org.apache.datasketches.memory.Memory.wrap(bytes.asInstanceOf[Array[Byte]]))
        .getEstimate)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** |A ∩ B| estimate from two serialized theta sketches — the overlap
  * HLL cannot express.
  */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == BinaryType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ThetaIntersectEstimate needs binary inputs, got ${left.dataType}, ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    def heap(x: Any) = org.apache.datasketches.theta.Sketches.heapifySketch(
      org.apache.datasketches.memory.Memory.wrap(x.asInstanceOf[Array[Byte]]))
    val it = org.apache.datasketches.theta.SetOperation.builder().buildIntersection()
    it.intersect(heap(a))
    it.intersect(heap(b))
    java.lang.Double.valueOf(it.getResult.getEstimate)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** One-pass GRAMIAN / moment accumulator over a fixed-width float-vector
  * column — the covariance-structure primitive (mllib computes the same
  * via RowMatrix.computeGramianMatrix's treeAggregate; here it is an
  * ordinary mergeable aggregate so it composes with groupBy and rides
  * partial-agg/merge like any sum). Buffer: [n, S₀..S_{d-1},
  * (Ghi,Glo)₀₀..(Ghi,Glo)_{ij} (row-major upper triangle)] with every
  * component QUANTIZED to integer micro-units (q(v) = ⌊v·10⁶ + 0.5⌋) so
  * all sums are exact integers — merge-ORDER-FREE, hence
  * hash-reproducible across any partitioning, the property a
  * float-double accumulator cannot give. Each cross moment is carried
  * as a SPLIT 2-long accumulator: the per-row product c = qᵢ·qⱼ
  * (|c| ≤ 6.4·10¹³ at |v| ≤ 8) is decomposed into hi = c >> 23 and
  * lo = c & (2²³−1) (arithmetic shift = floorDiv for a power of two,
  * so lo is always non-negative), and the two halves sum INDEPENDENTLY
  * — no carry propagation, so downstream element-wise folds (the s32
  * OCC store) stay valid, and the true moment is recovered exactly as
  * (Σhi)·2²³ + Σlo at read time. Overflow bound per group: Σlo grows
  * < n·2²³ and Σhi < n·7.7·10⁶, so a single group holds ≈ 1.1·10¹²
  * rows (≈ 280 TB of 64-dim float32) before either half can wrap —
  * and every add is Math.addExact, so exceeding the bound FAILS
  * LOUDLY instead of silently corrupting the covariance (the round-11
  * hazard: a single-long accumulator wrapped at ~9·10⁶ rows).
  * State is O(d²) regardless of row count (d=64 ⇒ 4 225 longs).
  * Covariance/correlation derive from the sums as scalar doubles via
  * [[graft.operators.Similarity.covReport]].
  */
case class GramianAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(dim >= 1 && dim <= 512, "GramianAgg dim out of range")
  private val gOff = 1 + dim
  private val bufLen = 1 + dim + dim * (dim + 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"GramianAgg needs array<float>, got $other"
        )
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == dim) {
        buf(0) += 1L
        val q = new Array[Long](dim)
        var i = 0
        while (i < dim) {
          q(i) = math.floor(arr.getFloat(i) * 1e6 + 0.5).toLong
          buf(1 + i) = Math.addExact(buf(1 + i), q(i))
          i += 1
        }
        var k = gOff
        i = 0
        while (i < dim) {
          var j = i
          val qi = q(i)
          while (j < dim) {
            // multiplyExact closes the last silent-wrap hole: the product
            // is only safe when |q| < 2^31.5 (|v| ≲ 3·10³ at 1e6
            // quantization) — larger inputs now FAIL LOUDLY here too.
            val c = Math.multiplyExact(qi, q(j))
            buf(k) = Math.addExact(buf(k), c >> 23)
            buf(k + 1) = Math.addExact(buf(k + 1), c & GramianAgg.LoMask)
            j += 1
            k += 2
          }
          i += 1
        }
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bufLen) { buf(i) = Math.addExact(buf(i), other(i)); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): GramianAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GramianAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GramianAgg {
  /** Split point for the 2-long cross-moment accumulator: per-row
    * products decompose as c = (c >> LoShift)·2^LoShift + (c & LoMask)
    * and the halves sum independently (element-wise, fold-safe). */
  final val LoShift = 23
  final val LoMask: Long = (1L << LoShift) - 1

  /** Exact cross-moment reconstruction from a summed (Σhi, Σlo) pair.
    * BigInt, so toDouble performs ONE round-to-nearest of the exact
    * integer — bit-identical to the single-long accumulator it
    * replaced whenever that one didn't overflow. */
  def moment(hi: Long, lo: Long): BigInt = (BigInt(hi) << LoShift) + lo
}
