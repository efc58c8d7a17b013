package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.plans.GraftExpressions

/** Differential tests: every custom Catalyst expression must agree with
  * its composed-built-ins reference implementation (graft.functions) —
  * the §2.8 "semantically identical, just faster" claim, executed.
  */
class EquivalenceSpec extends AnyFunSuite {
  import TestSession._

  test("SimHash64 expression == composed simhash (bit-identical)") {
    val docs = graft.sources.Tables
      .documents(spark, sf)
      .limit(100)
      .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
    val both = docs
      .select(
        col("doc_id"),
        TF.simhash64(col("tk")).as("composed"),
        GraftExpressions.simhash64(col("tk")).as("custom")
      )
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("FloatVecDot expression == composed double fold (bit-identical)") {
    val e = graft.sources.Tables.embeddings(spark, sf).limit(200)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(500)
    val both = pairs
      .select(
        VF.dotFold(col("ea"), col("eb")).as("composed"),
        VF.dot(col("ea"), col("eb")).as("custom")
      )
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("hash-shingle Jaccard == string-shingle Jaccard") {
    val docs = graft.sources.Tables
      .documents(spark, sf)
      .limit(120)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        TF.wordShingles(col("tk"), 3).as("ss"),
        GraftExpressions.shingleHashes(split(col("text"), " "), 3).as("hs")
      )
      .filter(size(col("ss")) > 0)
    val a = docs.select(col("doc_id").as("ida"), col("ss").as("ssa"), col("hs").as("hsa"))
    val b = docs.select(col("doc_id").as("idb"), col("ss").as("ssb"), col("hs").as("hsb"))
    val both = a
      .join(b, col("ida") < col("idb"))
      .limit(2000)
      .select(
        TF.jaccard(col("ssa"), col("ssb")).as("stringJ"),
        (GraftExpressions.sortedIntersectSize(col("hsa"), col("hsb")).cast("double") /
          (size(col("hsa")) + size(col("hsb")) -
            GraftExpressions.sortedIntersectSize(col("hsa"), col("hsb")))).as("hashJ")
      )
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("SortedLongIntersectSize: generated code == interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val t = ArrayType(LongType, containsNull = false)
    val e = graft.plans.SortedLongIntersectSize(BoundReference(0, t, nullable = true), BoundReference(1, t, nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    val rng = new scala.util.Random(7)
    def sortedSet(n: Int, range: Int): Array[Long] = Array.fill(n)(rng.nextInt(range).toLong - range / 2).distinct.sorted
    val random = Seq.fill(200)((sortedSet(rng.nextInt(60), 100), sortedSet(rng.nextInt(60), 100)))
    val cases = Seq(
      (Array.emptyLongArray, Array.emptyLongArray),
      (Array.emptyLongArray, Array(1L, 2L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(Long.MinValue, -1L, 0L, Long.MaxValue), Array(Long.MinValue, -1L, 0L, Long.MaxValue))
    ) ++ random
    cases.foreach { case (a, b) =>
      val row = InternalRow(new GenericArrayData(a), new GenericArrayData(b))
      val expected = a.toSet.intersect(b.toSet).size
      assert(e.eval(row) == expected, s"${a.toSeq} ${b.toSeq}")
      assert(generated(row).getInt(0) == expected, s"${a.toSeq} ${b.toSeq}")
    }
    val nullRow = InternalRow(null, new GenericArrayData(Array(1L)))
    assert(generated(nullRow).isNullAt(0) && e.eval(nullRow) == null)
  }
}
