package graft

import graft.functions.{NeighborTable, NeighborTopK, NeighborTopKFunctions, NeighborTopKImpl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalacheck.{Gen, Prop, Test => Check}

/** `neighbor_top_k` against a naive reference: per-candidate combine
  * over the (set of) items' lists, seen items dropped, sorted by
  * (score desc under `SQLOrderingUtil.compareDoubles`, candidate asc),
  * first k ranked 1..k. ScalaCheck drives the kernel directly; the
  * Spark paths (generated code and interpreted eval) are checked on
  * drawn batches. */
class NeighborTopKSpec extends SparkSpec {

  // small shared pool so keys, neighbours and items collide; ids span
  // below 0 and past 2³² (the id domain is not a kernel assumption)
  private val ids = Seq(-7L, -1L, 0L, 1L, 2L, 3L, 5L, 8L, 1L << 32,
    (1L << 32) + 3, Long.MinValue, Long.MaxValue)
  private val genId = Gen.oneOf(ids)
  private val genLongW = Gen.choose(0L, 4L)
  private val genDoubleW = Gen.oneOf(0.0, -0.0, 0.25, 0.5, 1.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, -0.5)

  private def genCase[W](genW: Gen[W]): Gen[NeighborTopKSpec.Case[W]] = for {
    rows <- Gen.listOf(Gen.zip(genId, genId, genW))
    items <- Gen.listOf(genId)
    k <- Gen.choose(0, 6)
  } yield NeighborTopKSpec.Case(rows, items, k)

  /** Naive reference; scores as longs or double bits. */
  private def reference(rows: Seq[(Long, Long, Long)], items: Seq[Long], k: Int,
      sum: Boolean): Seq[(Long, Long, Int)] = {
    val set = items.toSet
    def d(x: Long) = java.lang.Double.longBitsToDouble(x)
    def cmp(a: Long, b: Long) =
      if (sum) java.lang.Long.compare(a, b) else SQLOrderingUtil.compareDoubles(d(a), d(b))
    val combined = rows.filter(r => set(r._1) && !set(r._2)).groupBy(_._2).map {
      case (j, rs) => j -> rs.map(_._3).reduce((a, b) =>
        if (sum) Math.addExact(a, b) else if (cmp(b, a) > 0) b else a)
    }
    combined.toSeq
      .sortWith { case ((c1, s1), (c2, s2)) =>
        val c = cmp(s1, s2); c > 0 || (c == 0 && c1 < c2) }
      .take(k).zipWithIndex.map { case ((j, s), r) => (j, s, r + 1) }
  }

  private def decode(out: ArrayData, sum: Boolean): Seq[(Long, Long, Int)] =
    (0 until out.numElements()).map { r =>
      val s = out.getStruct(r, 3)
      (s.getLong(0),
        if (sum) s.getLong(1) else java.lang.Double.doubleToRawLongBits(s.getDouble(1)),
        s.getInt(2))
    }

  /** Equal up to Spark's double equality (-0.0 = 0.0, NaN = NaN). */
  private def same(a: Seq[(Long, Long, Int)], b: Seq[(Long, Long, Int)], sum: Boolean) =
    a.length == b.length && a.zip(b).forall { case ((c1, s1, r1), (c2, s2, r2)) =>
      c1 == c2 && r1 == r2 && (if (sum) s1 == s2 else SQLOrderingUtil.compareDoubles(
        java.lang.Double.longBitsToDouble(s1), java.lang.Double.longBitsToDouble(s2)) == 0)
    }

  private def asBits(rows: Seq[(Long, Long, Double)]) =
    rows.map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3)))

  private def table(rows: Seq[(Long, Long, Long)], doubles: Boolean) =
    NeighborTable.build(rows.map(_._1).toArray, rows.map(_._2).toArray,
      rows.map(_._3).toArray, doubles)

  private def kernel(rows: Seq[(Long, Long, Long)], items: Seq[Long], k: Int,
      sum: Boolean): Seq[(Long, Long, Int)] =
    decode(NeighborTopKImpl.topK(ArrayData.toArrayData(items.toArray),
      table(rows, !sum), k, sum), sum)

  private def check(p: Prop): Unit = {
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(20261017L), p)
    assert(res.passed, res.status.toString)
  }

  test("sum combine equals the naive reference (ties, seen items, k past the candidates)") {
    check(Prop.forAll(genCase(genLongW)) { c =>
      kernel(c.rows, c.items, c.k, sum = true) == reference(c.rows, c.items, c.k, sum = true)
    })
  }

  test("max combine equals the naive reference under Spark's double order") {
    check(Prop.forAll(genCase(genDoubleW)) { c =>
      val rows = asBits(c.rows)
      same(kernel(rows, c.items, c.k, sum = false),
        reference(rows, c.items, c.k, sum = false), sum = false)
    })
  }

  test("edge cases: empty items, items without lists, all candidates seen, k = 0") {
    val rows = Seq((1L, 2L, 3L), (2L, 1L, 3L), (-1L, 1L << 32, 1L))
    assert(kernel(rows, Nil, 3, sum = true).isEmpty)
    assert(kernel(rows, Seq(99L, Long.MinValue), 3, sum = true).isEmpty)
    assert(kernel(rows, Seq(1L, 2L), 3, sum = true).isEmpty)
    assert(kernel(rows, Seq(1L, -1L), 0, sum = true).isEmpty)
    assert(kernel(rows, Seq(-1L, -1L), 5, sum = true) === Seq((1L << 32, 1L, 1)))
    assert(kernel(Nil, Seq(1L), 3, sum = true).isEmpty)
    // score ties break on the candidate id, negative ids first
    val tie = Seq((0L, 7L, 2L), (0L, -3L, 2L), (0L, 1L << 33, 2L), (0L, 4L, 5L))
    assert(kernel(tie, Seq(0L), 3, sum = true) ===
      Seq((4L, 5L, 1), (-3L, 2L, 2), (7L, 2L, 3)))
  }

  test("generated code and interpreted eval agree with the reference on drawn batches") {
    import TestSpark.spark.implicits._
    for (sum <- Seq(true, false)) {
      val rows: Seq[(Long, Long, Long)] =
        if (sum) genCase(genLongW).sample.get.rows
        else asBits(Gen.listOfN(40, Gen.zip(genId, genId, genDoubleW)).sample.get)
      val rowsFull = if (rows.nonEmpty) rows else Seq((1L, 2L, 1L))
      val bc = spark.sparkContext.broadcast(table(rowsFull, !sum))
      val batch = List.fill(60)(Gen.listOf(genId).sample.get)
      val got = batch.map(_.toSeq).toDF("items")
        .select(NeighborTopKFunctions.neighborTopK(col("items"), bc, 3,
          if (sum) "sum" else "max"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map { r =>
          (r.getLong(0),
            if (sum) r.getLong(1) else java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
            r.getInt(2))
        })
      batch.zip(got).foreach { case (items, g) =>
        val want = reference(rowsFull, items, 3, sum)
        assert(same(g.toSeq, want, sum), s"codegen, items=$items")
        val interpreted = NeighborTopK(
          Literal.create(ArrayData.toArrayData(items.toArray), ArrayType(LongType, false)),
          bc, 3, sum).eval(InternalRow.empty).asInstanceOf[ArrayData]
        assert(same(decode(interpreted, sum), want, sum), s"eval, items=$items")
      }
      bc.unpersist()
    }
  }

  test("max combine matches Spark's own group-by max and row_number order") {
    import TestSpark.spark.implicits._
    // no signed zeros here: Spark's max keeps whichever of -0.0/0.0
    // it meets first, so their pick depends on the row order
    val rows = Seq((1L, 10L, 0.5), (2L, 10L, Double.NaN), (1L, 11L, Double.NaN),
      (1L, 12L, Double.PositiveInfinity), (2L, 13L, 0.5), (2L, 14L, 0.5),
      (1L, 15L, Double.NegativeInfinity), (3L, 16L, 0.75), (2L, 1L, 9.0))
    val items = Seq(1L, 2L)
    val spark0 = rows.toDF("i", "j", "w").filter(col("i").isin(items: _*))
      .filter(!col("j").isin(items: _*))
      .groupBy(col("j")).agg(max(col("w")).as("s"))
      .withColumn("rk", row_number().over(Window.orderBy(col("s").desc, col("j"))))
      .filter(col("rk") <= 4).orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getInt(2)))
    assert(same(kernel(asBits(rows), items, 4, sum = false), spark0.toSeq, sum = false))
  }
}

object NeighborTopKSpec {
  final case class Case[W](rows: List[(Long, Long, W)], items: List[Long], k: Int)
}
