package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded per-item neighbour lists as primitive arrays: the lists of
  * `keys(p)` are the entries `offs(p) until offs(p + 1)` of `nbrs` and
  * `ws`. `keys` is sorted ascending (lookup is binary search, so any
  * long id works, negative or past 2³²). A weight is a long for the
  * `sum` combine and the raw bits of a double for `max`.
  */
final class NeighborTable(val keys: Array[Long], val offs: Array[Int],
    val nbrs: Array[Long], val ws: Array[Long], val doubles: Boolean)
    extends Serializable

object NeighborTable {

  /** Table over the rows (key(r), nbr(r), w(r)); `w` holds longs, or
    * double bits when `doubles`. Within a key, rows keep input order. */
  def build(key: Array[Long], nbr: Array[Long], w: Array[Long],
      doubles: Boolean): NeighborTable = {
    val m = key.length
    val sorted = key.clone()
    java.util.Arrays.sort(sorted)
    var u = 0
    var r = 0
    while (r < m) {
      if (r == 0 || sorted(r) != sorted(r - 1)) { sorted(u) = sorted(r); u += 1 }
      r += 1
    }
    val keys = java.util.Arrays.copyOf(sorted, u)
    val offs = new Array[Int](u + 1)
    r = 0
    while (r < m) { offs(java.util.Arrays.binarySearch(keys, key(r)) + 1) += 1; r += 1 }
    var p = 0
    while (p < u) { offs(p + 1) += offs(p); p += 1 }
    val fill = java.util.Arrays.copyOf(offs, u)
    val nbrs = new Array[Long](m)
    val ws = new Array[Long](m)
    r = 0
    while (r < m) {
      val q = java.util.Arrays.binarySearch(keys, key(r))
      val e = fill(q)
      fill(q) += 1
      nbrs(e) = nbr(r); ws(e) = w(r)
      r += 1
    }
    new NeighborTable(keys, offs, nbrs, ws, doubles)
  }
}

object NeighborTopKImpl {

  private def mix(x: Long): Int = {
    var h = x * 0x9E3779B97F4A7C15L
    h ^= h >>> 32
    h.toInt
  }

  /** One customer's top-k unseen candidates: every item of `items`
    * (treated as a set; nulls skipped) contributes its neighbour list
    * from `t`; candidates in `items` are dropped; the weights of one
    * candidate combine by exact long `sum` (overflow throws, as Spark's
    * ANSI sum does) or by `max` under Spark's double order
    * (`SQLOrderingUtil.compareDoubles`: NaN largest, -0.0 = 0.0). The
    * result is ≤ k structs (candidate, score, rank) ordered by
    * (score desc, candidate asc), rank 1..k — `row_number` over that
    * order, filtered to ≤ k.
    */
  def topK(items: ArrayData, t: NeighborTable, k: Int, sum: Boolean): ArrayData = {
    val n0 = items.numElements()
    val seen = new Array[Long](n0)
    var n = 0
    var i = 0
    while (i < n0) {
      if (!items.isNullAt(i)) { seen(n) = items.getLong(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(seen, 0, n)
    // candidate-entry mass bounds the distinct candidates: size the
    // open-addressing table (power of two, load ≤ 1/2) once
    var mass = 0
    i = 0
    while (i < n) {
      if (i == 0 || seen(i) != seen(i - 1)) {
        val p = java.util.Arrays.binarySearch(t.keys, seen(i))
        if (p >= 0) mass += t.offs(p + 1) - t.offs(p)
      }
      i += 1
    }
    if (mass == 0 || k <= 0) return new GenericArrayData(new Array[Any](0))
    val cap = Integer.highestOneBit(math.max(2, mass) * 2 - 1) << 1
    val mask = cap - 1
    val cand = new Array[Long](cap)
    val acc = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    i = 0
    while (i < n) {
      if (i == 0 || seen(i) != seen(i - 1)) {
        val p = java.util.Arrays.binarySearch(t.keys, seen(i))
        if (p >= 0) {
          var e = t.offs(p)
          val end = t.offs(p + 1)
          while (e < end) {
            val j = t.nbrs(e)
            if (java.util.Arrays.binarySearch(seen, 0, n, j) < 0) {
              var s = mix(j) & mask
              while (used(s) && cand(s) != j) s = (s + 1) & mask
              val w = t.ws(e)
              if (!used(s)) {
                used(s) = true; cand(s) = j; acc(s) = w
              } else if (sum) {
                acc(s) = Math.addExact(acc(s), w)
              } else if (SQLOrderingUtil.compareDoubles(
                  java.lang.Double.longBitsToDouble(w),
                  java.lang.Double.longBitsToDouble(acc(s))) > 0) {
                acc(s) = w
              }
            }
            e += 1
          }
        }
      }
      i += 1
    }
    // bounded selection: the best k so far, kept sorted best-first
    val topC = new Array[Long](k)
    val topS = new Array[Long](k)
    var got = 0
    def before(s1: Long, c1: Long, s2: Long, c2: Long): Boolean = {
      val cmp =
        if (sum) java.lang.Long.compare(s1, s2)
        else SQLOrderingUtil.compareDoubles(
          java.lang.Double.longBitsToDouble(s1), java.lang.Double.longBitsToDouble(s2))
      cmp > 0 || (cmp == 0 && c1 < c2)
    }
    var s = 0
    while (s < cap) {
      if (used(s) && (got < k || before(acc(s), cand(s), topS(k - 1), topC(k - 1)))) {
        var q = if (got < k) got else k - 1
        while (q > 0 && before(acc(s), cand(s), topS(q - 1), topC(q - 1))) {
          topS(q) = topS(q - 1); topC(q) = topC(q - 1); q -= 1
        }
        topS(q) = acc(s); topC(q) = cand(s)
        if (got < k) got += 1
      }
      s += 1
    }
    val out = new Array[Any](got)
    var r = 0
    while (r < got) {
      val score: Any =
        if (sum) topS(r) else java.lang.Double.longBitsToDouble(topS(r))
      out(r) = new GenericInternalRow(Array[Any](topC(r), score, r + 1))
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** `neighbor_top_k(items array<bigint>, k, combine)` →
  * `array<struct<item:bigint, score:bigint|double, rank:int>>` — the
  * per-customer candidate-scoring tail of item-item recommenders in one
  * pass: score each unseen neighbour of the customer's items by `sum`
  * (bigint score) or `max` (double score) of its list weights, keep the
  * top k. The neighbour table rides one broadcast, referenced (not
  * copied) by generated code; callers release it after materializing.
  */
case class NeighborTopK(child: Expression, table: Broadcast[NeighborTable],
    k: Int, sum: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", LongType, nullable = false),
    StructField("score", if (sum) LongType else DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "neighbor_top_k"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"neighbor_top_k expects array<bigint>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    NeighborTopKImpl.topK(input.asInstanceOf[ArrayData], table.value, k, sum)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbrTable", table, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NeighborTopKImpl.topK($c, " +
        s"(graft.functions.NeighborTable) $ref.value(), $k, $sum)")
  }

  override protected def withNewChildInternal(newChild: Expression): NeighborTopK =
    copy(child = newChild)
}

object NeighborTopKFunctions {
  /** `combine` is "sum" (long table) or "max" (double table). */
  def neighborTopK(items: Column, table: Broadcast[NeighborTable], k: Int,
      combine: String): Column = {
    val sum = combine match {
      case "sum" => true
      case "max" => false
      case other => throw new IllegalArgumentException(
        s"neighbor_top_k: combine must be sum or max, got '$other'")
    }
    require(table.value.doubles != sum,
      s"neighbor_top_k: combine '$combine' needs a ${if (sum) "long" else "double"}-weighted table")
    ColumnBridge.column(NeighborTopK(ColumnBridge.expression(items), table, k, sum))
  }
}
