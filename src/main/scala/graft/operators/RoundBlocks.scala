package graft.operators

/** A `Long → Double` map that keeps the minimum value per key, on
  * primitive arrays (open addressing, linear probing): the per-task
  * combine of an array-backed round, in place of a Spark `Aggregator`.
  * Spark's combine maps (`ExternalSorter`, `ExternalAppendOnlyMap`) and
  * its row caches re-estimate their own object graph as they grow,
  * which cost more task CPU than the rounds' arithmetic; this map holds
  * no object per entry. It grows up to `maxSize` keys; a caller that
  * bounds its memory stops adding at [[isFull]] and drains (see
  * [[LongDoubleMinMap.batches]]).
  */
private[operators] final class LongDoubleMinMap(maxSize: Int = Int.MaxValue) {
  private var keys = new Array[Long](16)
  private var vals = new Array[Double](16)
  private var used = new Array[Boolean](16)
  private var n = 0

  def isFull: Boolean = n >= maxSize

  private def slot(k: Long, mask: Int): Int =
    ((k * 0x9e3779b97f4a7c15L) >>> 32).toInt & mask

  /** Combine `v` into key `k`: `math.min`, as `reduceByKey(math.min)`. */
  def add(k: Long, v: Double): Unit = {
    val mask = keys.length - 1
    var i = slot(k, mask)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (used(i)) vals(i) = math.min(vals(i), v)
    else {
      used(i) = true; keys(i) = k; vals(i) = v; n += 1
      if (2 * n > keys.length) grow()
    }
  }

  private def grow(): Unit = {
    val (ks, vs, us) = (keys, vals, used)
    keys = new Array[Long](ks.length * 2)
    vals = new Array[Double](ks.length * 2)
    used = new Array[Boolean](ks.length * 2)
    val mask = keys.length - 1
    var j = 0
    while (j < ks.length) {
      if (us(j)) {
        var i = slot(ks(j), mask)
        while (used(i)) i = (i + 1) & mask
        used(i) = true; keys(i) = ks(j); vals(i) = vs(j)
      }
      j += 1
    }
  }

  /** The entries in ascending key order, leaving the map empty. */
  def drainSorted(): (Array[Long], Array[Double]) = {
    val order = new Array[Long](n)
    var j = 0
    var i = 0
    while (i < keys.length) {
      if (used(i)) { order(j) = keys(i); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(order)
    val mask = keys.length - 1
    val out = new Array[Double](n)
    j = 0
    while (j < n) {
      var s = slot(order(j), mask)
      while (keys(s) != order(j) || !used(s)) s = (s + 1) & mask
      out(j) = vals(s)
      j += 1
    }
    java.util.Arrays.fill(used, false)
    n = 0
    (order, out)
  }
}

private[operators] object LongDoubleMinMap {

  /** Most distinct keys one [[batches]] batch holds: 64 Ki keys, about
    * 2 MB of arrays per task. */
  val BatchKeys: Int = 1 << 16

  /** The min-combined pairs that `fill` adds, at most [[BatchKeys]]
    * distinct keys in memory at a time: `fill` adds to the map until it
    * [[LongDoubleMinMap.isFull]] or its input runs out, and returns
    * whether input is left; each full map is drained before `fill`
    * resumes. A key split across batches is emitted once per batch, so
    * the consumer still min-combines. */
  def batches(fill: LongDoubleMinMap => Boolean): Iterator[(Long, Double)] =
    new scala.collection.AbstractIterator[(Long, Double)] {
      private val m = new LongDoubleMinMap(BatchKeys)
      private var more = true
      private var ks = Array.emptyLongArray
      private var vs = Array.emptyDoubleArray
      private var i = 0
      def hasNext: Boolean = {
        while (i == ks.length && more) {
          more = fill(m)
          val (k, v) = m.drainSorted()
          ks = k; vs = v; i = 0
        }
        i < ks.length
      }
      def next(): (Long, Double) = {
        if (!hasNext) throw new NoSuchElementException
        i += 1
        (ks(i - 1), vs(i - 1))
      }
    }
}

/** Merge helpers over ascending id arrays, the index of an array-backed
  * block. */
private[operators] object SortedIds {

  /** One pass over two ascending, distinct id arrays, in id order:
    * `both(i, j)` where `a(i) == b(j)`, `left(i)` for an id only in
    * `a`, `right(j)` for an id only in `b`. */
  def merge(a: Array[Long], b: Array[Long])(
      left: Int => Unit,
      right: Int => Unit,
      both: (Int, Int) => Unit): Unit = {
    var i = 0
    var j = 0
    while (i < a.length || j < b.length) {
      if (j == b.length || (i < a.length && a(i) < b(j))) { left(i); i += 1 }
      else if (i == a.length || b(j) < a(i)) { right(j); j += 1 }
      else { both(i, j); i += 1; j += 1 }
    }
  }

  /** `ids` sorted ascending, duplicates dropped (a new array). */
  def distinctSorted(ids: Array[Long]): Array[Long] = {
    val s = ids.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** The indices `0 until n` in the order of `before`, a strict order
    * on indices: a stable bottom-up merge sort on `Int` arrays, so a
    * caller sorts parallel primitive arrays without a tuple per row. */
  def order(n: Int)(before: (Int, Int) => Boolean): Array[Int] = {
    var a = Array.range(0, n)
    var b = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var i = lo
        var j = mid
        var k = lo
        while (k < hi) {
          if (j < hi && (i == mid || before(a(j), a(i)))) { b(k) = a(j); j += 1 }
          else { b(k) = a(i); i += 1 }
          k += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      w *= 2
    }
    a
  }
}
