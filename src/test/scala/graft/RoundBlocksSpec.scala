package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The primitive pieces of array-backed round state, on their own: the
  * bounded min-combine flushes past its key bound without losing a
  * minimum, and the sorted merge visits every id once, in order. */
class RoundBlocksSpec extends AnyFunSuite {

  test("min-map batches past the key bound keep every key's minimum") {
    // 2.5 batches of distinct keys, each key added three times in an
    // order that puts its minimum last; negative keys included
    val n = LongDoubleMinMap.BatchKeys * 5 / 2
    val keys = (0 until n).map(i => if (i % 2 == 0) i.toLong else -i.toLong)
    var pass = 0
    val out = LongDoubleMinMap.batches { m =>
      while (!m.isFull && pass < 3 * n) {
        m.add(keys(pass % n), (3 - pass / n).toDouble)
        pass += 1
      }
      pass < 3 * n
    }.toSeq
    // the map flushed: keys recur across batches, never within one
    assert(out.size > n && out.size <= 3 * n)
    val best = out.groupMapReduce(_._1)(_._2)(math.min)
    assert(best.size === n)
    assert(best.valuesIterator.forall(_ == 1.0))
  }

  test("drainSorted returns ascending keys with their minima and empties the map") {
    val m = new LongDoubleMinMap()
    Seq(5L -> 2.0, -3L -> 1.0, 5L -> 1.5, 0L -> 7.0, -3L -> 4.0).foreach { case (k, v) => m.add(k, v) }
    val (ks, vs) = m.drainSorted()
    assert(ks.toSeq === Seq(-3L, 0L, 5L))
    assert(vs.toSeq === Seq(1.0, 7.0, 1.5))
    assert(m.drainSorted()._1.isEmpty)
  }

  test("SortedIds.merge visits each id once, in order, on the right side") {
    val a = Array(-4L, 1L, 3L, 9L)
    val b = SortedIds.distinctSorted(Array(9L, 2L, 3L, 2L, 12L))
    assert(b.toSeq === Seq(2L, 3L, 9L, 12L))
    val seen = Seq.newBuilder[String]
    SortedIds.merge(a, b)(i => seen += s"L${a(i)}", j => seen += s"R${b(j)}",
      (i, j) => seen += s"B${a(i)}=${b(j)}")
    assert(seen.result() === Seq("L-4", "L1", "R2", "B3=3", "B9=9", "R12"))
  }

  test("SortedIds.order sorts indices stably, at every length across the merge widths") {
    val rnd = new scala.util.Random(7)
    (0 to 70).foreach { n =>
      val key = Array.fill(n)(rnd.nextInt(5).toLong)
      val o = SortedIds.order(n)((x, y) => key(x) < key(y))
      // stable: equal keys keep their index order
      assert(o.toSeq === (0 until n).sortBy(i => (key(i), i)), s"n=$n")
    }
  }
}
