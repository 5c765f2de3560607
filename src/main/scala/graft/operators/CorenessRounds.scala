package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

import Rounds.{inLoop, longSchema, perPartition, roundLoop}

/** The RDD body of [[GraphOps.corenessHIndex]]: the h-index iteration
  * (Lü, Zhou, Zhang & Stanley 2016) as message-driven rounds (Montresor,
  * De Pellegrini & Miorandi, "Distributed k-core decomposition", TPDS
  * 2013) on [[Rounds.roundLoop]]. A node's value can fall only after a
  * neighbour's value fell, so only the nodes that changed last round send
  * their value, and only the nodes that hear one recompute.
  */
private[operators] object CorenessRounds {

  /** The rounds of [[GraphOps.corenessHIndex]]:
    *
    *   prelude = edges.count (sizes the partitioner), the simple-graph
    *             dedup of [[ComponentRounds.undirectedSimple]], and ONE
    *             job that builds one [[CorenessBlock]] per partition and
    *             reads |V| and the degree sum
    *   round   = every changed node's `(neighbour, sender, value)`
    *             messages, packed into primitive arrays and moved by one
    *             `partitionBy` (Kryo); a `zipPartitions` writes them into
    *             the neighbour slots and recomputes the h-index of every
    *             node that heard one, capped at its value
    *   readout = the blocks' changed counts, the round's ONE job
    *
    * The seed sets every node to its degree and marks it changed. A round
    * that changes anything lowers the sum of the values by at least 1, so
    * the loop stops within degree-sum rounds.
    */
  def coreness(edges: DataFrame): DataFrame =
    inLoop(edges, copies = 2) { part =>
      val und = ComponentRounds.undirectedSimple(edges, part)
      val seed = und
        .mapPartitions(it => Iterator.single(CorenessBlock(it)), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sizes = perPartition(seed) { it =>
        val b = it.next()
        (b.ids.length.toLong, b.nbrs.length.toLong)
      }
      und.unpersist(false)
      val nV = sizes.iterator.map(_._1).sum
      val degreeSum = sizes.iterator.map(_._2).sum
      var left = nV
      val state = roundLoop("coreness", seed, nV, degreeSum, Long.MaxValue)(
        _.changed,
        after = (_, changed, _, _) => left = changed) { (cur, _) =>
        val msgs = cur.mapPartitions(_.next().messages(part)).partitionBy(part)
        (1L, cur.zipPartitions(msgs)((bIt, mIt) => Iterator.single(bIt.next().receive(mIt))))
      }
      require(left == 0L, s"h-index coreness did not converge within $degreeSum rounds")
      edges.sparkSession.createDataFrame(state.flatMap(_.rows), longSchema("id", "coreness"))
    }
}

/** One partition's coreness state for [[CorenessRounds.coreness]]: its
  * nodes of the undirected simple graph in CSR form (sorted `ids`,
  * `offsets` into `nbrs`, each node's neighbours ascending), `nbrVals`
  * the last value heard from each neighbour (aligned with `nbrs`), each
  * node's own value `vals`, the `changedBits` of the nodes whose value
  * the last round lowered, and their count `changed`. A round builds a
  * new block and shares the arrays it does not change; no array is
  * written after its block is built.
  */
private[operators] final class CorenessBlock(
    val ids: Array[Long],
    val offsets: Array[Int],
    val nbrs: Array[Long],
    val nbrVals: Array[Int],
    val vals: Array[Int],
    val changedBits: java.util.BitSet,
    val changed: Long)
    extends Serializable {

  /** The changed nodes' messages `(neighbour, sender, value)`, three
    * longs each, packed into one array per destination partition of
    * `part` and keyed by the array's first neighbour, so `partitionBy`
    * routes the whole array to the partition of every neighbour in it. */
  def messages(part: HashPartitioner): Iterator[(Long, Array[Long])] = {
    val out = Array.fill(part.numPartitions)(new ArrayBuilder.ofLong)
    var k = changedBits.nextSetBit(0)
    while (k >= 0) {
      var j = offsets(k)
      while (j < offsets(k + 1)) {
        val b = out(part.getPartition(nbrs(j)))
        b += nbrs(j); b += ids(k); b += vals(k)
        j += 1
      }
      k = changedBits.nextSetBit(k + 1)
    }
    out.iterator.map(_.result()).filter(_.nonEmpty).map(a => (a(0), a))
  }

  /** The next block: each message written into its neighbour slot, then
    * the h-index of every node that heard one, capped at its value; a
    * node whose value falls is changed. */
  def receive(batches: Iterator[(Long, Array[Long])]): CorenessBlock = {
    val heardVals = nbrVals.clone()
    val heard = new java.util.BitSet(ids.length)
    batches.foreach { case (_, a) =>
      var i = 0
      while (i < a.length) {
        val k = java.util.Arrays.binarySearch(ids, a(i))
        heardVals(java.util.Arrays.binarySearch(nbrs, offsets(k), offsets(k + 1), a(i + 1))) =
          a(i + 2).toInt
        heard.set(k)
        i += 3
      }
    }
    val next = vals.clone()
    val fell = new java.util.BitSet(ids.length)
    val counts = new Array[Int](if (vals.isEmpty) 1 else vals.max + 1)
    var k = heard.nextSetBit(0)
    while (k >= 0) {
      val h = CorenessBlock.hIndex(heardVals, offsets(k), offsets(k + 1), vals(k), counts)
      if (h < vals(k)) { next(k) = h; fell.set(k) }
      k = heard.nextSetBit(k + 1)
    }
    new CorenessBlock(ids, offsets, nbrs, heardVals, next, fell, fell.cardinality.toLong)
  }

  /** The output rows (id, coreness). */
  def rows: Iterator[Row] = Iterator.range(0, ids.length).map(k => Row(ids(k), vals(k).toLong))
}

private[operators] object CorenessBlock {

  /** The seed block of one partition's distinct (node, neighbour) pairs:
    * every node at its degree, changed. */
  def apply(pairs: Iterator[(Long, Long)]): CorenessBlock = {
    val src = new ArrayBuilder.ofLong
    val dst = new ArrayBuilder.ofLong
    pairs.foreach { case (s, d) => src += s; dst += d }
    val s = src.result()
    val d = dst.result()
    val order = SortedIds.order(s.length)((i, j) => s(i) < s(j) || (s(i) == s(j) && d(i) < d(j)))
    val ids = new ArrayBuilder.ofLong
    val offsets = new ArrayBuilder.ofInt
    var i = 0
    while (i < order.length) {
      if (i == 0 || s(order(i)) != s(order(i - 1))) { ids += s(order(i)); offsets += i }
      i += 1
    }
    offsets += order.length
    val o = offsets.result()
    val nodes = ids.result()
    val all = new java.util.BitSet(nodes.length)
    all.set(0, nodes.length)
    new CorenessBlock(
      nodes, o, order.map(i => d(i)), new Array[Int](order.length),
      Array.tabulate(nodes.length)(k => o(k + 1) - o(k)), all, nodes.length.toLong)
  }

  /** The h-index of `v(from until to)` capped at `cap`: the largest
    * h ≤ cap with at least h of the values ≥ h. `counts` (longer than
    * `cap`) is all zero on entry and is left so. */
  def hIndex(v: Array[Int], from: Int, to: Int, cap: Int, counts: Array[Int]): Int = {
    var j = from
    while (j < to) { counts(math.min(v(j), cap)) += 1; j += 1 }
    var h = cap
    var atLeast = counts(cap)
    while (atLeast < h) { h -= 1; atLeast += counts(h) }
    java.util.Arrays.fill(counts, 0, cap + 1, 0)
    h
  }
}
