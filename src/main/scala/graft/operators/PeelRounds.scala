package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

import Rounds.{inLoop, longSchema, perPartition, roundLoop}

/** The peel loops over the undirected simple graph on [[Rounds.roundLoop]]:
  * coreness ([[GraphOps.corenessHIndex]]), the k-core ([[GraphOps.kCore]])
  * and the densest-subgraph bulk peel ([[GraphOps.densestSubgraph]]). All
  * three keep one [[PeelBlock]] per partition, and a round is the same
  * job: the nodes marked changed send their value to their neighbours
  * (one `partitionBy` of primitive arrays, Kryo), and a `zipPartitions`
  * writes the messages into the neighbour slots. The loops differ only
  * in the rule a node applies around that write:
  *
  *   coreness  = a node that heard a message takes the h-index of its
  *               slots, capped at its own value (Lü et al. 2016), as
  *               message-driven rounds (Montresor, De Pellegrini &
  *               Miorandi, TPDS 2013): a value can fall only after a
  *               neighbour's fell, so only changed nodes send;
  *   k-core    = the same iteration with values clipped to {0, k}: a node
  *               stays at k while at least k slots hold k, else drops to
  *               0 — the deletion cascade, each dead node sending one
  *               message per edge, once;
  *   densest   = slots are alive bits; before the messages, every alive
  *               node with 2·deg·v ≤ 3·m2 (the last readout's sums) dies
  *               and sends.
  */
private[operators] object PeelRounds {

  /** The rounds of [[GraphOps.corenessHIndex]]: the h-index iteration
    * from every node at its degree, all changed. A round that changes
    * anything lowers the sum of the values by at least 1, so the loop
    * stops within degree-sum rounds.
    */
  def coreness(edges: DataFrame): DataFrame =
    inLoop(edges, copies = 2) { part =>
      edges.sparkSession.createDataFrame(
        hIndexRounds(edges, part, k = 0).flatMap(b =>
          b.ids.indices.iterator.map(i => Row(b.ids(i), b.vals(i).toLong))),
        longSchema("id", "coreness"))
    }

  /** The rounds of [[GraphOps.kCore]]: the seed kills every node of
    * degree below k, and each round the nodes that died last round tell
    * their neighbours. The 0-core and the 1-core are both the whole
    * simple graph (every node of it has an edge), so k is taken at
    * least 1, where no node dies and no round runs.
    */
  def kCore(edges: DataFrame, k: Int): DataFrame =
    inLoop(edges, copies = 2) { part =>
      val kk = math.max(k, 1)
      edges.sparkSession.createDataFrame(
        hIndexRounds(edges, part, kk).flatMap(b =>
          b.ids.indices.iterator.map(i => Row(b.ids(i), b.vals(i) == kk))),
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("in_core", BooleanType, nullable = false))))
    }

  /** The rounds of [[GraphOps.densestSubgraph]]. The prelude's sizes are
    * row 0 (every node alive, at its degree); round r kills by row r−1's
    * (v, m2), and its readout sums the alive nodes and their degrees
    * into row r. A round that leaves no alive node with an edge changes
    * nothing, and the loop stops: the remaining rounds would emit no
    * rows.
    */
  def densestSubgraph(edges: DataFrame, maxRounds: Int): DataFrame = {
    val session = edges.sparkSession
    inLoop(edges, copies = 2) { part =>
      val (seed, nV, degreeSum, _) = blocks(edges, part, k = 1)
      val profile = scala.collection.mutable.ArrayBuffer.empty[Row]
      var v = nV
      var m2 = degreeSum
      def record(round: Long): Unit =
        if (v > 0 && m2 > 0) profile += Row(round, v, m2 / 2, m2 * 500000L / v, m2 * 1000000L / v)
      if (maxRounds > 0) record(0L)
      roundLoop("densestSubgraph", seed, nV, maxRounds - 1L)(
        _.aliveWithEdges,
        Seq(_.alive, _.aliveDegrees),
        (r, _, sums, _) => { v = sums(0); m2 = sums(1); record(r) }) { (cur, _) =>
        val (lastV, lastM2) = (v, m2)
        val killed = cur.mapPartitions(
          it => Iterator.single(it.next().kill(lastV, lastM2)),
          preservesPartitioning = true)
        val msgs = killed.mapPartitions(_.next().messages(part)).partitionBy(part)
        (1L, killed.zipPartitions(msgs)((bIt, mIt) => Iterator.single(bIt.next().write(mIt))))
      }.unpersist(false)
      session.createDataFrame(
        session.sparkContext.parallelize(profile.toSeq, 1),
        longSchema("round", "n_nodes", "n_edges", "density_ppm", "avg_deg_ppm"))
    }
  }

  /** Every peel's prelude: ONE `partitionBy` of both directions of every
    * non-loop edge as bare (node, neighbour) pairs, built into one
    * [[PeelBlock]] per partition under the rule `k` and persisted, then
    * ONE job reading |V|, the degree sum and the seed's changed nodes.
    * With edges.count (two jobs under AQE) that is three prelude jobs.
    */
  private def blocks(
      edges: DataFrame,
      part: HashPartitioner,
      k: Int): (RDD[PeelBlock], Long, Long, Long) = {
    val seed = edges
      .select(col("src"), col("dst"))
      .rdd
      .flatMap { r =>
        val s = r.getLong(0); val d = r.getLong(1)
        if (s == d) Iterator.empty else Iterator((s, d), (d, s))
      }
      .partitionBy(part)
      .mapPartitions(it => Iterator.single(PeelBlock(it, k)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = perPartition(seed) { it =>
      val b = it.next()
      Array(b.ids.length.toLong, b.nbrs.length.toLong, b.changed)
    }
    (seed, sizes.map(_(0)).sum, sizes.map(_(1)).sum, sizes.map(_(2)).sum)
  }

  /** The h-index rounds under the rule `k` (0 for coreness) until no
    * node changes; the last state, still persisted. */
  private def hIndexRounds(edges: DataFrame, part: HashPartitioner, k: Int): RDD[PeelBlock] = {
    val (seed, _, degreeSum, seedChanged) = blocks(edges, part, k)
    val name = if (k == 0) "coreness" else "kCore"
    var left = seedChanged
    val state = roundLoop(name, seed, seedChanged, degreeSum)(
      _.changed,
      after = (_, changed, _, _) => left = changed) { (cur, _) =>
      val msgs = cur.mapPartitions(_.next().messages(part)).partitionBy(part)
      (1L, cur.zipPartitions(msgs)((bIt, mIt) => Iterator.single(bIt.next().receive(mIt, k))))
    }
    require(left == 0L, s"h-index peel did not converge within $degreeSum rounds")
    state
  }
}

/** One partition's peel state for [[PeelRounds]]: its nodes of the
  * undirected simple graph in CSR form (sorted `ids`, `offsets` into
  * `nbrs`, each node's neighbours ascending), `nbrVals` the last value
  * heard from each neighbour (aligned with `nbrs`), each node's own value
  * `vals`, the `changedBits` of the nodes that send next, and their count
  * `changed`. A round builds a new block and shares the arrays it does
  * not change; no array is written after its block is built.
  */
private[operators] final class PeelBlock(
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

  /** The neighbour slots with each message written in, and the nodes
    * that heard one. */
  private def written(batches: Iterator[(Long, Array[Long])]): (Array[Int], java.util.BitSet) = {
    val slots = nbrVals.clone()
    val heard = new java.util.BitSet(ids.length)
    batches.foreach { case (_, a) =>
      var i = 0
      while (i < a.length) {
        val k = java.util.Arrays.binarySearch(ids, a(i))
        slots(java.util.Arrays.binarySearch(nbrs, offsets(k), offsets(k + 1), a(i + 1))) = a(i + 2).toInt
        heard.set(k)
        i += 3
      }
    }
    (slots, heard)
  }

  /** The next h-index block: the messages written, then every node that
    * heard one takes the h-index of its slots capped at its value, under
    * the rule `k` ([[PeelBlock.clip]]); a node whose value falls is
    * changed. */
  def receive(batches: Iterator[(Long, Array[Long])], k: Int): PeelBlock = {
    val (slots, heard) = written(batches)
    val next = vals.clone()
    val fell = new java.util.BitSet(ids.length)
    val counts = new Array[Int](if (vals.isEmpty) 1 else vals.max + 1)
    var i = heard.nextSetBit(0)
    while (i >= 0) {
      val h = PeelBlock.clip(PeelBlock.hIndex(slots, offsets(i), offsets(i + 1), vals(i), counts), k)
      if (h < vals(i)) { next(i) = h; fell.set(i) }
      i = heard.nextSetBit(i + 1)
    }
    new PeelBlock(ids, offsets, nbrs, slots, next, fell, fell.cardinality.toLong)
  }

  /** The next densest-subgraph block: the killed nodes' messages
    * written; no value moves and nobody sends until the next kill. */
  def write(batches: Iterator[(Long, Array[Long])]): PeelBlock =
    new PeelBlock(ids, offsets, nbrs, written(batches)._1, vals, new java.util.BitSet(0), 0L)

  /** The densest-subgraph kill: every alive node with
    * 2·deg·v ≤ 3·m2 dies and is changed. */
  def kill(v: Long, m2: Long): PeelBlock = {
    val next = vals.clone()
    val died = new java.util.BitSet(ids.length)
    var i = 0
    while (i < ids.length) {
      if (vals(i) == 1 && 2L * degree(i) * v <= 3L * m2) { next(i) = 0; died.set(i) }
      i += 1
    }
    new PeelBlock(ids, offsets, nbrs, nbrVals, next, died, died.cardinality.toLong)
  }

  /** Node `i`'s slot sum: its alive neighbours, when slots are alive bits. */
  private def degree(i: Int): Long = {
    var d = 0L
    var j = offsets(i)
    while (j < offsets(i + 1)) { d += nbrVals(j); j += 1 }
    d
  }

  /** The alive nodes (value 1). */
  def alive: Long = vals.count(_ == 1).toLong

  /** The alive nodes' degree sum in the alive-induced subgraph. */
  def aliveDegrees: Long = ids.indices.iterator.filter(vals(_) == 1).map(degree).sum

  /** The alive nodes with at least one alive neighbour. */
  def aliveWithEdges: Long = ids.indices.count(i => vals(i) == 1 && degree(i) > 0).toLong
}

private[operators] object PeelBlock {

  /** The seed block of one partition's (node, neighbour) pairs, parallel
    * pairs dropped: every node at its degree under the rule `k`
    * ([[clip]]), every slot at k, and the nodes whose value is not k
    * changed (for coreness every node, for the k-core the dead ones). */
  def apply(pairs: Iterator[(Long, Long)], k: Int): PeelBlock = {
    val src = new ArrayBuilder.ofLong
    val dst = new ArrayBuilder.ofLong
    pairs.foreach { case (s, d) => src += s; dst += d }
    val s = src.result()
    val d = dst.result()
    val order = SortedIds.order(s.length)((i, j) => s(i) < s(j) || (s(i) == s(j) && d(i) < d(j)))
    val ids = new ArrayBuilder.ofLong
    val offsets = new ArrayBuilder.ofInt
    val nbrs = new ArrayBuilder.ofLong
    var i = 0
    while (i < order.length) {
      val node = i == 0 || s(order(i)) != s(order(i - 1))
      if (node) { ids += s(order(i)); offsets += nbrs.length }
      if (node || d(order(i)) != d(order(i - 1))) nbrs += d(order(i))
      i += 1
    }
    offsets += nbrs.length
    val o = offsets.result()
    val nodes = ids.result()
    val v = Array.tabulate(nodes.length)(n => clip(o(n + 1) - o(n), k))
    val changedBits = new java.util.BitSet(nodes.length)
    v.indices.foreach(n => if (v(n) != k) changedBits.set(n))
    new PeelBlock(
      nodes, o, nbrs.result(), Array.fill(o.last)(k), v, changedBits,
      changedBits.cardinality.toLong)
  }

  /** A value under the rule `k`: coreness (k = 0) keeps it; the k-core
    * rule keeps k from any value of at least k and drops the rest to 0. */
  def clip(h: Int, k: Int): Int = if (k == 0) h else if (h >= k) k else 0

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
