package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.model.INF
import Rounds.{inLoop, perPartition, roundLoop}

/** The RDD body of [[GraphOps.sssp]]: the adjacency index, the vertex
  * set, the frontier relax, the two-hop fuse, the merge and the final
  * overlay. Every loop state is one array-backed block per partition
  * ([[SsspAdjacency]], [[SsspVertices]], [[SsspPatch]]), combined by
  * `zipPartitions`; the only shuffles are `partitionBy`s of bare
  * (Long, Double) or (Long, Boolean) pairs. So no step goes through a
  * Spark `Aggregator`, a cogroup or a cache of one object per row, whose
  * size tracking (`SizeEstimator` re-walking the collection as it grows)
  * cost more task CPU than the relax itself.
  */
private[operators] object SsspRounds {

  /** Double-hop fuse bound (the tiny-frontier batch): frontiers below
    * this relax two hops per job. An RDD hop is a shuffle boundary, so
    * fusing pays only the second hop's extra candidate fan-out —
    * bounded by the fuse threshold times the frontier's 2-hop
    * out-degree, KBs at the tail this targets.
    */
  val FuseBelowRows = 4096L

  /** The rounds of [[GraphOps.sssp]]:
    *
    *   prelude  = edges.count (sizes the partitioner) and ONE job that
    *              builds the index and the vertex set (sorted ids,
    *              is_src bits) and reads |V| and whether the source is
    *              present
    *   relax    = patch.zipPartitions(index) over the updated rows —
    *              binary search per frontier id, never a scan of the
    *              partition's edges — min-combined per task in a
    *              bounded [[LongDoubleMinMap]], then `partitionBy`, the
    *              round's one shuffle (Kryo pairs; bypass-merge writer up
    *              to 200 partitions)
    *   merge    = patch.zipPartitions(candidates): min-combine, then one
    *              sorted merge into the patch block, persisted
    *   readout  = the blocks' changed counts, the round's ONE job on
    *              [[Rounds.roundLoop]]
    *
    * The patch holds only relaxed/contacted rows (an untouched node's
    * dist is INF by construction), so a round costs O(touched rows +
    * frontier out-edges), not O(|E|) or O(|V|).
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int): DataFrame = {
    val session = edges.sparkSession
    // inLoop's edges.count is a full pass over the input: on the text
    // entry path (TextEdgeIO.ssspFromFile) it is 2 of the 3 prelude jobs.
    inLoop(edges) { part =>
      // the one scan: parallel edges and self-loops stay in the index —
      // the min-combine absorbs them, as the reference's reducer does
      val index = edges
        .select(col("src"), col("dst"), col("w"))
        .rdd
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .partitionBy(part)
        .mapPartitions(it => Iterator.single(SsspAdjacency(it)), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // base: every vertex with its is_src bit, read again only by the
      // final overlay; the loop itself touches only the patch
      val base = index
        .flatMap(_.vertices)
        .partitionBy(part)
        .mapPartitions(it => Iterator.single(SsspVertices(it)), preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val counts = perPartition(base) { it =>
        val b = it.next()
        (b.ids.length.toLong, b.contains(source))
      }
      val nV = counts.iterator.map(_._1).sum
      val hasSource = counts.exists(_._2)
      // the seed is a narrow map of base — no shuffle, no job
      val seed = base.mapPartitions(it => Iterator.single(it.next().seed(source)))
      // the Bellman-Ford bound: a shortest path has at most |V| - 1 hops
      val bound = math.min(maxRounds, math.max(1L, nV - 1L))
      val patch = roundLoop("sssp", seed, if (hasSource) 1L else 0L, bound)(_.changed) {
        (cur, at) =>
          // TINY-FRONTIER BATCHING (VERDICT r15 #1; guide §1/§2): below the
          // fuse bound, relax TWO Bellman-Ford hops in one job — hop 2
          // propagates straight off hop 1's shuffled candidates. Exact
          // because relaxation is monotone: a hop-1 candidate that does not
          // beat the state (or a key's non-minimal copy from another task)
          // only generates dominated hop-2 candidates, which the single
          // merge-min discards; a node first reached at hop 1 improves by
          // definition (INF before), so its hop-2 fan-out uses the improved
          // value. Each hop is a shuffle boundary, so a fused pair costs
          // two shuffles and ONE dispatch/merge/readout instead of two of
          // each.
          val hops = if (at.changed < FuseBelowRows && at.left >= 2) 2L else 1L
          val m1 = cur.zipPartitions(index)((pIt, aIt) => aIt.next().relax(pIt.next().frontier))
            .partitionBy(part)
          (hops,
            if (hops == 2L) {
              val m2 = m1.zipPartitions(index)((cIt, aIt) => aIt.next().relax(cIt)).partitionBy(part)
              cur.zipPartitions(m1, m2)((pIt, c1, c2) => Iterator.single(pIt.next().merge(c1 ++ c2)))
            } else cur.zipPartitions(m1)((pIt, c1) => Iterator.single(pIt.next().merge(c1))))
      }
      index.unpersist(false)
      // one base overlay at the end — membership (Q4): nodes with
      // out-edges ∪ nodes ever relaxed
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false),
        StructField("updated", BooleanType, nullable = false)))
      session.createDataFrame(
        base.zipPartitions(patch)((vIt, pIt) => vIt.next().overlay(pIt.next())),
        schema)
    }
  }
}

/** One partition's out-edges in CSR form for [[SsspRounds.sssp]]:
  * sorted distinct source `ids`, `offsets` into the parallel `dst`/`w`
  * arrays (edges of `ids(k)` are `offsets(k) until offsets(k + 1)`, in
  * input order). A frontier id is found by binary search, so relaxing a
  * frontier reads only its own out-edges, never the partition's whole
  * edge list.
  */
private[operators] final class SsspAdjacency(
    val ids: Array[Long],
    val offsets: Array[Int],
    val dst: Array[Long],
    val w: Array[Double])
    extends Serializable {
  /** The out-edge candidates (dst, d + w) of the `frontier` rows found
    * here, min-combined per key in [[LongDoubleMinMap.batches]]. */
  def relax(frontier: Iterator[(Long, Double)]): Iterator[(Long, Double)] = {
    var d = 0.0
    var j = 0
    var end = 0
    LongDoubleMinMap.batches { m =>
      while (!m.isFull && (j < end || frontier.hasNext)) {
        if (j < end) { m.add(dst(j), d + w(j)); j += 1 }
        else {
          val (id, dd) = frontier.next()
          val k = java.util.Arrays.binarySearch(ids, id)
          if (k >= 0) { d = dd; j = offsets(k); end = offsets(k + 1) }
        }
      }
      j < end || frontier.hasNext
    }
  }

  /** This partition's distinct vertices, (id, has out-edges here): the
    * map side of the vertex set's shuffle. */
  def vertices: Iterator[(Long, Boolean)] = {
    val sinks = SortedIds.distinctSorted(dst)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Boolean)](ids.length + sinks.length)
    SortedIds.merge(ids, sinks)(i => out += ids(i) -> true, j => out += sinks(j) -> false,
      (i, _) => out += ids(i) -> true)
    out.iterator
  }
}

private[operators] object SsspAdjacency {
  def apply(edges: Iterator[(Long, (Long, Double))]): SsspAdjacency = {
    val es = edges.toArray.sortBy(_._1) // stable: parallel edges keep input order
    val ids = Array.newBuilder[Long]
    val offsets = Array.newBuilder[Int]
    var i = 0
    while (i < es.length) {
      if (i == 0 || es(i)._1 != es(i - 1)._1) { ids += es(i)._1; offsets += i }
      i += 1
    }
    offsets += es.length
    new SsspAdjacency(ids.result(), offsets.result(), es.map(_._2._1), es.map(_._2._2))
  }
}

/** One partition's vertex set for [[SsspRounds.sssp]]: sorted distinct
  * `ids` and the `isSrc` bit of each (the node has out-edges). */
private[operators] final class SsspVertices(val ids: Array[Long], val isSrc: java.util.BitSet)
    extends Serializable {
  def contains(id: Long): Boolean = java.util.Arrays.binarySearch(ids, id) >= 0

  /** The patch before round 1: the source, if it lives here, at dist 0,
    * updated but not reached. */
  def seed(source: Long): SsspPatch =
    if (contains(source)) new SsspPatch(Array(source), Array(0.0), Array(SsspPatch.Updated), 1L)
    else SsspPatch.empty

  /** The output rows (id, dist, updated): every vertex with out-edges
    * or reached by a relax, an untouched one at INF. The patch's ids
    * are a subset of `ids`. */
  def overlay(p: SsspPatch): Iterator[Row] = {
    var j = 0
    Iterator.range(0, ids.length).flatMap { i =>
      while (j < p.ids.length && p.ids(j) < ids(i)) j += 1
      if (j < p.ids.length && p.ids(j) == ids(i)) {
        if (isSrc.get(i) || p.has(j, SsspPatch.Reached))
          Some(Row(ids(i), p.dist(j), p.has(j, SsspPatch.Updated)))
        else None
      } else if (isSrc.get(i)) Some(Row(ids(i), INF, false))
      else None
    }
  }
}

private[operators] object SsspVertices {

  /** The block of one partition's (id, is_src) pairs, which repeat an
    * id once per map task that saw it; is_src ORs. */
  def apply(pairs: Iterator[(Long, Boolean)]): SsspVertices = {
    val src = Array.newBuilder[Long]
    val sink = Array.newBuilder[Long]
    pairs.foreach { case (id, s) => if (s) src += id else sink += id }
    val s = SortedIds.distinctSorted(src.result())
    val o = SortedIds.distinctSorted(sink.result())
    val ids = Array.newBuilder[Long]
    val isSrc = new java.util.BitSet
    SortedIds.merge(s, o)(
      i => { isSrc.set(ids.length); ids += s(i) },
      j => ids += o(j),
      (i, _) => { isSrc.set(ids.length); ids += s(i) })
    new SsspVertices(ids.result(), isSrc)
  }
}

/** One partition's SSSP patch: the rows touched so far, as sorted `ids`
  * with their `dist` and `flags` ([[SsspPatch.Reached]]: a relax
  * contacted the row; [[SsspPatch.Updated]]: the last round improved
  * it, so it is in the next frontier), and `changed`, its updated-row
  * count. */
private[operators] final class SsspPatch(
    val ids: Array[Long],
    val dist: Array[Double],
    val flags: Array[Byte],
    val changed: Long)
    extends Serializable {
  def has(i: Int, flag: Byte): Boolean = (flags(i) & flag) != 0

  /** The updated rows (id, dist): the next relax's frontier. */
  def frontier: Iterator[(Long, Double)] =
    Iterator.range(0, ids.length).collect { case i if has(i, SsspPatch.Updated) => (ids(i), dist(i)) }

  /** The next patch: `cands` min-combined per key, then merged row by
    * row — a candidate below the row's dist replaces it and marks the
    * row updated; any candidate marks it reached; a new row's candidate
    * at or above INF reads INF. */
  def merge(cands: Iterator[(Long, Double)]): SsspPatch = {
    import SsspPatch.{Reached, Updated}
    val m = new LongDoubleMinMap()
    cands.foreach { case (k, v) => m.add(k, v) }
    val (cIds, cDist) = m.drainSorted()
    val nIds = new Array[Long](ids.length + cIds.length)
    val nDist = new Array[Double](nIds.length)
    val nFlags = new Array[Byte](nIds.length)
    var n = 0
    var updated = 0L
    def put(id: Long, d: Double, f: Int): Unit = {
      nIds(n) = id; nDist(n) = d; nFlags(n) = f.toByte; n += 1
      if ((f & Updated) != 0) updated += 1
    }
    SortedIds.merge(ids, cIds)(
      i => put(ids(i), dist(i), flags(i) & Reached),
      j =>
        if (cDist(j) < INF) put(cIds(j), cDist(j), Reached | Updated)
        else put(cIds(j), INF, Reached),
      (i, j) =>
        if (cDist(j) < dist(i)) put(ids(i), cDist(j), Reached | Updated)
        else put(ids(i), dist(i), Reached))
    import java.util.Arrays.copyOf
    new SsspPatch(copyOf(nIds, n), copyOf(nDist, n), copyOf(nFlags, n), updated)
  }
}

private[operators] object SsspPatch {
  val Reached: Byte = 1
  val Updated: Byte = 2
  val empty = new SsspPatch(Array.emptyLongArray, Array.emptyDoubleArray, Array.emptyByteArray, 0L)
}
