package graft.operators

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** The round driver of the RDD fixpoint loops, and the loop set-up they
  * share (partition count, session confs, keyed edges).
  *
  * Design rule: an RDD closure on a per-round path is declared in a
  * small object — this one, [[SsspRounds]], [[ComponentRounds]],
  * [[PeelRounds]], [[MaskRounds]] or [[RankRounds]] — never in
  * `GraphOps`. Spark's
  * closure cleaner re-reads and ASM-walks the whole class file that
  * declares a lambda, on every closure handed to an RDD op, and caches
  * nothing: one parse of the 271 KB `GraphOps$` cost ~2.8 ms, and a
  * fused SSSP round hands Spark about a dozen closures, so the parses
  * were half of a small round's driver time. `RoundsSpec` keeps each of
  * these class files under 64 KB.
  */
private[operators] object Rounds {

  /** Persist one RDD-loop round's state and cut its lineage: the
    * round's count job caches every partition, after which
    * `localCheckpoint` swaps the lineage for those cached blocks — no
    * extra job. Without the cut each round's state is a narrow child of
    * the previous round's, so the lineage and the serialized task grow
    * by one link per round until a long-diameter graph overflows the
    * stack. A cut RDD cannot be recomputed: unpersist it only once
    * nothing reads it any more (Spark throws "Checkpoint block not
    * found" otherwise).
    */
  def checkpointedRound[T](rdd: RDD[T]): RDD[T] =
    rdd.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()

  /** One job over every partition of `rdd`, `f` reducing each partition
    * on its executor; the per-partition results in partition order.
    * `SparkContext.runJob` is called with the task function itself:
    * `count`, `reduce` and `fold` wrap theirs in lambdas declared in
    * `RDD` (185 KB) and `SparkContext` (204 KB), two more class-file
    * parses by the closure cleaner per job.
    */
  def perPartition[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] =
    rdd.sparkContext.runJob(
      rdd, (_: TaskContext, it: Iterator[T]) => f(it), 0 until rdd.partitions.length)

  /** `rdd.count()` as one [[perPartition]] job. */
  def countRows(rdd: RDD[_]): Long =
    perPartition(rdd)(_.foldLeft(0L)((n, _) => n + 1L)).sum

  /** Where a [[roundLoop]] round starts: `done` rounds behind it, `left`
    * before the bound, `changed` rows changed by the last one. */
  final case class RoundAt(done: Long, left: Long, changed: Long)

  /** The one driver of the RDD fixpoint loops ([[SsspRounds.sssp]],
    * star-contraction CC ([[ComponentRounds.connectedComponents]]),
    * [[MaskRounds.maskLoopRdd]], the peels of [[PeelRounds]] (coreness,
    * the k-core and the densest-subgraph bulk peel) and the residual
    * rank forms), in the shape of the reference's driver loop
    * (`SingleSourceSP.java:439-519`): a fixed job per round, stopped by
    * a global counter. A loop state is an RDD under the loop's
    * `HashPartitioner` layout: either one row per node, keyed by node id
    * (CC, the mask loop, the rank forms), or one array-backed
    * block per partition (SSSP's patch, the peels' [[PeelBlock]]). The
    * caller passes only its algorithm:
    *
    *   round     = the next state, built LAZILY from the current one
    *               (relax, combine, merge), and the rounds it covers (a
    *               fused round covers two)
    *   changedIn = how many rows an element of the state holds that the
    *               round changed — the next frontier: 0 or 1 for a row
    *               ([[changedRows]]), a block's own count for a block
    *
    * The driver owns the rest:
    *
    *   - the round counter, bounded by `maxRounds` (a loop with a
    *     tighter bound of its own, such as SSSP's Bellman-Ford |V| − 1,
    *     passes the smaller one) and, when `untilUnchanged`, stopped
    *     after a round that changes nothing — the reference's Hadoop
    *     counter (`:473-479`);
    *   - [[checkpointedRound]] on every round's state;
    *   - the round's ONE job ([[perPartition]]): a pass over the new
    *     state summing its changed rows and, for each of the caller's
    *     `sums`, summing it over all elements (exact 64-bit sums,
    *     associative, so order-free and deterministic — unlike
    *     accumulators, which can double-count on retry; a caller with no
    *     sums pays nothing per element beyond `changedIn`);
    *   - freeing the superseded state once the new one is cut, and not
    *     before (a cut RDD cannot be recomputed); without
    *     `freeSuperseded` every state stays, for callers that read the
    *     old ones later through `after`;
    *   - the `GRAFT_LOOP_DEBUG` line per round.
    *
    * `seed` is the state before round 1 and `seedChanged` its changed
    * rows; `after(rounds, changed, sums, state)` runs after each round's
    * readout. Returns the last state, still persisted (the seed if no
    * round ran).
    */
  def roundLoop[T](
      name: String,
      seed: RDD[T],
      seedChanged: Long,
      maxRounds: Long,
      untilUnchanged: Boolean = true,
      freeSuperseded: Boolean = true)(
      changedIn: T => Long,
      sums: Seq[T => Long] = Nil,
      after: (Long, Long, Array[Long], RDD[T]) => Unit =
        (_: Long, _: Long, _: Array[Long], _: RDD[T]) => ())(
      round: (RDD[T], RoundAt) => (Long, RDD[T])): RDD[T] = {
    val debug = sys.env.contains("GRAFT_LOOP_DEBUG")
    val fs = sums.toArray
    val k = fs.length
    var state = seed
    var changed = seedChanged
    var rounds = 0L
    while (rounds < maxRounds && (changed > 0 || !untilUnchanged)) {
      val tRound = System.nanoTime()
      val (hops, next) = round(state, RoundAt(rounds, maxRounds - rounds, changed))
      val superseded = state
      state = checkpointedRound(next)
      rounds += hops
      val counts = perPartition(state) { it =>
        var c = 0L
        val s = new Array[Long](k)
        it.foreach { e =>
          c += changedIn(e)
          var i = 0
          while (i < k) { s(i) += fs(i)(e); i += 1 }
        }
        (c, s)
      }
      changed = counts.iterator.map(_._1).sum
      after(rounds, changed, Array.tabulate(k)(i => counts.iterator.map(_._2(i)).sum), state)
      if (freeSuperseded) superseded.unpersist(false)
      if (debug)
        System.err.println(
          f"[$name] round=$rounds%3d hops=$hops changed=$changed%7d " +
            f"sec=${(System.nanoTime() - tRound) / 1e9}%5.2f")
    }
    state
  }

  /** [[roundLoop]]'s `changedIn` for a state of one row per node: 1 for
    * a row whose value `isChanged`. */
  def changedRows[V](isChanged: V => Boolean): ((Long, V)) => Long =
    r => if (isChanged(r._2)) 1L else 0L

  /** Loop shuffle parallelism: ≈100k edges per partition, floor 4,
    * capped at the session's configured shuffle partitions. At cluster
    * scale the cap always wins (the configured parallelism is sized to
    * the data); locally this stops a 15k-row state from paying 32-task
    * scheduling overhead per round — the dominant cost of small
    * iterative graphs. [[PrefixJoin]] sizes its partitioner by the same
    * rule, per document.
    */
  def loopPartitions(session: SparkSession, nEdges: Long): Int = {
    val configured = session.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(4, math.min(configured, (nEdges / 100000L + 1L).toInt))
  }

  /** Run `body` with loop-tuned session confs — shuffle parallelism set
    * to `parts`, AQE partition coalescing off (a coalesced output
    * partitioning can't be reused by the next round's joins, which would
    * force a state re-exchange per round) — restoring the caller's confs
    * on exit. The confs act on the DataFrame steps only: the loops still
    * planned by Catalyst and the edge and seed preparation of the RDD
    * loops, whose rounds take `parts` from their `HashPartitioner`.
    */
  private def withLoopConfs[A](session: SparkSession, parts: Int)(body: => A): A = {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevShuffle = session.conf.get(shuffleKey, "200")
    val prevCoalesce = session.conf.get(coalesceKey, "true")
    session.conf.set(shuffleKey, parts.toString)
    session.conf.set(coalesceKey, "false")
    try body
    finally {
      session.conf.set(shuffleKey, prevShuffle)
      session.conf.set(coalesceKey, prevCoalesce)
    }
  }

  /** The loop partitioner of `edges`: [[loopPartitions]] sized from
    * |E| × `copies` (2 for a loop over both directions of every edge).
    * Costs the edges.count job. */
  def loopPartitioner(edges: DataFrame, copies: Long): HashPartitioner =
    new HashPartitioner(loopPartitions(edges.sparkSession, edges.count() * copies))

  /** Every loop's prelude: runs `body` under [[withLoopConfs]] with the
    * [[loopPartitioner]] of `edges`, whose `numPartitions` is also the
    * loop's DataFrame shuffle parallelism. */
  def inLoop[A](edges: DataFrame, copies: Long = 1L)(body: HashPartitioner => A): A = {
    val part = loopPartitioner(edges, copies)
    withLoopConfs(edges.sparkSession, part.numPartitions)(body(part))
  }

  /** The edge list keyed on `src` under `part`, persisted, with `value`
    * of the `dst` end. `value` is applied after the exchange: a shuffle
    * of bare (Long, Long) pairs runs on Kryo, one of nested tuples on
    * Java serialization. */
  def keyedEdges[E: ClassTag](edges: DataFrame, part: HashPartitioner)(
      value: Long => E): RDD[(Long, E)] =
    edges
      .select(col("src"), col("dst"))
      .rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .partitionBy(part)
      .mapValues(value)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** A non-null BIGINT schema with the columns `names`. */
  def longSchema(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** `iters` rounds of `step` from `seed` on [[roundLoop]], one row per
    * round: `round`, then the nodes that `changed` and each of `sums`
    * over all nodes, named `columns` — the A4 convergence readout of the
    * fixed-round centralities. The loop state is a node's (score before
    * the round, score after it): the new scores join the current state
    * narrowly (both under the loop partitioner), and the driver's one
    * readout job per round yields every figure. No early stop and no
    * |V| bound: a round that changes nothing reports its zeros, and so
    * does every round on an empty graph.
    */
  def residualRounds[X: ClassTag](
      session: SparkSession,
      name: String,
      seed: RDD[(Long, X)],
      iters: Int,
      columns: String*)(
      changed: (X, X) => Boolean,
      sums: ((X, X) => Long)*)(step: RDD[(Long, X)] => RDD[(Long, X)]): DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    roundLoop(name, seed.mapValues(x => (x, x)), 0L, iters, untilUnchanged = false)(
      changedRows((v: (X, X)) => changed(v._1, v._2)),
      sums.map(f => (r: (Long, (X, X))) => f(r._2._1, r._2._2)),
      (r, c, s, _) => rows += Row.fromSeq(r +: c +: s.toSeq)) { (cur, _) =>
      (1L, cur.join(step(cur.mapValues(_._2))).mapValues { case ((_, x), y) => (x, y) })
    }.unpersist(false)
    session.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), longSchema("round" +: columns: _*))
  }
}
