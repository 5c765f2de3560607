package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The RDD body of [[Dedup.prefixFilterPairs]]: an exact Jaccard ≥ ½
  * self-join in the three stages of Vernica, Carey & Li (SIGMOD 2010) —
  * token order, candidate generation, verification — over dictionary
  * ids. Shingle strings cross ONE exchange; every later step works on
  * `Long` ids and per-document sorted arrays, and every shuffle carries
  * a `Long` key with a `Long` or `Array[Long]` value (Kryo).
  *
  * Like the round objects ([[Rounds]]), this object declares every
  * closure it hands Spark, so the closure cleaner parses a small class
  * file and never the much larger `Dedup$`; `RoundsSpec` keeps it under
  * 64 KB.
  */
private[operators] object PrefixJoin {

  /** Pairs `doc_a < doc_b` of one lang whose distinct word-trigram sets
    * meet `2·inter ≥ uni`, with `inter`, `uni` and `jaccard_ppm`:
    *
    *   size       = one count job over `doc_id`, the first of the
    *                call's two jobs (the output is the second); the one
    *                `HashPartitioner` by [[Rounds.loopPartitions]] of the
    *                doc count
    *   dictionary = the one string exchange: (lang, shingle, doc)
    *                hash-partitioned and sorted on (lang, shingle) by
    *                Catalyst; each run of one key is one shingle, whose
    *                id `gid` is its index in the run order of its
    *                partition times the partition count plus the
    *                partition, and whose `df` is the run's length.
    *                (doc, [gid, df]) goes back by doc
    *   records    = one [[ShingleSets]] block per partition: each doc's
    *                gids ascending, and its prefix — the first
    *                `n − ⌈n/2⌉ + 1` gids in (df, gid) order. Cached:
    *                three stages read it
    *   candidates = prefix gid → (doc, n) by gid; each bucket streams
    *                its pairs that pass the size filter `2·min ≥ max`
    *                (a gid belongs to one lang, so its pairs do too)
    *   verify     = the pairs sorted by doc_a, deduplicated per doc_a,
    *                zipped with doc_a's block, sent with doc_a's gids to
    *                doc_b's partition and zipped with its block: `inter`
    *                is a sorted merge of the two gid arrays
    *
    * Rows with a null `doc_id` or `lang`, or a null text or one under 3
    * tokens (no shingles), take no part. Ids are assumed unique.
    */
  def pairs(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val nDocs = Rounds.countRows(docs.select(col("doc_id")).rdd)
    val part = new HashPartitioner(Rounds.loopPartitions(session, nDocs))
    val runs = withoutAqe(session)(
      docs
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
        .select(col("lang"), explode(Dedup.shingles(col("text"))).as("g"), col("doc_id").cast("long"))
        .repartition(part.numPartitions, col("lang"), col("g"))
        .sortWithinPartitions(col("lang"), col("g"))
        .queryExecution
        .toRdd)
    val nRuns = runs.partitions.length
    val sets = runs
      .mapPartitionsWithIndex((pid, rows) => new Postings(rows, pid, nRuns))
      .partitionBy(part)
      .mapPartitions(it => Iterator.single(ShingleSets(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = sets
      .mapPartitions(_.next().prefixes)
      .partitionBy(part)
      .mapPartitions(ShingleSets.bucketPairs)
      .repartitionAndSortWithinPartitions(part)
    val rows = cands
      .zipPartitions(sets)((pIt, sIt) => sIt.next().withLeft(pIt))
      .partitionBy(part)
      .zipPartitions(sets)((aIt, sIt) => sIt.next().verify(aIt))
    val idNullable = docs.schema("doc_id").nullable
    session.createDataFrame(
      rows,
      StructType(Seq(
        StructField("doc_a", LongType, idNullable),
        StructField("doc_b", LongType, idNullable),
        StructField("inter", LongType, nullable = false),
        StructField("uni", LongType, nullable = false),
        StructField("jaccard_ppm", LongType, nullable = true))))
  }

  /** `body` planned with adaptive execution off. An adaptive plan runs
    * its exchanges as jobs of their own as soon as `toRdd` is called;
    * a static plan leaves the string exchange a stage of the caller's
    * job. The partition count is explicit, so AQE had nothing to
    * coalesce. */
  private def withoutAqe[A](session: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = session.conf.get(key, "true")
    session.conf.set(key, "false")
    try body
    finally session.conf.set(key, prev)
  }
}

/** The dictionary pass over one partition of (lang, shingle, doc) rows
  * sorted on (lang, shingle): for each run of one key, every doc of the
  * run as (doc, [gid, df]), with `gid = local · nParts + pid` for the
  * run's index `local` in this partition and `df` the run's length.
  * Holds one run's doc ids at a time. */
private[operators] final class Postings(rows: Iterator[InternalRow], pid: Int, nParts: Int)
    extends scala.collection.AbstractIterator[(Long, Array[Long])] {
  private var docs = new Array[Long](16)
  private var n = 0
  private var i = 0
  private var gid = 0L
  private var local = 0L
  // the current key (copied: the sorter reuses its rows) and, once the
  // next run's first row is read, that row's doc
  private var lang: UTF8String = null
  private var g: UTF8String = null
  private var nextDoc = 0L
  private var hasNextDoc = false

  private def push(doc: Long): Unit = {
    if (n == docs.length) docs = java.util.Arrays.copyOf(docs, 2 * n)
    docs(n) = doc
    n += 1
  }

  /** Makes `r` the first row of the next run. */
  private def startRun(r: InternalRow): Unit = {
    lang = r.getUTF8String(0).clone()
    g = r.getUTF8String(1).clone()
    nextDoc = r.getLong(2)
    hasNextDoc = true
  }

  private def readRun(): Boolean = {
    if (!hasNextDoc) {
      if (!rows.hasNext) return false
      startRun(rows.next())
    }
    n = 0
    i = 0
    push(nextDoc)
    hasNextDoc = false
    while (!hasNextDoc && rows.hasNext) {
      val r = rows.next()
      if (r.getUTF8String(1) == g && r.getUTF8String(0) == lang) push(r.getLong(2))
      else startRun(r)
    }
    gid = local * nParts + pid
    local += 1
    true
  }

  def hasNext: Boolean = i < n || readRun()

  def next(): (Long, Array[Long]) = {
    if (!hasNext) throw new NoSuchElementException
    i += 1
    (docs(i - 1), Array(gid, n.toLong))
  }
}

/** One partition's shingle sets for [[PrefixJoin.pairs]]: sorted
  * distinct doc `ids`; doc `ids(k)`'s gids ascending in
  * `gids(offsets(k) until offsets(k + 1))`, and its prefix gids in
  * `prefix(prefixAt(k) until prefixAt(k + 1))`. */
private[operators] final class ShingleSets(
    val ids: Array[Long],
    val offsets: Array[Int],
    val gids: Array[Long],
    val prefixAt: Array[Int],
    val prefix: Array[Long])
    extends Serializable {

  private def size(k: Int): Long = (offsets(k + 1) - offsets(k)).toLong

  /** The candidate index's input: (prefix gid, [doc, n]) per prefix gid. */
  def prefixes: Iterator[(Long, Array[Long])] =
    Iterator.range(0, ids.length).flatMap { k =>
      val doc = Array(ids(k), size(k))
      Iterator.range(prefixAt(k), prefixAt(k + 1)).map(j => (prefix(j), doc))
    }

  /** The pairs (a, b) sorted by a, each a's run deduplicated, joined
    * with a's gids: (b, [a, a's gids…]) for each distinct b of a. Holds
    * one doc's candidates at a time. */
  def withLeft(pairs: Iterator[(Long, Long)]): Iterator[(Long, Array[Long])] = {
    val in = pairs.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val a = in.head._1
      val bs = new scala.collection.mutable.ArrayBuilder.ofLong
      while (in.hasNext && in.head._1 == a) bs += in.next()._2
      val k = java.util.Arrays.binarySearch(ids, a)
      val left = new Array[Long](1 + offsets(k + 1) - offsets(k))
      left(0) = a
      System.arraycopy(gids, offsets(k), left, 1, left.length - 1)
      SortedIds.distinctSorted(bs.result()).iterator.map(b => (b, left))
    }
  }

  /** The output rows of the (b, [a, a's gids…]) pairs whose b lives
    * here: `inter` by one sorted merge with b's gids, kept when
    * `2·inter ≥ uni`. */
  def verify(pairs: Iterator[(Long, Array[Long])]): Iterator[Row] =
    pairs.flatMap { case (b, left) =>
      val k = java.util.Arrays.binarySearch(ids, b)
      var i = 1
      var j = offsets(k)
      val end = offsets(k + 1)
      var inter = 0L
      while (i < left.length && j < end) {
        if (left(i) < gids(j)) i += 1
        else if (gids(j) < left(i)) j += 1
        else { inter += 1; i += 1; j += 1 }
      }
      val uni = (left.length - 1) + size(k) - inter
      if (2 * inter >= uni) Some(Row(left(0), b, inter, uni, inter * 1000000L / uni)) else None
    }
}

private[operators] object ShingleSets {

  /** The block of one partition's (doc, [gid, df]) postings. */
  def apply(postings: Iterator[(Long, Array[Long])]): ShingleSets = {
    val doc = new scala.collection.mutable.ArrayBuilder.ofLong
    val gid = new scala.collection.mutable.ArrayBuilder.ofLong
    val df = new scala.collection.mutable.ArrayBuilder.ofLong
    postings.foreach { case (d, p) => doc += d; gid += p(0); df += p(1) }
    val (ds, gs, fs) = (doc.result(), gid.result(), df.result())
    // (doc, df, gid): each doc's gids in the global token order, rarest first
    val o = SortedIds.order(ds.length) { (x, y) =>
      ds(x) < ds(y) || ds(x) == ds(y) && (fs(x) < fs(y) || fs(x) == fs(y) && gs(x) < gs(y))
    }
    val ids = Array.newBuilder[Long]
    val offsets = Array.newBuilder[Int]
    val prefixAt = Array.newBuilder[Int]
    val prefix = new scala.collection.mutable.ArrayBuilder.ofLong
    val sorted = new Array[Long](o.length)
    var s = 0
    while (s < o.length) {
      var e = s
      while (e < o.length && ds(o(e)) == ds(o(s))) { sorted(e) = gs(o(e)); e += 1 }
      val n = e - s
      ids += ds(o(s))
      offsets += s
      prefixAt += prefix.length
      // prefix length for t = 1/2: n − ⌈n/2⌉ + 1
      var j = s
      while (j < s + n - (n + 1) / 2 + 1) { prefix += sorted(j); j += 1 }
      java.util.Arrays.sort(sorted, s, e)
      s = e
    }
    offsets += o.length
    prefixAt += prefix.length
    new ShingleSets(ids.result(), offsets.result(), sorted, prefixAt.result(), prefix.result())
  }

  /** One partition of the candidate index, (gid, [doc, n]): per gid,
    * its entries by size, and every pair (min doc, max doc) that passes
    * the size filter `2·min(n) ≥ max(n)`, streamed. */
  def bucketPairs(entries: Iterator[(Long, Array[Long])]): Iterator[(Long, Long)] = {
    val gid = new scala.collection.mutable.ArrayBuilder.ofLong
    val doc = new scala.collection.mutable.ArrayBuilder.ofLong
    val size = new scala.collection.mutable.ArrayBuilder.ofLong
    entries.foreach { case (g, d) => gid += g; doc += d(0); size += d(1) }
    val (gs, ds, ns) = (gid.result(), doc.result(), size.result())
    val o = SortedIds.order(gs.length)((x, y) => gs(x) < gs(y) || gs(x) == gs(y) && ns(x) < ns(y))
    Iterator.range(0, o.length).flatMap { i =>
      val (x, g) = (o(i), gs(o(i)))
      Iterator
        .range(i + 1, o.length)
        .takeWhile(j => gs(o(j)) == g && 2 * ns(x) >= ns(o(j)))
        .map { j =>
          val y = ds(o(j))
          if (ds(x) < y) (ds(x), y) else (y, ds(x))
        }
    }
  }
}
