package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Parity

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Four families, each with the partition/shuffle shape it would need at
  * 100 TB:
  *   - exact:    one hash-aggregate on the content key (map-side partial
  *               count, single shuffle on the key);
  *   - MinHash:  shingle→signature→band→bucket self-join (the only
  *               shuffle is on the (band, value) bucket key, so candidate
  *               generation is linear-ish, never all-pairs);
  *   - SimHash:  40-bit fingerprint, banded into 10-bit chunks for the
  *               bucket join, exact Hamming verify after;
  *   - n-gram Jaccard: exact verify path, blocked on a cheap key so the
  *               pair space stays bounded.
  *
  * No reference counterpart (the reference is a graph engine); these are
  * the driver-mandated north-star extensions (BASELINE.json).
  */
object Dedup {

  /** Exact content dedup: canonical doc id (min) + multiplicity per
    * distinct text. The aggregation key leads with the 40-bit content
    * fingerprint ([[TextOps.fingerprints]]' fp40): map-side partial
    * aggregation collapses duplicate documents before the exchange, and
    * the hash partitioner sees the fingerprint first, so the shuffle
    * carries one row per DISTINCT document. The full text stays in the
    * key only to keep the result exact under fingerprint collisions —
    * at 100 TB with a 128-bit content hash the text column drops out of
    * the key entirely (collision odds ≪ data-corruption odds); same
    * plan shape either way.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(Parity.fp40(col("text")).as("fp40"), col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  val MinhashK = 16
  // 2 bands × 8 rows: candidate threshold (1/b)^(1/r) ≈ 0.92 — tuned for
  // near-duplicate detection (loose banding on high-overlap corpora floods
  // the bucket join with ~half of all pairs).
  val MinhashBands = 2
  val MinhashR = 8

  /** Per-doc MinHash signature (K=16) over word-token codes.
    *
    * Physical shape: ONE narrow map — the single-pass
    * [[graft.functions.MinHashSig]] kernel folds the K min-slots over
    * the token-code array per document, where the document already
    * lives. No explode, no shuffle, no K-wide aggregate. (Earlier
    * explode+K-min-aggregate and pure-Column-array forms both lose:
    * the aggregate form shuffles a row per token, and the array form
    * re-inlines the token hash into every slot — Catalyst has no CSE
    * across interpreted higher-order functions.)
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // coalesce: a null text still gets the empty-doc signature (all
      // BigP), as the explode_outer aggregate form produced
      graft.functions.MinHashSig(
        coalesce(
          graft.functions.TokenCodes(Parity.splitWords(col("text"))),
          array().cast("array<long>")),
        MinhashK).as("sig"))

  /** MinHash-LSH candidate pairs: docs sharing at least one of
    * [[MinhashBands]] bands of [[MinhashR]] rows (2 bands of 8).
    * The self-join runs on the (band_idx, band_val) bucket key —
    * the scalable shape (no all-pairs comparison ever materializes).
    * Output additionally carries the estimated Jaccard (fraction of
    * matching signature positions).
    */
  def minhashCandidates(docs: DataFrame): DataFrame =
    bandedSelfJoin(docs)
      // dedup (band collisions ≤ MinhashBands per pair) BEFORE scoring:
      // the signature compare is an interpreted array fold per row, so it
      // runs on the distinct pairs, not on every collision. The sig
      // arrays ride the distinct shuffle (128 bytes/row, functionally
      // dependent on the pair key).
      .dropDuplicates("doc_a", "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        round(
          aggregate(
            zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L),
            (acc, x) => acc + x).cast("double") / MinhashK,
          6).as("est_jaccard"))

  /** Connectivity-preserving MinHash-LSH candidate pairs for
    * [[clusters]]: within each (band, value) bucket, every member pairs
    * with the bucket's MINIMUM doc id — a star per bucket instead of
    * the clique [[minhashCandidates]] emits. The transitive closure is
    * identical (all bucket members connect through the minimum, and
    * clustering only consumes the closure — the unchanged
    * dedup_clusters oracle still computes it from the full clique), but
    * a bucket of n docs emits n−1 pairs instead of n(n−1)/2: candidate
    * generation for clustering is LINEAR per bucket, the shape that
    * survives a near-duplicate-heavy corpus at 100 TB. No signature
    * columns are carried at all.
    */
  def minhashCandidatePairs(docs: DataFrame): DataFrame = {
    // plain materialized (NOT hashedBy): this path's per-bucket work is
    // linear (star pairs), so the extra layout exchange costs more than
    // the serial probe it prevents — measured 0.6 s vs 1.2 s at sf0.1
    val banded = Phys.materialized(bandRows(minhashSignatures(docs)).drop("sig"))
    val mins = banded
      .groupBy(col("band_idx"), col("band_val"))
      .agg(min(col("doc_id")).as("doc_a"))
    banded
      .join(mins, Seq("band_idx", "band_val"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Cross-source near-duplication matrix: for every unordered pair of
    * sources, how many MinHash-LSH candidate pairs ([[minhashCandidates]]'
    * clique — pair COUNTS are the contract here, so the star contraction
    * of [[minhashCandidatePairs]] would undercount) straddle them, and
    * the mean estimated Jaccard of those pairs. The report a curation
    * pipeline reads to find which crawls/feeds are re-serving each
    * other's content — the source-level rollup of the pair list, small
    * enough to eyeball (|sources|² rows) however large the corpus.
    *
    * Determinism: the mean is computed from the INTEGER count of
    * matching signature positions (sum over pairs, one division at the
    * end) — never a float sum, so engine-dependent double association
    * order can't flip a low bit.
    *
    * Scale shape: the banded self-join bounds candidate generation by
    * bucket as everywhere else; the two source lookups are equi-joins on
    * doc_id (dim-like projection of the corpus — at 100 TB a (doc_id,
    * source) projection is pruned to two thin columns at the scan);
    * the final aggregate is map-side partial on a tiny key space.
    */
  def sourceDupMatrix(docs: DataFrame): DataFrame = {
    val pairs = bandedSelfJoin(docs)
      .dropDuplicates("doc_a", "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L),
          (acc, x) => acc + x).as("n_match"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("n_match"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(
          sum(col("n_match")).cast("double") / (count(lit(1)) * MinhashK).cast("double"),
          6).as("mean_est_jaccard"))
  }

  /** Incremental (nightly-ingest) dedup: score each INCOMING document
    * (doc_id >= `firstNewId`) against the EXISTING corpus
    * (doc_id < `firstNewId`) — exact content match plus MinHash-LSH
    * near-match count and the earliest matching store doc. The
    * asymmetric shape production pipelines actually run: the store side
    * is a pre-computed fingerprint/signature table that persists between
    * batches, and each night's batch joins against it instead of
    * re-self-joining the whole corpus.
    *
    * Scale shape: the exact check is an equi-join keyed on the 40-bit
    * content fingerprint (text kept alongside only to stay exact under
    * collisions); the near check is an equi-join of the batch's band
    * rows against the store's band rows on the (band, value) bucket key —
    * at 100 TB the store bands are a bucketed table, so the nightly join
    * shuffles ONLY the incoming batch; per-new-doc aggregates are keyed
    * on the new doc id.
    */
  def incremental(docs: DataFrame, firstNewId: Long): DataFrame = {
    val banded = Phys.materialized(bandRows(minhashSignatures(docs)).drop("sig"))
    val near = banded
      .filter(col("doc_id") >= firstNewId)
      .select(col("doc_id").as("new_id"), col("band_idx"), col("band_val"))
      .join(
        banded
          .filter(col("doc_id") < firstNewId)
          .select(col("doc_id").as("old_id"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .select(col("new_id"), col("old_id"))
      .distinct()
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_near"), min(col("old_id")).as("near_canon"))
    val keyed = docs.select(col("doc_id"), Parity.fp40(col("text")).as("fp"), col("text"))
    val exactDup = keyed
      .filter(col("doc_id") >= firstNewId)
      .join(
        keyed.filter(col("doc_id") < firstNewId).select(col("fp"), col("text")).distinct(),
        Seq("fp", "text"),
        "left_semi")
      .select(col("doc_id").as("new_id"), lit(true).as("exact_dup"))
    docs
      .filter(col("doc_id") >= firstNewId)
      .select(col("doc_id").as("new_id"))
      .join(exactDup, Seq("new_id"), "left_outer")
      .join(near, Seq("new_id"), "left_outer")
      .select(
        col("new_id").as("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("near_canon"))
  }

  /** Ensemble dedup verdict — the per-document read of the whole
    * near-dup stack BEFORE clustering: each family flags the
    * HIGHER-id side of its qualifying pairs (the smaller id is the
    * canonical survivor, the [[clusters]] convention), and `keep` is
    * the conjunction. One row per document:
    * `(doc_id, exact_dup, minhash_dup, simhash_dup, ngram_dup, keep)`
    * — the audit that shows WHICH detector fires where the families
    * disagree (exact misses paraphrase, MinHash misses short docs,
    * SimHash misses re-orderings), which is the reason pipelines run
    * several.
    *
    * Thresholds: minhash est-Jaccard ≥ 0.5 (the rounded
    * matching-position fraction `round(matches/K, 6)` compared against
    * 0.5 in both engines — with K = [[MinhashK]] the fraction is a
    * multiple of 1/K, so the 6-dp rounding can never straddle the
    * threshold and the compare is equivalent to the integer
    * `2·matches ≥ K`), simhash Hamming ≤
    * [[SimhashMaxHamming]], n-gram Jaccard ≥ 0.5. Each family keeps
    * its own bucketed physical shape; the verdict adds three left-semi
    * probes and a narrow projection.
    */
  def verdict(docs: DataFrame): DataFrame = {
    val exactDup = docs
      .select(col("doc_id"), col("text"))
      .join(
        docs.groupBy(col("text").as("t")).agg(min(col("doc_id")).as("min_id")),
        col("text") <=> col("t"))
      .filter(col("doc_id") =!= col("min_id"))
      .select(col("doc_id"))
    val mhDup = minhashCandidates(docs)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id"))
    val shDup = simhashCandidates(docs, SimhashMaxHamming)
      .select(col("doc_b").as("doc_id"))
    val ngDup = ngramJaccardPairs(docs)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id"))
    def flag(dups: DataFrame, name: String): DataFrame =
      dups.distinct().select(col("doc_id"), lit(true).as(name))
    docs
      .select(col("doc_id"))
      .join(flag(exactDup, "exact_dup"), Seq("doc_id"), "left_outer")
      .join(flag(mhDup, "minhash_dup"), Seq("doc_id"), "left_outer")
      .join(flag(shDup, "simhash_dup"), Seq("doc_id"), "left_outer")
      .join(flag(ngDup, "ngram_dup"), Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("minhash_dup"), lit(false)).as("minhash_dup"),
        coalesce(col("simhash_dup"), lit(false)).as("simhash_dup"),
        coalesce(col("ngram_dup"), lit(false)).as("ngram_dup"),
        (!(coalesce(col("exact_dup"), lit(false)) ||
          coalesce(col("minhash_dup"), lit(false)) ||
          coalesce(col("simhash_dup"), lit(false)) ||
          coalesce(col("ngram_dup"), lit(false)))).as("keep"))
  }

  /** Cross-MODALITY ensemble verdict — [[verdict]] extended with the
    * media and embedding detectors: per document, which of SIX
    * families flags it as the higher-id side of a qualifying pair —
    * the four text detectors (exact / MinHash / SimHash / n-gram),
    * the perceptual-hash media detector
    * ([[Multimodal.phashDedup]] over the binary-payload stand-in), and
    * the SemDeDup embedding detector ([[semanticDedup]], which
    * catches paraphrases sharing no shingle at all). `keep` is the
    * conjunction. This is the full which-detector-fires audit a
    * curation team reads: exact misses paraphrase, MinHash misses
    * short docs, SimHash misses re-orderings, pHash only sees the
    * media column, semantic only the embedding geometry.
    *
    * The harness embedding table is document-aligned (`vec_id` =
    * `doc_id` row-for-row), so the semantic flag joins straight on
    * the id; a corpus with its own vector-id space would pass the
    * (doc_id, vec_id) bridge table through the same join.
    *
    * Scale shape: each family keeps its own bucketed/cell-blocked
    * physical plan (nothing here adds an all-pairs term); the verdict
    * itself is six narrow left joins on doc_id.
    */
  def verdictMultimodal(
      docs: DataFrame,
      embs: DataFrame,
      minCosine: Double = 0.4,
      corpusKey: String = ""): DataFrame = {
    val text = verdict(docs).drop("keep")
    val phDup = Multimodal
      .phashDedup(docs)
      .select(col("b_id").as("doc_id"))
      .distinct()
      .select(col("doc_id"), lit(true).as("phash_dup"))
    val semDup = semanticDedup(embs, minCosine, corpusKey)
      .filter(col("is_dup"))
      .select(col("vec_id").as("doc_id"), lit(true).as("semantic_dup"))
    val flags = Seq("exact_dup", "minhash_dup", "simhash_dup", "ngram_dup",
      "phash_dup", "semantic_dup")
    text
      .join(phDup, Seq("doc_id"), "left_outer")
      .join(semDup, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id") +:
          flags.map(f => coalesce(col(f), lit(false)).as(f)) :+
          (!flags.map(f => coalesce(col(f), lit(false))).reduce(_ || _)).as("keep"): _*)
  }

  /** Persist the banded MinHash signature index — the text-side
    * index-once/probe-many artifact (the BM25/pHash stored-index
    * discipline applied to near-dup candidates): one row per
    * (doc, band) with the full signature attached, written
    * band-bucket-joinable as-is.
    */
  def writeMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): String = {
    val dir = graft.sources.Staging.freshDir("minhash-index")
    bandRows(minhashSignatures(docs)).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Probe arriving documents against the STORED band index: signature
    * + bands for the probes only (one narrow map over the arrivals),
    * candidates from band-bucket collisions against the artifact scan,
    * each candidate scored by exact signature agreement (matching
    * minhash components out of [[MinhashK]] — the unbiased Jaccard
    * estimate), best match per probe by `max(struct(m, −old))` — no
    * window. Probes with no collision keep a zero row. The plan never
    * re-signs or re-bands the indexed corpus — only the artifact scan.
    */
  def minhashProbeStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      indexDir: String,
      firstNewId: Long): DataFrame = {
    val idx = spark.read.parquet(indexDir)
    val probes = Phys.materialized(
      bandRows(minhashSignatures(docs.filter(col("doc_id") >= firstNewId))))
    val m = aggregate(
      zip_with(col("sig_n"), col("sig_o"), (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L),
      (acc, x) => acc + x)
    val best = probes
      .select(
        col("doc_id").as("new_id"),
        col("sig").as("sig_n"),
        col("band_idx"),
        col("band_val"))
      .join(
        idx.select(
          col("doc_id").as("old_id"),
          col("sig").as("sig_o"),
          col("band_idx"),
          col("band_val")),
        Seq("band_idx", "band_val"))
      .select(col("new_id"), col("old_id"), m.as("m"))
      .distinct()
      .groupBy(col("new_id"))
      .agg(
        count(lit(1)).as("n_cand"),
        max(struct(col("m"), (-col("old_id")).as("no"))).as("sel"))
      .select(
        col("new_id"),
        col("n_cand"),
        (-col("sel.no")).as("best_old"),
        col("sel.m").as("match_k"))
    docs
      .filter(col("doc_id") >= firstNewId)
      .select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select(
        col("new_id").as("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_old"),
        coalesce(col("match_k"), lit(0L)).as("match_k"))
  }

  /** Single-document point probe of the STORED band index — the
    * interactive production API next to `ann_ivf_query`/
    * `text_bm25_query`: ONE runtime document (a literal string, e.g.
    * an ingest request or a moderation lookup) is signed and banded by
    * one narrow map over one row, the 2-row band key set is BROADCAST
    * into a bucket-keyed probe of the artifact, and each colliding
    * index entry is scored by exact signature agreement (the unbiased
    * Jaccard estimate). Top-k by `(n_match DESC, doc_id)`.
    *
    * The plan never re-signs, re-bands, or even re-reads the indexed
    * corpus — only the artifact's (band_idx, band_val) buckets the
    * probe's two keys hit. At 100 TB with a bucket-partitioned index
    * this is a 2-bucket point read per request.
    */
  /** The full-corpus band index as a [[ModelCache]] artifact: built once
    * per corpus (key = caller-supplied corpus identity), served by every
    * later probe in this or any other process — the index lifecycle a
    * point-lookup API actually has (the per-query
    * [[writeMinhashIndex]]/Staging form demonstrates build+probe in one
    * plan; this one is the steady state). Data-scale artifact: written
    * with its natural partitioning, never coalesced.
    */
  def minhashIndexCached(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      corpusKey: String): String =
    ModelCache.dir(s"minhash-band-index|$corpusKey|K=$MinhashK,b=$MinhashBands,r=$MinhashR",
      singleFile = false)(bandRows(minhashSignatures(docs)))

  def minhashProbeOne(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queryText: String,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val idx = spark.read.parquet(indexDir)
    val probe = bandRows(minhashSignatures(Seq((-1L, queryText)).toDF("doc_id", "text")))
      .select(col("sig").as("sig_n"), col("band_idx"), col("band_val"))
    val m = aggregate(
      zip_with(col("sig_n"), col("sig_o"), (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L),
      (acc, x) => acc + x)
    broadcast(probe)
      .join(
        idx.select(col("doc_id"), col("sig").as("sig_o"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .select(col("doc_id"), m.as("n_match"))
      // a doc colliding on both bands appears twice with the same score
      .groupBy(col("doc_id"))
      .agg(max(col("n_match")).as("n_match"))
      .select(
        col("doc_id"),
        col("n_match"),
        round(col("n_match").cast("double") / MinhashK, 6).as("est_jaccard"))
      .orderBy(col("n_match").desc, col("doc_id"))
      .limit(k)
  }

  /** [[bandRows]] over fresh signatures with the signature column
    * dropped — the narrow `(doc_id, band_idx, band_val)` map a
    * streaming index maintainer computes per arrival (pure column
    * expressions, no shuffle).
    */
  def minhashBandRows(docs: DataFrame): DataFrame =
    bandRows(minhashSignatures(docs)).drop("sig")

  /** One row per (doc, band): `(doc_id, sig, band_idx, band_val)`. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      col("sig"),
      posexplode(
        array((0 until MinhashBands).map(i => Parity.bandVal(col("sig"), i, MinhashR)): _*))
        .as(Seq("band_idx", "band_val")))

  /** Shared banded self-join: one collision row per (pair, band) with
    * both signatures attached. The self-join runs on the (band_idx,
    * band_val) bucket key — the scalable shape (no all-pairs comparison
    * ever materializes).
    */
  private def bandedSelfJoin(docs: DataFrame): DataFrame = {
    // materialized + hash-laid-out on the bucket key (the phash
    // discipline): the self-join below would otherwise recompute the
    // whole signature pipeline on both sides, AND — locally, where the
    // docs scan is one split — probe the broadcast build side from a
    // single-partition checkpoint, serializing every bucket pair compare
    // onto one task
    val banded = Phys.materializedHashedBy(
      bandRows(minhashSignatures(docs)),
      Seq("band_idx", "band_val"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(
        b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"),
        col("b.sig").as("sig_b"))
  }

  val SimhashChunks = 4
  val SimhashChunkBits = 10

  /** Default near-dup Hamming cutoff (out of [[graft.functions.Parity.SimBits]]). */
  val SimhashMaxHamming = 10

  /** Persist the chunked SimHash index — the Hamming-ball counterpart
    * of [[writeMinhashIndex]]: one row per (doc, chunk) with the full
    * 40-bit fingerprint attached (pigeonhole: any pair within
    * [[SimhashMaxHamming]] ≤ bits/chunks · (chunks−1) shares at least
    * one exact chunk, so the bucket join is recall-complete for the
    * cutoff).
    */
  /** Per-doc SimHash chunk rows `(doc_id, chunk_idx, chunk_val)` — the
    * narrow stateless map a streaming index maintainer computes per
    * arrival ([[minhashBandRows]]' Hamming-family counterpart).
    */
  def simhashChunkRows(docs: DataFrame): DataFrame =
    simhashes(docs)
      .select(
        col("doc_id"),
        posexplode(array((0 until SimhashChunks).map { i =>
          shiftright(col("simhash"), i * SimhashChunkBits)
            .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
        }: _*)).as(Seq("chunk_idx", "chunk_val")))

  def writeSimhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): String = {
    val dir = graft.sources.Staging.freshDir("simhash-index")
    simhashes(docs)
      .select(
        col("doc_id"),
        col("simhash"),
        posexplode(array((0 until SimhashChunks).map { i =>
          shiftright(col("simhash"), i * SimhashChunkBits)
            .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
        }: _*)).as(Seq("chunk_idx", "chunk_val")))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Probe arrivals against the STORED SimHash chunk index: fingerprint
    * + chunks for the probes only, candidates from exact-chunk bucket
    * collisions against the artifact, exact Hamming verification, best
    * (lowest-distance, then lowest-id) match per probe as a min-struct
    * hash aggregate. Probes with no near match keep a sentinel row
    * (hamming −1).
    */
  def simhashProbeStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      indexDir: String,
      firstNewId: Long,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val idx = spark.read.parquet(indexDir)
    val probes = Phys.materialized(
      simhashes(docs.filter(col("doc_id") >= firstNewId))
        .select(
          col("doc_id"),
          col("simhash"),
          posexplode(array((0 until SimhashChunks).map { i =>
            shiftright(col("simhash"), i * SimhashChunkBits)
              .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
          }: _*)).as(Seq("chunk_idx", "chunk_val"))))
    val best = probes
      .select(
        col("doc_id").as("new_id"),
        col("simhash").as("sh_n"),
        col("chunk_idx"),
        col("chunk_val"))
      .join(
        idx.select(
          col("doc_id").as("old_id"),
          col("simhash").as("sh_o"),
          col("chunk_idx"),
          col("chunk_val")),
        Seq("chunk_idx", "chunk_val"))
      .select(
        col("new_id"),
        col("old_id"),
        bit_count(col("sh_n").bitwiseXOR(col("sh_o"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("new_id"))
      .agg(min(struct(col("hamming"), col("old_id"))).as("sel"))
      .select(col("new_id"), col("sel.old_id").as("best_old"), col("sel.hamming").as("hamming"))
    docs
      .filter(col("doc_id") >= firstNewId)
      .select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select(
        col("new_id").as("doc_id"),
        col("best_old"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"))
  }

  /** The full-corpus SimHash chunk index as a [[ModelCache]] artifact —
    * [[minhashIndexCached]]'s Hamming-family twin: built once per
    * corpus, served by every later probe in any process. Data-scale:
    * natural partitioning, never coalesced.
    */
  def simhashIndexCached(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      corpusKey: String): String =
    ModelCache.dir(
      s"simhash-chunk-index|$corpusKey|chunks=$SimhashChunks,bits=$SimhashChunkBits",
      singleFile = false)(
      simhashes(docs)
        .select(
          col("doc_id"),
          col("simhash"),
          posexplode(array((0 until SimhashChunks).map { i =>
            shiftright(col("simhash"), i * SimhashChunkBits)
              .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
          }: _*)).as(Seq("chunk_idx", "chunk_val"))))

  /** Single-document Hamming point probe of the STORED chunk index —
    * [[minhashProbeOne]]'s SimHash twin: ONE runtime document
    * fingerprinted by one narrow map, its [[SimhashChunks]] chunk keys
    * broadcast into a bucket-keyed probe of the artifact, candidates
    * Hamming-verified exactly (pigeonhole-complete for distances ≤
    * `maxHamming`), nearest-first top-k. The indexed corpus is never
    * re-fingerprinted or re-read outside the probed buckets.
    */
  def simhashProbeOne(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queryText: String,
      maxHamming: Int = SimhashMaxHamming,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val idx = spark.read.parquet(indexDir)
    val probe = simhashes(Seq((-1L, queryText)).toDF("doc_id", "text"))
      .select(
        col("simhash").as("sh_n"),
        posexplode(array((0 until SimhashChunks).map { i =>
          shiftright(col("simhash"), i * SimhashChunkBits)
            .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
        }: _*)).as(Seq("chunk_idx", "chunk_val")))
    broadcast(probe)
      .join(
        idx.select(
          col("doc_id"),
          col("simhash").as("sh_o"),
          col("chunk_idx"),
          col("chunk_val")),
        Seq("chunk_idx", "chunk_val"))
      .select(
        col("doc_id"),
        bit_count(col("sh_n").bitwiseXOR(col("sh_o"))).cast("long").as("hamming"))
      // the same doc can collide on several chunks — one row per doc
      .groupBy(col("doc_id"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming"), col("doc_id"))
      .limit(k)
  }

  /** Per-doc 40-bit SimHash fingerprint over 3-gram shingle features.
    * Shingles, not single tokens: token-level features of a small shared
    * vocabulary are nearly identical across documents, which makes every
    * SimHash collide and floods the banded candidate join; shingles carry
    * ordering and decorrelate the fingerprints.
    *
    * Physical shape: ONE narrow map — the single-pass
    * [[graft.functions.SimHash40]] kernel folds all 40 bit-votes over
    * the shingle-hash array per document (same rationale as
    * [[minhashSignatures]]: the earlier explode + 40-sum aggregate
    * shuffled a row per shingle and compiled ~9 s of generated
    * aggregate code per session).
    */
  def simhashes(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.SimHash40(
        coalesce(
          graft.functions.ShingleH40s(Parity.splitWords(col("text")), distinct = true),
          array().cast("array<long>")))
        .as("simhash"))

  /** SimHash near-dup candidate pairs: 40-bit fingerprints banded into
    * four 10-bit chunks; docs sharing any chunk are candidates; exact
    * Hamming distance attached for the verify step.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhashes(docs)
    // hash-laid-out on the bucket key — see bandedSelfJoin
    val chunked = Phys.materializedHashedBy(
      sh.select(
        col("doc_id"),
        col("simhash"),
        posexplode(array((0 until SimhashChunks).map { i =>
          shiftright(col("simhash"), i * SimhashChunkBits)
            .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
        }: _*)).as(Seq("chunk_idx", "chunk_val"))),
      Seq("chunk_idx", "chunk_val"))
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(
        b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private[operators] def shingles(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.ShingleStrings(Parity.splitWords(text), distinct = true)

  /** Document-frequency cap for the inverted shingle index: shingles
    * contained in more than this many documents (within a lang block)
    * are dropped from candidate generation AND from the Jaccard sets.
    * Standard near-dup practice: a shingle shared by thousands of
    * documents ("terms of service") carries no duplicate signal, and its
    * bucket's pair-emit cost is quadratic in its document frequency —
    * at 100 TB a single boilerplate trigram would otherwise emit ~10^18
    * pairs. With the cap every bucket emits ≤ maxDf² pairs.
    */
  val MaxShingleDf = 50L

  /** Exact n-gram Jaccard pairs within a `lang` block, for pairs sharing
    * at least one sub-ubiquitous 3-gram shingle (document frequency ≤
    * `maxDf` in the lang block; [[MaxShingleDf]]). Jaccard is computed
    * over the CAPPED shingle sets — both sides of a pair drop the same
    * ubiquitous shingles, so the score stays a true set Jaccard of the
    * discriminative shingles (mirrored exactly in the oracle CTE).
    *
    * Physical plan is a DF-capped inverted shingle index: explode
    * distinct shingles, drop hot shingles (one extra hash-aggregate on
    * the (lang, shingle) key, map-side partial), self-join on
    * (lang, shingle), then aggregate per pair. Never forms the blocked
    * all-pairs cross product, and no bucket exceeds maxDf rows — the
    * two properties that make this survive 100 TB.
    */
  def ngramJaccardPairs(docs: DataFrame, maxDf: Long = MaxShingleDf): DataFrame = {
    // materialized: both the DF aggregate and the semi-join probe read
    // the exploded index — one shingle pass over the corpus, not two
    val inv0 = Phys.materialized(
      docs.select(col("doc_id"), col("lang"), explode(shingles(col("text"))).as("g")))
    // Shingles are distinct within a doc, so count(*) per (lang, g) IS
    // the shingle's document frequency in the block.
    val keep = inv0
      .groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("lang"), col("g"))
    // hash-laid-out on the shingle bucket key — see bandedSelfJoin
    val inv = Phys.materializedHashedBy(
      inv0.join(keep, Seq("lang", "g"), "left_semi"), Seq("lang", "g"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    // Each shared kept shingle joins exactly once per pair: count(*) IS
    // |A ∩ B| over the capped sets, and |A ∪ B| = |A| + |B| − inter.
    // No per-pair set operations at all.
    val inter = a
      .join(
        b,
        col("a.lang") === col("b.lang") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
  }

  /** Minimum max-side containment for [[containmentPairs]]. */
  val ContainmentT = 0.2

  /** Directional shingle-containment pairs (Broder 1997's containment,
    * the asymmetric companion of [[ngramJaccardPairs]]): for pairs
    * sharing a sub-ubiquitous shingle, `cont_a = |A∩B|/|A|` and
    * `cont_b = |A∩B|/|B|` over the DF-capped shingle sets, kept when
    * either side ≥ [[ContainmentT]]. Catches what Jaccard misses — a
    * short document quoted inside a long one scores
    * `cont_short ≈ 1` while its Jaccard `≈ |short|/|long|` stays
    * under any symmetric threshold.
    *
    * Same physical shape as the Jaccard pairs (capped inverted index,
    * bucket-keyed self-join, per-pair count aggregate — never an
    * all-pairs product, every bucket ≤ maxDf rows).
    */
  def containmentPairs(
      docs: DataFrame,
      maxDf: Long = MaxShingleDf,
      minCont: Double = ContainmentT): DataFrame = {
    val inv0 = Phys.materialized(
      docs.select(col("doc_id"), col("lang"), explode(shingles(col("text"))).as("g")))
    val keep = inv0
      .groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("lang"), col("g"))
    // hash-laid-out on the shingle bucket key — see bandedSelfJoin
    val inv = Phys.materializedHashedBy(
      inv0.join(keep, Seq("lang", "g"), "left_semi"), Seq("lang", "g"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    val inter = a
      .join(
        b,
        col("a.lang") === col("b.lang") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("inter"),
        round(col("inter").cast("double") / col("na"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("nb"), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
  }

  /** EXACT set-similarity join with PREFIX FILTERING (Chaudhuri, Ganti &
    * Kaushik, ICDE 2006; the candidate-generation core of PPJoin, Xiao
    * et al. WWW 2008): all pairs with shingle Jaccard ≥ 1/2, with NO
    * df cap and NO loss — the provably complete pruning, where
    * [[ngramJaccardPairs]]' [[MaxShingleDf]] cap trades recall on
    * ubiquitous shingles for bounded buckets.
    *
    * The theorem: order every document's shingles by one global order
    * (ascending document frequency, rarest first, ties on any fixed
    * key); if `J(A,B) ≥ t` then A and B must share a shingle among
    * each one's first `|d| − ⌈t·|d|⌉ + 1` shingles (skipping all of
    * A's prefix means the overlap fits in the suffix, which is too
    * small). So only PREFIX shingles enter the inverted index: a
    * boilerplate trigram shared by millions of documents is — by being
    * ubiquitous — last in the df order and lands in almost no prefix,
    * so its bucket never explodes. The size filter
    * `2·min(|A|,|B|) ≥ max(|A|,|B|)` (t rational → integer-exact)
    * prunes cross-size candidates before verification.
    *
    * Plan ([[PrefixJoin.pairs]]): the shingle strings cross ONE
    * exchange, sorted on (lang, shingle), where each shingle gets a
    * `Long` id and its df; from then on a document is a sorted id array
    * in one block per partition. Candidates come from an exchange of the
    * prefix ids only; the pairs are deduplicated by a sort-based
    * exchange on `doc_a`, and each carries doc_a's ids to doc_b's
    * partition, where `inter` is one sorted merge. Ties in the df order
    * break on the id, not the string: any global order keeps the
    * filter complete, and verification is exact, so the pairs are the
    * same. The acceptance test is the integer compare `2·inter ≥ uni`
    * and `jaccard_ppm` is exact integer ppm. Two jobs: a count that
    * sizes the partitioner, and the output. Cost is one shuffle of the
    * shingle rows, then Σ_doc |prefix| ids for the candidate index and
    * Σ_cand |A| ids for verification — proportional to the
    * (prefix-pruned) candidate count, never to a hot bucket's square.
    */
  def prefixFilterPairs(docs: DataFrame): DataFrame = PrefixJoin.pairs(docs)

  /** [[prefixFilterPairs]] mirrored: the same output rows. The df order
    * breaks ties on the shingle string here and on a shingle id there, so
    * the two may pick different prefixes for a doc, but the filter is
    * complete under any order and verification is exact; the prefix
    * length, size filter and integer acceptance are the same.
    */
  def prefixFilterPairsSql(): String = {
    val toks = graft.functions.Parity.tokensSql("text")
    val shingleSql = graft.functions.Parity.shinglesSql("t")
    s"""WITH sh AS (
       |  SELECT doc_id, lang, $shingleSql AS s
       |  FROM (SELECT doc_id, lang, $toks AS t FROM documents)),
       |inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
       |dfs AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS df FROM inv GROUP BY lang, g),
       |ranked AS (
       |  SELECT i.doc_id, i.lang, i.g,
       |         CAST(count(*) OVER (PARTITION BY i.doc_id) AS BIGINT) AS n_sh,
       |         CAST(row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.g) AS BIGINT) AS rk
       |  FROM inv i JOIN dfs d ON d.lang = i.lang AND d.g = i.g),
       |prefix AS (
       |  SELECT doc_id, lang, g, n_sh FROM ranked
       |  WHERE rk <= n_sh - (n_sh + 1) // 2 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.n_sh AS na, b.n_sh AS nb
       |  FROM prefix a JOIN prefix b
       |    ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
       |   AND 2 * least(a.n_sh, b.n_sh) >= greatest(a.n_sh, b.n_sh)),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b, c.na, c.nb, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN inv va ON va.doc_id = c.doc_a
       |  JOIN inv vb ON vb.doc_id = c.doc_b AND vb.g = va.g
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, inter, CAST(na + nb - inter AS BIGINT) AS uni,
       |       inter * 1000000 // (na + nb - inter) AS jaccard_ppm
       |FROM ver WHERE 2 * inter >= na + nb - inter""".stripMargin
  }

  /** Candidate pairs → deduplication clusters → canonical-doc selection:
    * the step that turns "find near-duplicate pairs" into "deduplicate
    * the corpus" (what a training-data pipeline actually runs).
    *
    * The pair list is treated as an undirected graph and resolved with
    * [[GraphOps.connectedComponents]] (large-star/small-star
    * contraction — near-dup clusters can chain A~B~C where A and C
    * share no bucket, so transitive closure, not per-pair grouping, is
    * required). Every corpus doc appears in the output: docs with no
    * candidate pair are their own singleton cluster. `cluster` is the
    * minimum doc_id of the component — the canonical survivor; a
    * downstream keep-filter is `is_canonical`.
    */
  def clusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // materialize the pair list ONCE: star-CC counts its edge input
    // (parallelism sizing) and then reads it again into its seed
    // adjacency — an unmaterialized candidate pipeline would be
    // re-evaluated per use
    val e = Phys.materialized(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), lit(1.0).as("w")))
    val cc = GraphOps.connectedComponents(e)
    docs
      .select(col("doc_id"))
      .join(cc, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      .withColumn("is_canonical", col("cluster") === col("doc_id"))
  }

  /** Embedding-cosine near-duplicate pairs blocked on the REAL ANN
    * buckets ([[Similarity.buckets]]' multi-table sign-LSH): pairs are
    * candidates when they collide in any hash table, scored exactly,
    * deduplicated across tables, thresholded. This is the form
    * [[embeddingNearDups]]' `label` blocking stands in for — no label
    * column needed, and the pair space is per-bucket quadratic at any
    * corpus size.
    */
  def embeddingNearDupsLsh(embs: DataFrame, minCosine: Double): DataFrame = {
    val b = Phys.materialized(Similarity.buckets(embs))
    val a = b.alias("a")
    val c = b.alias("b")
    a.join(
        c,
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(Parity.cosine(col("a.e"), col("b.e")), 6).as("cos"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Near-dup threshold tuning table: pair and flagged-document counts
    * at each candidate cosine threshold, computed in ONE pass — the
    * scored pair table materializes once at the loosest threshold and
    * each row is two aggregates over it. This is the table a curation
    * team reads to pick the dedup threshold (how much of the corpus
    * does 0.9 vs 0.95 actually remove?) before committing to a sweep
    * over 100 TB.
    */
  def nearDupThresholdSweep(embs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    val pairs = Phys.materialized(embeddingNearDupsLsh(embs, minCosine = thresholds.min))
    thresholds
      .map { t =>
        val p = pairs.filter(col("cos") >= t)
        p.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(
            p.select(explode(array(col("vec_a"), col("vec_b"))).as("id"))
              .agg(count_distinct(col("id")).as("n_flagged")))
          .select(lit(t).as("threshold"), col("n_pairs"), col("n_flagged"))
      }
      .reduce(_.unionByName(_))
  }

  /** Exact-substring duplicate spans (the span-level dedup of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — there suffix-array-based; here re-expressed
    * relationally): every maximal run of word-3-gram positions whose
    * gram recurs ANYWHERE in the corpus, reported as
    * (doc_id, span_start, span_end, n_grams) over 1-based token indices
    * (a gram at position p covers tokens p..p+2). Real pipelines cut or
    * down-weight these spans — boilerplate, licenses, templated text.
    *
    * Scale shape: gram extraction is one narrow map (the positions ride
    * along, no join back to the text); the per-gram corpus count is a
    * window over the gram-hash exchange, so the corpus is tokenized and
    * shuffled ONCE (the aggregate-then-join alternative costs a second
    * full gram pass just to rebuild the positions); span assembly is the
    * gaps-and-islands trick — pos minus per-doc rank is constant within
    * a consecutive run — one window + one aggregate, both keyed on
    * doc_id with O(doc positions) state. Per-gram-hash window state is
    * bounded by the hottest gram's occurrence count, fine at 100 TB
    * (a gram that hot is boilerplate the pipeline cuts anyway).
    */
  def dupSpans(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(
        col("doc_id"),
        posexplode(Parity.shinglesAll(Parity.tokens(col("text")))).as(Seq("p0", "gram")))
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("pos"),
        Parity.tokenH40(col("gram")).as("h"))
    // per-gram corpus count as a WINDOW over the single gram pass — the
    // aggregate-then-join form computes the gram set twice (once per
    // side); this shuffles it once on h, filters in place, and moves on
    // to the doc_id exchange the islands window needs anyway
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams
      .withColumn("n", count(lit(1)).over(wh))
      .filter(col("n") > 1)
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w).cast("long"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + 2).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** [[dupSpans]], mirrored: same grams, same 40-bit hash, same
    * gaps-and-islands assembly.
    */
  def dupSpansSql(): String = {
    val toks = Parity.tokensSql("text")
    val h = Parity.tokenH40Sql("gs[CAST(pos AS INT)]")
    s"""WITH tok AS (SELECT doc_id, $toks AS ts FROM documents),
       |g AS (SELECT doc_id, ${Parity.shinglesAllSql("ts")} AS gs FROM tok),
       |gram AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, $h AS h
       |  FROM (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM g)),
       |dup AS (SELECT h FROM gram GROUP BY h HAVING count(*) > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM gram JOIN dup USING (h)),
       |sp AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end,
       |         CAST(count(*) AS BIGINT) AS n_grams
       |  FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, span_start, span_end, n_grams FROM sp""".stripMargin
  }

  /** Per-document duplicated-token ratio — the scalar [[dupSpans]] rolls
    * up to, and the number a curation pipeline actually thresholds
    * ("drop docs more than X% duplicated"). A token is duplicated if ANY
    * duplicated 3-gram covers it, so overlapping gram windows are
    * counted once: each duplicated gram at position p expands to tokens
    * {p, p+1, p+2}, distinct-ed per doc before counting. The 1e-9 nudge
    * before rounding keeps small-integer quotients that land exactly on
    * round-half boundaries on the same side in both engines.
    *
    * Scale shape: [[dupSpans]]' gram/dup-set plan plus a 3× explode of
    * only the DUPLICATED positions (bounded by doc length), one distinct
    * and one count keyed on doc_id.
    */
  def dupTokenRatio(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(
        col("doc_id"),
        posexplode(Parity.shinglesAll(Parity.tokens(col("text")))).as(Seq("p0", "gram")))
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("pos"),
        Parity.tokenH40(col("gram")).as("h"))
    // same single-pass windowed count as [[dupSpans]]
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val covered = grams
      .withColumn("n", count(lit(1)).over(wh))
      .filter(col("n") > 1)
      .select(col("doc_id"), explode(array(col("pos"), col("pos") + 1, col("pos") + 2)).as("t"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_tokens"))
    docs
      .select(col("doc_id"), size(Parity.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(
          coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double") + 1e-9,
          6).as("dup_ratio"))
  }

  /** [[dupTokenRatio]], mirrored. */
  def dupTokenRatioSql(): String = {
    val toks = Parity.tokensSql("text")
    val h = Parity.tokenH40Sql("gs[CAST(pos AS INT)]")
    s"""WITH tok AS (SELECT doc_id, $toks AS ts FROM documents),
       |g AS (SELECT doc_id, ${Parity.shinglesAllSql("ts")} AS gs FROM tok),
       |gram AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, $h AS h
       |  FROM (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM g)),
       |dup AS (SELECT h FROM gram GROUP BY h HAVING count(*) > 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + o AS t
       |  FROM (SELECT doc_id, pos FROM gram JOIN dup USING (h))
       |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS o)),
       |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |       coalesce(p.dup_tokens, 0) AS dup_tokens,
       |       round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) /
       |             CAST(greatest(len(t.ts), 1) AS DOUBLE) + 1e-9, 6) AS dup_ratio
       |FROM tok t LEFT JOIN per p USING (doc_id)""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs, blocked on `label` (stand-in
    * for an ANN bucket at scale — see [[embeddingNearDupsLsh]] for the
    * real-bucket form), cosine computed in deterministic sequential order
    * and rounded before thresholding.
    */
  def embeddingNearDups(embs: DataFrame, minCosine: Double): DataFrame = {
    val d = embs.select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    val a = d.alias("a")
    val b = d.alias("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(Parity.cosine(col("a.e"), col("b.e")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** How many k-means cells [[semanticDedup]] partitions the corpus
    * into. More cells than the IVF default: the cell is the dedup
    * BLOCK, and per-cell pair work is (|V|/cells)² — the knob that
    * keeps the quadratic term bounded as the corpus grows (SemDeDup
    * uses 11k clusters for 100M embeddings for the same reason).
    */
  val SemanticCells = 64

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are clustered by the deterministic
    * fixed-point Lloyd quantizer ([[Similarity.kmeansFixed]]), and
    * near-duplicates are detected only WITHIN a cluster — the cluster
    * plays the candidate-block role that LSH bands play for MinHash,
    * but driven by the embedding geometry itself, so paraphrases land
    * in the same block even when they share no shingle. Within a
    * cluster, a document is a duplicate iff some LOWER-id member has
    * cosine ≥ `minCosine` — the deterministic id-order form of
    * SemDeDup's keep-one-representative policy. Output: one row per
    * vector (vec_id, cluster, is_dup, max_cos), max_cos = the best
    * qualifying earlier-member cosine (−2 when none — below any real
    * cosine).
    *
    * Scale shape: training is the broadcast Lloyd (corpus never
    * shuffled on a non-key); assignment is one broadcast argmax pass;
    * the pair stage shuffles each vector ONCE on its cell id and the
    * per-cell self-join is bounded by (|V|/[[SemanticCells]])² — grow
    * cells with the corpus to hold the block size constant. No
    * all-pairs term anywhere.
    */
  /** The PAIR form of [[semanticDedup]]'s evidence — within-cell
    * qualifying cosine pairs `(doc_a, doc_b)` with a < b — so the
    * embedding detector can feed transitive clustering next to the
    * shingle- and media-keyed pair families. Same cell blocking, same
    * threshold semantics; per-cell quadratic, never all-pairs.
    */
  def semanticDedupPairs(
      embs: DataFrame,
      minCosine: Double,
      corpusKey: String = ""): DataFrame = {
    val assigned =
      Similarity.invertedLists(embs, Similarity.kmeansCached(embs, Dedup.SemanticCells, corpusKey))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.n_id") < col("b.n_id"))
      .select(
        col("a.n_id").as("doc_a"),
        col("b.n_id").as("doc_b"),
        round(Parity.cosine(col("a.ne"), col("b.ne")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Cross-MODALITY dedup clusters: ONE transitive closure over the
    * union of all three pair families — MinHash star pairs (text),
    * pHash banded pairs (media), and semantic within-cell pairs
    * (embedding geometry) — so a chain A~B (text) ~ C (media) ~ D
    * (paraphrase) collapses to one canonical survivor, which is what
    * a curation pipeline actually deduplicates on when the same
    * content re-enters as a re-encode, a quote, and a paraphrase.
    * Every corpus doc appears (singletons are their own cluster);
    * `is_canonical` is the keep filter.
    *
    * Scale shape: each family keeps its bucketed/cell-blocked
    * candidate generation; the union is a narrow distinct on the pair
    * key; the closure is [[GraphOps.connectedComponents]]'
    * O(log d)-round large-star/small-star contraction.
    */
  def clustersMultimodal(
      docs: DataFrame,
      embs: DataFrame,
      minCosine: Double = 0.4,
      corpusKey: String = ""): DataFrame = {
    val pairs = minhashCandidatePairs(docs)
      .unionByName(
        Multimodal
          .phashDedup(docs)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
      .unionByName(semanticDedupPairs(embs, minCosine, corpusKey))
      .distinct()
    clusters(docs, pairs)
  }

  /** Canonical-SURVIVOR selection per near-dup cluster: [[clusters]]'
    * transitive closure picks the component, but a curation pipeline
    * keeps the BEST document of each component, not the lowest id —
    * here the [[TextOps.quality]] argmax (ties broken toward the lower
    * doc id, so the choice is total and deterministic). This is the
    * table the keep-filter actually consumes: every doc annotated with
    * its cluster, the cluster's survivor, and whether it IS the
    * survivor.
    *
    * Scale shape: the cluster∞quality join is doc_id-keyed; the argmax
    * is one hash aggregate on the cluster key — `max(struct(quality,
    * −doc_id))`, map-side partial, no window over the corpus — and the
    * survivor table (one row per cluster) joins back on the same
    * cluster key, reusing the exchange. Nothing here is quadratic in
    * cluster size.
    */
  def survivors(docs: DataFrame): DataFrame = {
    val cl = clusters(docs, minhashCandidatePairs(docs))
      .select(col("doc_id"), col("cluster"))
    val q = graft.operators.TextOps.quality(docs).select(col("doc_id"), col("quality"))
    val j = Phys.materialized(cl.join(q, Seq("doc_id")))
    val surv = j
      .groupBy(col("cluster"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster"), (-col("b.nid")).as("survivor_id"))
    j.join(surv, Seq("cluster"))
      .select(
        col("doc_id"),
        col("cluster"),
        col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("is_survivor"),
        col("quality"))
  }

  /** Paragraph granularity for [[paragraphDedup]]: non-overlapping
    * character windows (the harness corpus has no newline structure; a
    * real corpus splits on blank lines and feeds the same shape). */
  val ParaChars = 64

  /** Paragraph-level exact dedup, the CCNet shape (Wenzek 2020: dedup at
    * paragraph granularity removes boilerplate that document-level
    * hashing can't see): every document is split into fixed
    * [[ParaChars]]-char paragraphs, and a paragraph INSTANCE survives
    * iff it is the globally FIRST occurrence of its content — first in
    * (doc_id, chunk_idx) order, one `min(struct(..))` per distinct
    * paragraph. Output is the per-document audit: paragraph count,
    * duplicated-paragraph count and ratio, and the characters a
    * paragraph-dedup'd rewrite would keep.
    *
    * Scale shape: one hash aggregate keyed by paragraph content
    * (map-side partial min — duplicate-heavy corpora collapse before
    * the exchange), one equi-join back on the same content key, one
    * doc-keyed rollup. At 100 TB the content key would be a 128-bit
    * content hash instead of the raw string (CCNet uses the hash too);
    * the plan shape is identical.
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = Phys.materialized(
      graft.operators.TextOps.chunk(docs, ParaChars, ParaChars))
    val owners = paras
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("o"))
    paras
      .join(owners, Seq("chunk"))
      .select(
        col("doc_id"),
        col("chunk_chars"),
        (col("doc_id") === col("o.doc_id") && col("chunk_idx") === col("o.chunk_idx"))
          .as("kept"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(col("kept"), col("chunk_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn(
        "dup_para_ratio",
        round(col("n_dup_paras").cast("double") / col("n_paras").cast("double"), 6))
  }

  /** Bucket-occupancy cap for [[minhashCompact]]: buckets past this are
    * retired from candidate generation — the [[MaxShingleDf]] /
    * [[Multimodal.PhashBucketCap]] discipline applied to the served
    * index itself. */
  val CompactBucketCap = 50L

  /** INDEX COMPACTION — the maintenance step that closes the stored-index
    * lifecycle (write → streaming upsert → compact): the base band index
    * ([[writeMinhashIndex]], corpus slice `doc_id < firstNewId`) merges
    * with the arrival delta (`doc_id >= firstNewId`, signed with the
    * same stateless narrow map the streaming upsert uses), per-bucket
    * occupancy is recomputed over the union, and buckets past
    * [[CompactBucketCap]] are RETIRED — a bucket that keeps growing is
    * boilerplate, not a duplicate family, and at candidate-generation
    * time it only adds fan-out. The compacted artifact is rewritten
    * inside the query (the stored-family pattern of paying the write
    * in-plan); the RESULT is the per-bucket audit a maintainer reads:
    * occupancy, arrival share, kept/retired.
    *
    * Scale shape: the base rows come from the artifact scan (the corpus
    * is never re-signed); the delta is one narrow map over the ingest
    * slice; occupancy is one hash aggregate on the bucket key
    * (map-side partial) and the artifact rewrite reuses the same key
    * for its equi-join — no all-pairs term anywhere.
    */
  def minhashCompact(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      firstNewId: Long): DataFrame = {
    val idxDir = writeMinhashIndex(spark, docs.filter(col("doc_id") < firstNewId))
    val base = spark.read
      .parquet(idxDir)
      .select(col("doc_id"), col("band_idx").cast("int").as("band_idx"), col("band_val"))
    val delta = minhashBandRows(docs.filter(col("doc_id") >= firstNewId))
      .select(col("doc_id"), col("band_idx").cast("int").as("band_idx"), col("band_val"))
    val merged = Phys.materialized(base.unionByName(delta))
    val audit = merged
      .groupBy(col("band_idx"), col("band_val"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") >= firstNewId, 1L).otherwise(0L)).as("n_new"))
      .withColumn("kept", col("n_docs") <= lit(CompactBucketCap))
    val outDir = graft.sources.Staging.freshDir("minhash-compact")
    merged
      .join(audit.filter(col("kept")).select(col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .write.mode("overwrite").parquet(outDir)
    audit.select(col("band_idx"), col("band_val"), col("n_docs"), col("n_new"), col("kept"))
  }

  /** Block size cap for [[erBlockedPairs]]: a blocking key hotter than
    * this is skipped entirely (its pairs are uninformative anyway — the
    * key no longer discriminates), bounding per-block work at cap²
    * exactly like [[MaxShingleDf]] bounds shingle buckets. */
  val ErBlockCap = 1000L

  /** Entity-resolution candidate generation, the classic two-stage
    * shape (Fellegi–Sunter blocking + string-similarity verify): records
    * first group on a cheap BLOCKING key (nation × market segment), then
    * only WITHIN-block pairs pay the edit-distance compare —
    * `levenshtein ≤ maxDist` — never the |R|² cross product. Both
    * engines ship the same classic Wagner–Fischer unit-cost
    * levenshtein, so the verify stage is integer-exact cross-engine.
    *
    * Scale shape: one hash aggregate for block sizes, blocks above
    * [[ErBlockCap]] dropped (logged in the audit column of the size
    * table, not silently — the cap IS the skew guard), then one
    * equi-join on the block key whose per-block fan-out is bounded by
    * cap². At 100 TB the blocking key sharpens (more columns) rather
    * than the cap rising — standard ER practice.
    *
    * Output: matched pairs `(cust_a, cust_b, dist)`.
    */
  def erBlockedPairs(customer: DataFrame, maxDist: Int = 2): DataFrame = {
    val c = customer.select(
      col("c_custkey").as("id"),
      col("c_name").as("name"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"))
    val sizes = c.groupBy(col("nat"), col("seg")).agg(count(lit(1)).as("n"))
    val ok = c.join(
      broadcast(sizes.filter(col("n") <= ErBlockCap).select(col("nat"), col("seg"))),
      Seq("nat", "seg"))
    // spread the PROBE side across the session's shuffle partitions on
    // the block key: locally the customer scan is one split, so the
    // planner's broadcast self-join ran every within-block pair compare
    // on ONE task (plan-verified; measured the whole stage serial).
    // The exchange moves only thin (nat, seg, id, name) rows, and at
    // scale it is exactly the block-key partitioning a sort-merge plan
    // of this join would install anyway — reused, never wasted
    // (guide §2.5 input skew, §3.1 deliberate join shape). The count is
    // EXPLICIT because AQE coalesces a keyless-count repartition of a
    // KB-sized input back to one partition — the fan-out here is pair
    // GENERATION work per row, invisible to byte-based coalescing.
    val parts = customer.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val a = ok.repartition(parts, col("nat"), col("seg")).alias("a")
    val b = ok.alias("b")
    a.join(
        b,
        col("a.nat") === col("b.nat") && col("a.seg") === col("b.seg") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("cust_a"),
        col("b.id").as("cust_b"),
        // bounded-threshold kernel: O(maxDist·len) early-abandon per
        // pair instead of the O(len²) full DP — returns −1 past the
        // bound, identical distances within it, so the oracle's plain
        // levenshtein(...) <= maxDist predicate is unchanged
        levenshtein(col("a.name"), col("b.name"), maxDist).cast("long").as("dist"))
      // `dist != -1` ⟺ the old `dist >= 0 AND dist <= maxDist` (the
      // threshold kernel returns −1 past the bound, 0..maxDist within) —
      // but with ONE reference to the column: Catalyst substitutes the
      // alias when it pushes this filter into the join condition, and a
      // two-conjunct predicate evaluated the levenshtein TWICE per
      // candidate pair there (plus once in the project — plan-verified
      // 3 evals/pair; guide §4.4's duplicated-expression trap, reached
      // without any UDF)
      .filter(col("dist") =!= -1L)
  }

  /** [[erBlockedPairs]] mirrored. */
  def erBlockedPairsSql(maxDist: Int = 2): String =
    s"""WITH c AS (SELECT c_custkey AS id, c_name AS name,
       |                  CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg
       |           FROM customer),
       |bs AS (SELECT nat, seg FROM c GROUP BY 1, 2 HAVING count(*) <= $ErBlockCap),
       |ok AS (SELECT c.* FROM c JOIN bs ON c.nat = bs.nat AND c.seg = bs.seg)
       |SELECT a.id AS cust_a, b.id AS cust_b,
       |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
       |FROM ok a JOIN ok b ON a.nat = b.nat AND a.seg = b.seg AND a.id < b.id
       |WHERE levenshtein(a.name, b.name) <= $maxDist""".stripMargin

  /** Fellegi–Sunter agreement-pattern lift (Fellegi & Sunter 1969, "A
    * Theory for Record Linkage"): FS scores a candidate pair by how much
    * more often its field-agreement pattern occurs than CHANCE predicts
    * (the m/u ratio). This operator measures that ratio label-free on
    * nation-blocked customer pairs over two comparison fields (market
    * segment, account-balance band): observed pattern counts come from
    * the within-block pair join; the chance expectation uses each
    * block's exact value histograms — P(field agrees by chance in block
    * b) = Σ_v C(n_v,2) / C(n_b,2) — combined under FS's conditional-
    * independence assumption. `lift_ppm` ≈ 1e6 means the fields
    * co-agree no more than chance (no linkage signal); a pattern with
    * lift ≫ 1e6 is the one whose agreement weight would dominate an FS
    * decision rule.
    *
    * All-integer: ppm probabilities with a fixed division order, so
    * both engines produce identical counts and lifts.
    *
    * Scale shape: the pair join is block-keyed and [[ErBlockCap]]-capped
    * (Σ n_b² bounded, never |R|²); histograms are two hash aggregates;
    * expectations are 4 rows per block. Same bounded-block discipline
    * as [[erBlockedPairs]].
    *
    * Output: 4 rows `(seg_eq, band_eq, n_pairs, n_expected, lift_ppm)`,
    * lift NULL where the expectation is zero.
    */
  def erAgreementLift(customer: DataFrame): DataFrame = {
    val c = customer.select(
      col("c_custkey").as("id"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 1000.0d).cast("long").as("band"))
    val okn = broadcast(
      c.groupBy(col("nat"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") <= ErBlockCap && col("n") > 1L)
        .select(col("nat"), expr("n * (n - 1) div 2").as("pairs")))
    val ok = Phys.materialized(c.join(okn.select(col("nat")), Seq("nat")))
    // same probe-side spread as erBlockedPairs (explicit count — AQE
    // would coalesce the KB-sized exchange): the checkpointed `ok`
    // inherits the single-split customer scan's partitioning, so the
    // broadcast self-join's ~n²/2 within-block compares otherwise run
    // on one task
    val parts = customer.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val a = ok.repartition(parts, col("nat")).alias("a")
    val b = ok.alias("b")
    val obs = a
      .join(b, col("a.nat") === col("b.nat") && col("a.id") < col("b.id"))
      .select(
        (col("a.seg") === col("b.seg")).cast("long").as("seg_eq"),
        (col("a.band") === col("b.band")).cast("long").as("band_eq"))
      .groupBy(col("seg_eq"), col("band_eq"))
      .agg(count(lit(1)).as("n_pairs"))
    def agrPairs(field: String, out: String) = ok
      .groupBy(col("nat"), col(field))
      .agg(count(lit(1)).as("nv"))
      .groupBy(col("nat"))
      .agg(sum(expr("nv * (nv - 1) div 2")).as(out))
    val pr = okn
      .join(agrPairs("seg", "aps"), Seq("nat"))
      .join(agrPairs("band", "apb"), Seq("nat"))
      .select(
        col("nat"),
        col("pairs"),
        expr("1000000 * aps div pairs").as("as_ppm"),
        expr("1000000 * apb div pairs").as("ab_ppm"))
    val exp = pr
      .select(
        col("nat"),
        expr("""stack(4,
          1L, 1L, pairs * (as_ppm * ab_ppm div 1000000) div 1000000,
          1L, 0L, pairs * (as_ppm * (1000000 - ab_ppm) div 1000000) div 1000000,
          0L, 1L, pairs * ((1000000 - as_ppm) * ab_ppm div 1000000) div 1000000,
          0L, 0L, pairs * ((1000000 - as_ppm) * (1000000 - ab_ppm) div 1000000) div 1000000)
          AS (seg_eq, band_eq, n_exp)"""))
      .groupBy(col("seg_eq"), col("band_eq"))
      .agg(sum(col("n_exp")).as("n_expected"))
    exp
      .join(obs, Seq("seg_eq", "band_eq"), "left_outer")
      .select(
        col("seg_eq"),
        col("band_eq"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("n_expected"),
        when(col("n_expected") === 0L, lit(null).cast("long"))
          .otherwise(expr("1000000 * coalesce(n_pairs, 0L) div n_expected"))
          .as("lift_ppm"))
  }

  /** [[erAgreementLift]] mirrored: identical capped blocks, value
    * histograms, and ppm division order.
    */
  def erAgreementLiftSql(): String =
    s"""WITH c AS (
       |  SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
       |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
       |  FROM customer),
       |sizes AS (SELECT nat, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY nat),
       |okn AS (SELECT nat, n * (n - 1) // 2 AS pairs FROM sizes WHERE n <= $ErBlockCap AND n > 1),
       |ok AS (SELECT c.* FROM c JOIN okn USING (nat)),
       |obs AS (
       |  SELECT CAST(a.seg = b.seg AS BIGINT) AS seg_eq,
       |         CAST(a.band = b.band AS BIGINT) AS band_eq,
       |         CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM ok a JOIN ok b ON a.nat = b.nat AND a.id < b.id
       |  GROUP BY 1, 2),
       |hs AS (SELECT nat, CAST(sum(nv * (nv - 1) // 2) AS BIGINT) AS aps
       |       FROM (SELECT nat, seg, CAST(count(*) AS BIGINT) AS nv FROM ok GROUP BY nat, seg)
       |       GROUP BY nat),
       |hb AS (SELECT nat, CAST(sum(nv * (nv - 1) // 2) AS BIGINT) AS apb
       |       FROM (SELECT nat, band, CAST(count(*) AS BIGINT) AS nv FROM ok GROUP BY nat, band)
       |       GROUP BY nat),
       |pr AS (
       |  SELECT o.nat, o.pairs,
       |         1000000 * hs.aps // o.pairs AS as_ppm,
       |         1000000 * hb.apb // o.pairs AS ab_ppm
       |  FROM okn o JOIN hs ON hs.nat = o.nat JOIN hb ON hb.nat = o.nat),
       |exp AS (
       |  SELECT seg_eq, band_eq, CAST(sum(n_exp) AS BIGINT) AS n_expected FROM (
       |    SELECT nat, CAST(1 AS BIGINT) AS seg_eq, CAST(1 AS BIGINT) AS band_eq,
       |           pairs * (as_ppm * ab_ppm // 1000000) // 1000000 AS n_exp FROM pr
       |    UNION ALL SELECT nat, 1, 0,
       |           pairs * (as_ppm * (1000000 - ab_ppm) // 1000000) // 1000000 FROM pr
       |    UNION ALL SELECT nat, 0, 1,
       |           pairs * ((1000000 - as_ppm) * ab_ppm // 1000000) // 1000000 FROM pr
       |    UNION ALL SELECT nat, 0, 0,
       |           pairs * ((1000000 - as_ppm) * (1000000 - ab_ppm) // 1000000) // 1000000 FROM pr)
       |  GROUP BY 1, 2)
       |SELECT e.seg_eq, e.band_eq, coalesce(o.n_pairs, 0) AS n_pairs, e.n_expected,
       |       CASE WHEN e.n_expected = 0 THEN NULL
       |            ELSE 1000000 * coalesce(o.n_pairs, 0) // e.n_expected END AS lift_ppm
       |FROM exp e LEFT JOIN obs o ON o.seg_eq = e.seg_eq AND o.band_eq = e.band_eq""".stripMargin

  /** Measured precision/recall of the MinHash estimator on its own
    * candidate set: every LSH candidate pair's estimated Jaccard
    * ([[minhashCandidates]]) is compared against the EXACT Jaccard of
    * the same token-code sets the signature sketches, both thresholded
    * at 0.5 — the detector-quality readout that tells a curation owner
    * how much the K=[[MinhashK]] sketch misclassifies near the
    * threshold. (Banding recall loss — true pairs sharing no band — is
    * deliberately out of frame: this measures the ESTIMATOR on the
    * candidates, the quantity that K controls.)
    *
    * Scale shape: exact intersections are computed ONLY for candidate
    * pairs (pair-key joins fanned by document token counts), never an
    * all-pairs term; set sizes are one narrow map over the corpus.
    * Pairs with two empty token sets are identical by convention.
    *
    * Output: one row `(n_cand, tp, fp, fn, tn, precision_ppm,
    * recall_ppm)` — NULL ppm when the denominator class is empty.
    */
  def minhashPrecision(docs: DataFrame): DataFrame = {
    val codes = coalesce(
      graft.functions.TokenCodes(Parity.splitWords(col("text"))),
      array().cast("array<long>"))
    val cand = Phys.materialized(minhashCandidates(docs))
    val toks = Phys.materialized(
      docs.select(col("doc_id"), explode(array_distinct(codes)).as("c")))
    val sizes = docs.select(col("doc_id"), size(array_distinct(codes)).cast("long").as("n"))
    val inter = cand
      .select(col("doc_a"), col("doc_b"))
      .join(toks.select(col("doc_id").as("doc_a"), col("c")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("c")), Seq("doc_b", "c"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left_outer")
      .withColumn("i", coalesce(col("i"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(
        (col("est_jaccard") >= 0.5).as("pred"),
        when(col("na") + col("nb") - col("i") === 0L, lit(true))
          .otherwise(
            round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6) >= 0.5)
          .as("truth"))
      .agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("pred") && col("truth"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("truth"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("truth"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L)).as("tn"))
      .select(
        col("n_cand"),
        col("tp"),
        col("fp"),
        col("fn"),
        col("tn"),
        when(col("tp") + col("fp") === 0L, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div (tp + fp)"))
          .as("precision_ppm"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div (tp + fn)"))
          .as("recall_ppm"))
  }

  /** Banding grid for [[lshScurve]] — every (bands, rows) factoring of
    * the K=[[MinhashK]] signature. */
  val LshGrid = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** MinHash-LSH banding S-CURVE (Leskovec–Rajaraman–Ullman, Mining of
    * Massive Datasets §3.4.2): for every (b bands × r rows) factoring
    * of the K-slot signature and every signature-match count k seen in
    * the shipped candidate set, the EXACT candidate probability
    * `1 − (1 − s^r)^b` at `s = k/K` — the table that picks the banding
    * before a 100 TB dedup run (slide the curve's knee onto the
    * similarity you must catch), next to the measured pair histogram
    * of the config actually shipped ([[MinhashBands]]×[[MinhashR]]).
    *
    * The probability is computed as the exact rational
    * `(K^rb − (K^r − k^r)^b) · 10^6 div K^rb` — the engine folds a
    * driver-side BigInt table (85 rows) as a broadcast literal join,
    * the oracle re-derives the same integers independently via
    * HUGEINT multiplication chains, so the gate cross-checks two
    * arbitrary-precision implementations of the closed form, not one
    * formula pasted twice.
    *
    * Scale shape: the measured side is the banded candidate join
    * (bucket-bounded as everywhere) collapsed to a ≤ K+1-row match
    * histogram; the analytic side is |grid|·(K+1) rows of driver
    * arithmetic. Output is at most |grid|·(K+1) rows.
    *
    * Output: `(bands, rows_per_band, k_match, n_pairs, collide_micro)`
    * for every k present in the shipped candidate set.
    */
  def lshScurve(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val byK = minhashCandidates(docs)
      .groupBy(
        expr(s"CAST(round(est_jaccard * $MinhashK) AS BIGINT)").as("k_match"))
      .agg(count(lit(1)).as("n_pairs"))
    val curve = LshGrid
      .flatMap { case (b, r) =>
        (0 to MinhashK).map { k =>
          val den = BigInt(MinhashK).pow(r * b)
          val num = den - (BigInt(MinhashK).pow(r) - BigInt(k).pow(r)).pow(b)
          (b.toLong, r.toLong, k.toLong, (BigInt(1000000) * num / den).toLong)
        }
      }
      .toDF("bands", "rows_per_band", "k_match", "collide_micro")
    byK
      .join(broadcast(curve), Seq("k_match"))
      .select(
        col("bands"),
        col("rows_per_band"),
        col("k_match"),
        col("n_pairs"),
        col("collide_micro"))
  }

  /** Entity resolution completed: [[erBlockedPairs]]' verified matches
    * closed transitively into ENTITIES (a chain A~B~C is one customer
    * record three ways), every source record annotated with its entity
    * id (the component minimum — singletons are their own entity), the
    * entity size, and the canonical-record flag. This is the table a
    * master-data pipeline actually merges on — pairs alone under-merge
    * chains.
    *
    * Scale shape: candidate pairs stay block-capped
    * ([[erBlockedPairs]]); the closure is the O(log d)-round star
    * contraction ([[graft.operators.GraphOps.connectedComponents]])
    * over the (typically tiny) match-pair graph; the annotate/size
    * steps are id- and entity-keyed joins. Nothing quadratic beyond
    * the capped blocks.
    *
    * Output: one row per customer `(id, entity, n_members,
    * is_canonical)`.
    */
  def erClusters(customer: DataFrame, maxDist: Int = 2): DataFrame = {
    // materialized: the levenshtein verify join must run ONCE — the
    // star-contraction loop (and the two consumers of `ent` below)
    // would otherwise re-execute it per round / per branch
    val pairs = Phys.materialized(
      erBlockedPairs(customer, maxDist)
        .select(col("cust_a").as("src"), col("cust_b").as("dst")))
    val comp = graft.operators.GraphOps
      .connectedComponents(pairs)
      .select(col("id"), col("component"))
    val ent = Phys.materialized(
      customer
        .select(col("c_custkey").cast("long").as("id"))
        .join(comp, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("entity")))
    val sizes = ent.groupBy(col("entity")).agg(count(lit(1)).as("n_members"))
    ent
      .join(sizes, Seq("entity"))
      .select(
        col("id"),
        col("entity"),
        col("n_members"),
        (col("id") === col("entity")).as("is_canonical"))
  }

  /** [[erClusters]] mirrored: the blocked-pair SQL, a recursive
    * min-label reach for the closure, singletons via the left join.
    */
  def erClustersSql(maxDist: Int = 2): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT cust_a, cust_b FROM (${erBlockedPairsSql(maxDist)})),
       |und AS MATERIALIZED (
       |  SELECT cust_a AS s, cust_b AS d FROM pairs
       |  UNION SELECT cust_b, cust_a FROM pairs),
       |reach(rid, lab) AS (
       |  SELECT s, s FROM und
       |  UNION
       |  SELECT u.d, r.lab FROM reach r JOIN und u ON u.s = r.rid),
       |comp AS (SELECT rid, min(lab) AS c FROM reach GROUP BY rid),
       |ent AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS id,
       |         coalesce(comp.c, CAST(c_custkey AS BIGINT)) AS entity
       |  FROM customer LEFT JOIN comp ON comp.rid = CAST(c_custkey AS BIGINT)),
       |sz AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_members FROM ent GROUP BY entity)
       |SELECT e.id, e.entity, sz.n_members, (e.id = e.entity) AS is_canonical
       |FROM ent e JOIN sz USING (entity)""".stripMargin

  /** Cohen's kappa between each pair of the four text dedup detectors,
    * over [[verdict]]'s per-doc flags — chance-corrected agreement, the
    * standard answer to "are two detectors redundant or complementary?"
    * (raw agreement is inflated when both mostly say 'not dup'; kappa
    * subtracts that chance floor). Computed as the EXACT RATIONAL
    * `(n·n_agree − pe_num) / (n² − pe_num)` with `pe_num = na·nb +
    * (n−na)(n−nb)` — integer numerator and denominator, one final
    * micro-rounding; NULL when a detector pair is degenerate (both
    * constant ⇒ denominator 0). High kappa (≈1) ⇒ the cheaper detector
    * can gate for the dearer one; low kappa ⇒ keep both in the
    * ensemble.
    *
    * Scale shape: the verdict table fans out 6 pair-rows per doc (a
    * narrow in-row explode), then one 6-group hash aggregate with
    * map-side partials.
    *
    * Output: 6 rows `(det_a, det_b, n, n_agree, kappa_micro)`.
    */
  def detectorKappa(verdict: DataFrame): DataFrame = {
    val v = verdict.select(
      col("exact_dup").cast("long").as("ex_f"),
      col("minhash_dup").cast("long").as("mh_f"),
      col("simhash_dup").cast("long").as("sh_f"),
      col("ngram_dup").cast("long").as("ng_f"))
    val pairs = Seq(
      ("exact", "minhash", "ex_f", "mh_f"),
      ("exact", "ngram", "ex_f", "ng_f"),
      ("exact", "simhash", "ex_f", "sh_f"),
      ("minhash", "ngram", "mh_f", "ng_f"),
      ("minhash", "simhash", "mh_f", "sh_f"),
      ("ngram", "simhash", "ng_f", "sh_f"))
    v.select(
        explode(array(pairs.map { case (a, b, x, y) =>
          struct(lit(a).as("det_a"), lit(b).as("det_b"), col(x).as("a"), col(y).as("b"))
        }: _*)).as("s"))
      .select(col("s.det_a"), col("s.det_b"), col("s.a"), col("s.b"))
      .groupBy(col("det_a"), col("det_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
        sum(col("a")).as("na"),
        sum(col("b")).as("nb"))
      .select(
        col("det_a"),
        col("det_b"),
        col("n"),
        col("n_agree"),
        expr("""CASE WHEN n * n - (na * nb + (n - na) * (n - nb)) = 0 THEN NULL
                |     ELSE CAST(round(
                |       CAST(n * n_agree - (na * nb + (n - na) * (n - nb)) AS DOUBLE)
                |       / CAST(n * n - (na * nb + (n - na) * (n - nb)) AS DOUBLE)
                |       * 1000000) AS BIGINT) END""".stripMargin).as("kappa_micro"))
  }

  def semanticDedup(embs: DataFrame, minCosine: Double, corpusKey: String = ""): DataFrame = {
    val assigned =
      Similarity.invertedLists(embs, Similarity.kmeansCached(embs, Dedup.SemanticCells, corpusKey))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    val dupEvidence = a
      .join(b, col("a.cid") === col("b.cid") && col("a.n_id") < col("b.n_id"))
      .select(
        col("b.n_id").as("vec_id"),
        round(Parity.cosine(col("a.ne"), col("b.ne")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
    assigned
      .select(col("n_id").as("vec_id"), col("cid").cast("int").as("cluster"))
      .join(dupEvidence, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cluster"),
        col("max_cos").isNotNull.as("is_dup"),
        coalesce(col("max_cos"), lit(-2.0d)).as("max_cos"))
  }

  // ---- content-defined chunking dedup ---------------------------------------

  /** Average chunk length control: a token position cuts iff its rolling
    * trigram hash ≡ 0 (mod this), so chunks average ~16 tokens. */
  val CdcDivisor = 16L

  /** Content-defined chunking dedup (the storage-dedup / FastCDC idea in
    * relational form): cut each document into chunks at positions where
    * a rolling trigram hash of the token stream hits `0 mod
    * [[CdcDivisor]]`, then dedup CHUNKS globally by content hash. Unlike
    * fixed-width chunking, the cut points move with the content, so an
    * insertion near the head of a near-copy shifts every byte offset but
    * almost no cut point — shared suffixes still dedup. This is the
    * sub-document complement of [[dupSpans]]: spans find what repeats,
    * CDC chunking is the storage/transfer question ("how many bytes of
    * this corpus are new?") asked before materializing a snapshot.
    *
    * Determinism: the rolling hash is the shared 40-bit token hash
    * folded through `((h₋₂·31 + h₋₁)·31 + h₀) mod 2³¹−1`; chunk identity
    * is the position-ordered fold of token hashes (mod the same prime);
    * first occurrence is the minimum of the `doc_id·10⁶ + chunk_idx`
    * arrival key (chunk index is bounded by document length ≪ 10⁶).
    *
    * Scale shape: one tokenize+explode, per-doc windows (partitioned by
    * doc_id — never global), one hash aggregate to the chunk table, one
    * self-aggregate for first occurrences joined back on the chunk hash,
    * one per-doc rollup re-joined to the doc spine. All shuffles are
    * keyed; nothing is all-pairs.
    *
    * Output: one row per document `(doc_id, n_chunks, dup_chunks,
    * n_toks, dup_toks, dup_ppm)`.
    */
  /** The (doc_id, chunk_idx, n_toks, chash) chunk table behind
    * [[cdcChunks]] — exposed so the streaming ingest gate can build the
    * static chunk store from the identical derivation.
    */
  def cdcChunkTable(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = Parity.BigP
    val pos = docs
      .select(col("doc_id"), posexplode(Parity.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        Parity.tokenH40(col("tok")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = pos
      .withColumn("roll",
        ((lag(col("h"), 2).over(w) * 31L + lag(col("h"), 1).over(w)) * 31L + col("h")) % P)
      .withColumn("bnd",
        when(col("pos") >= 3L && col("roll") % CdcDivisor === 0L, 1L).otherwise(0L))
      .withColumn("chunk_idx",
        coalesce(
          sum(col("bnd")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    g.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(
        count(lit(1)).as("n_toks"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("h")))), s => s.getField("h")),
          lit(0L),
          (acc, x) => (acc * Parity.TokP + x) % P).as("chash"))
  }

  /** [[cdcChunkTable]] computed entirely ARRAY-SIDE as one narrow
    * column expression — array<struct<chash, n_toks>> per document, no
    * explode, no window — which is what a Structured Streaming plan can
    * run statelessly (windows are unavailable there). Spec-asserted
    * equal to the window form. element_at re-evaluation inside
    * interpreted HOFs makes this the arrivals-path form only; the
    * corpus-side store uses [[cdcChunkTable]].
    */
  def cdcChunkStructs(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    cdcChunkStructsFromHashes(transform(Parity.tokens(text), t => Parity.tokenH40(t)))

  /** [[cdcChunkStructs]] over an ALREADY-COMPUTED token-hash array.
    * Callers on a hot path must materialize the hash array as its own
    * projected column first and pass the attribute: interpreted
    * higher-order functions re-evaluate a non-attribute child per
    * element_at reference (the [[graft.functions.Parity.shingles]]
    * trap) — with ~3 references per position that turns tokenize+hash
    * into O(n²) per document (measured 65 s for the sf0.1 ingest gate
    * before this split; ~3 s after).
    */
  def cdcChunkStructsFromHashes(
      hs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val P = Parity.BigP
    val n = size(hs)
    // cut positions: token p (1-based, p>=3) ends a chunk
    val ends0 = filter(
      sequence(lit(1), greatest(n, lit(1))),
      p =>
        p >= 3 && p <= n &&
          ((element_at(hs, p - 2) * 31L + element_at(hs, p - 1)) * 31L + element_at(hs, p)) % P
            % CdcDivisor === 0L)
    // always close the final chunk at n (dedup if n itself was a cut)
    val ends = when(n === 0, array().cast("array<int>"))
      .otherwise(array_distinct(concat(ends0, array(n))))
    val starts =
      concat(array(lit(1)), transform(slice(ends, lit(1), size(ends) - 1), e => e + 1))
    val zipped = zip_with(
      starts,
      ends,
      (s0, e0) =>
        struct(
          aggregate(
            slice(hs, s0, e0 - s0 + 1),
            lit(0L),
            (acc, x) => (acc * Parity.TokP + x) % P).as("chash"),
          (e0 - s0 + 1).cast("long").as("n_toks")))
    // empty doc → no chunks (zip_with would otherwise null-pad)
    when(n === 0, array().cast("array<struct<chash:bigint,n_toks:bigint>>")).otherwise(zipped)
  }

  def cdcChunks(docs: DataFrame): DataFrame = {
    val chunks = cdcChunkTable(docs)
      .withColumn("akey", col("doc_id") * 1000000L + col("chunk_idx"))
    val fst = chunks.groupBy(col("chash")).agg(min(col("akey")).as("fkey"))
    val perDoc = chunks
      .join(fst, Seq("chash"))
      .withColumn("is_dup", when(col("akey") =!= col("fkey"), 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("is_dup")).as("dup_chunks"),
        sum(col("n_toks")).as("n_toks"),
        sum(col("is_dup") * col("n_toks")).as("dup_toks"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"))
      .withColumn("dup_ppm",
        when(col("n_toks") === 0L, 0L).otherwise(expr("dup_toks * 1000000 div n_toks")))
  }

  /** Shared oracle CTE prefix deriving the chunk table `ch(doc_id,
    * chunk_idx, n_toks, chash, akey)` — the SQL twin of
    * [[cdcChunkTable]]. */
  private def cdcChunkCtes: String = {
    val P = Parity.BigP
    val h = Parity.tokenH40Sql("ts[CAST(pos AS INT)]")
    s"""tok AS (SELECT doc_id, ${Parity.tokensSql("text")} AS ts FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, $h AS h
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tok)),
       |g AS (
       |  SELECT doc_id, pos, h,
       |         ((lag(h, 2) OVER w * 31 + lag(h, 1) OVER w) * 31 + h) % $P AS roll
       |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |b AS (
       |  SELECT doc_id, pos, h,
       |         CASE WHEN pos >= 3 AND roll % $CdcDivisor = 0 THEN 1 ELSE 0 END AS bnd
       |  FROM g),
       |c AS (
       |  SELECT doc_id, pos, h,
       |         CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx
       |  FROM b),
       |ch AS (
       |  SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_toks,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
       |                     (acc, x) -> (acc * ${Parity.TokP} + x) % $P) AS chash,
       |         doc_id * 1000000 + chunk_idx AS akey
       |  FROM c GROUP BY 1, 2)""".stripMargin
  }

  /** [[cdcChunks]] mirrored. */
  def cdcChunksSql(): String =
    s"""WITH $cdcChunkCtes,
       |fst AS (SELECT chash, min(akey) AS fkey FROM ch GROUP BY 1),
       |pd AS (
       |  SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |         CAST(sum(CASE WHEN ch.akey <> fst.fkey THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |         CAST(sum(ch.n_toks) AS BIGINT) AS n_toks,
       |         CAST(sum(CASE WHEN ch.akey <> fst.fkey THEN ch.n_toks ELSE 0 END) AS BIGINT) AS dup_toks
       |  FROM ch JOIN fst USING (chash) GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(pd.n_chunks, 0) AS n_chunks,
       |       coalesce(pd.dup_chunks, 0) AS dup_chunks,
       |       coalesce(pd.n_toks, 0) AS n_toks,
       |       coalesce(pd.dup_toks, 0) AS dup_toks,
       |       CASE WHEN coalesce(pd.n_toks, 0) = 0 THEN 0
       |            ELSE coalesce(pd.dup_toks, 0) * 1000000 // pd.n_toks END AS dup_ppm
       |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Oracle for the streaming CDC-chunk ingest gate: arrivals' chunks
    * (window form — semantically identical to the array-side streaming
    * derivation) anti-joined against the static corpus' chunk store,
    * rolled up per source.
    */
  def cdcGateSql(firstNewId: Long): String =
    s"""WITH $cdcChunkCtes,
       |store AS (SELECT DISTINCT chash FROM ch WHERE doc_id < $firstNewId),
       |arr AS (SELECT doc_id, chash, n_toks FROM ch WHERE doc_id >= $firstNewId),
       |nw AS (
       |  SELECT a.* FROM arr a
       |  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.chash = a.chash))
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_new_chunks,
       |       CAST(sum(nw.n_toks) AS BIGINT) AS new_tokens,
       |       CAST(min(nw.doc_id) AS BIGINT) AS first_id
       |FROM nw JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin
  // ---- soft deduplication (reweight instead of remove) ----------------------

  /** SoftDeDup per-source accounting: instead of DROPPING duplicates,
    * every copy of a document keeps weight 1/cluster_size, so a
    * duplicated page contributes one document's worth of gradient mass
    * in total wherever its copies live (the reweighting alternative to
    * hard dedup — "soft deduplication" in the recent data-curation
    * literature; exact-duplicate clusters here, the same fingerprint
    * identity as [[exact]]). The per-source effective-token mass is the
    * number a mixture designer feeds the sampler: a source whose volume
    * is mostly copies shrinks toward its distinct content.
    *
    * Exactness: clusters are exact fingerprint groups; each row's
    * effective tokens are `n_tok·1000 div csize` (positive integer
    * division, engine-identical) summed exactly.
    *
    * Scale shape: one fingerprint aggregate (one row per DISTINCT doc
    * crosses the shuffle), one fp-keyed size join back, one per-source
    * rollup. No pair table anywhere.
    *
    * Output: per source `(source, n_docs, n_dup_docs, raw_tokens,
    * eff_tokens_milli, eff_ppm)`.
    */
  def softWeights(docs: DataFrame): DataFrame = {
    val f = docs.select(
      col("doc_id"),
      col("source"),
      graft.functions.Parity.fp40(col("text")).as("fp"),
      size(graft.functions.Parity.tokens(col("text"))).cast("long").as("n_tok"))
    val cs = f.groupBy(col("fp")).agg(count(lit(1)).as("csize"))
    f.join(cs, Seq("fp"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tok")).as("raw_tokens"),
        sum(expr("n_tok * 1000 div csize")).as("eff_tokens_milli"))
      .select(
        col("source"), col("n_docs"), col("n_dup_docs"), col("raw_tokens"),
        col("eff_tokens_milli"),
        expr("eff_tokens_milli * 1000 div nullif(raw_tokens, 0)").as("eff_ppm"))
  }

  /** [[softWeights]] mirrored. */
  def softWeightsSql(): String = {
    val fp = graft.functions.Parity.fp40Sql("text")
    val toks = s"CAST(len(${graft.functions.Parity.tokensSql("text")}) AS BIGINT)"
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, source, $fp AS fp, $toks AS n_tok FROM documents),
       |cs AS (SELECT fp, CAST(count(*) AS BIGINT) AS csize FROM f GROUP BY fp)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
       |       CAST(sum(n_tok * 1000 // csize) AS BIGINT) AS eff_tokens_milli,
       |       CAST(sum(n_tok * 1000 // csize) AS BIGINT) * 1000
       |         // nullif(CAST(sum(n_tok) AS BIGINT), 0) AS eff_ppm
       |FROM f JOIN cs USING (fp)
       |GROUP BY source""".stripMargin
  }

}
