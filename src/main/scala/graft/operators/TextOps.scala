package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Parity

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd, no UDFs) — each scales as a single
  * narrow map over the documents table, no shuffle at all until an
  * aggregation is asked for.
  */
object TextOps {

  /** English function words for the stopword heuristics. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

  /** 10⁻⁹-unit scale for [[sourceKlDrift]]'s per-term contributions:
    * `round(x·10⁹)` then an exact long cast makes each contribution an
    * integer, so the per-source reduction is an order-independent
    * map-side-partial `sum` instead of a sorted fold whose buffer grows
    * with the source's vocabulary.
    */
  val KlMicroScale = 1000000000L

  private def toks(text: Column): Column = Parity.tokens(text)

  private def stopCount(text: Column): Column =
    size(filter(toks(text), t => t.isin(Stopwords: _*))).cast("long")

  /** n-gram/stopword-heuristic language identification.
    *
    * Rule (deterministic, mirrored in the oracle): ≥2 English stopwords →
    * 'en'; else vowel-final token ratio > 0.5 → 'es'; else 'other'. A toy
    * profile, but the plumbing — per-token predicate counts folded into a
    * classification — is the real n-gram-LID shape.
    */
  def langId(docs: DataFrame): DataFrame = {
    val text = col("text")
    val n = greatest(size(toks(text)).cast("long"), lit(1L))
    val vowelRatio =
      size(filter(toks(text), t => t.rlike("[aeiou]$"))).cast("double") / n.cast("double")
    docs.select(
      col("doc_id"),
      when(stopCount(text) >= 2, "en")
        .when(vowelRatio > 0.5, "es")
        .otherwise("other")
        .as("pred_lang"),
      round(vowelRatio + RoundEps, 6).as("vowel_ratio"),
      stopCount(text).as("n_stop"))
  }

  /** Boundary-stabilized rounding nudge for per-row RATIONAL ratios:
    * small-integer quotients land EXACTLY on round-half boundaries
    * (e.g. 0.6615625), and there Spark (rounds the shortest decimal
    * string, half-up) and DuckDB (rounds the scaled binary) disagree by
    * one ulp of the last kept digit. A 1e-9 nudge — mirrored in the
    * oracle SQL — puts both engines on the same side; it is two orders
    * of magnitude below the 5e-7 gap between representable outputs, so
    * no non-boundary value changes.
    */
  private val RoundEps = 1e-9

  /** Quality scoring: token count, mean token length, stopword ratio,
    * alphanumeric character ratio, folded into a single [0,1]-ish score.
    */
  def quality(docs: DataFrame): DataFrame = {
    val text = col("text")
    val t = toks(text)
    val nTok = size(t).cast("long")
    val nTokSafe = greatest(nTok, lit(1L)).cast("double")
    val meanLen =
      aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long")).cast("double") / nTokSafe
    val stopRatio = stopCount(text).cast("double") / nTokSafe
    val alnumRatio =
      length(regexp_replace(text, "[^a-z0-9]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double")
    val score =
      least(nTok.cast("double") / 20.0, lit(1.0)) * 0.4 + stopRatio * 0.3 + alnumRatio * 0.3
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      round(meanLen + RoundEps, 6).as("mean_tok_len"),
      round(stopRatio + RoundEps, 6).as("stop_ratio"),
      round(alnumRatio + RoundEps, 6).as("alnum_ratio"),
      round(score + RoundEps, 6).as("quality"))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * segmentation (letter runs / digit runs / single other symbols).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))

  /** TF-IDF over the document corpus: term frequency per (doc, term),
    * document frequency per term, idf = ln(N/df). Two hash aggregations,
    * both map-side-partial; the corpus size N enters as a cross-joined
    * single-row aggregate INSIDE the plan (a broadcast nested loop of one
    * row) — not a driver-side `count()`, which would cost a full extra
    * corpus pass per call at 100 TB. Mirrors the oracle's `CROSS JOIN nn`.
    */
  def tfidf(docs: DataFrame): DataFrame = {
    val nn = docs.agg(count(lit(1)).as("n"))
    val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .crossJoin(nn)
      .select(
        col("doc_id"),
        col("term"),
        col("tf"),
        col("df"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("tfidf"))
  }

  /** Corpus vocabulary: top-k terms by document frequency (ties broken
    * by term), with total term frequency — the vocab-building step of a
    * tokenizer/LM pipeline. One explode + one hash aggregate; the
    * distinct-doc count rides the same shuffle on the term key.
    */
  def vocab(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)

  /** BM25 constants — written as LITERALS on both engines (never derived
    * arithmetic like `k1 + 1`, whose double rounding can differ from the
    * literal's) so the per-term score is bit-identical cross-engine.
    */
  val Bm25K1 = "1.2"
  val Bm25K1Plus1 = "2.2"
  val Bm25B = "0.75"
  val Bm25OneMinusB = "0.25"

  /** BM25 top-k retrieval — tf-idf's production successor and the lexical
    * half of a RAG/retrieval stack. The "query" is self-derived for
    * determinism: the corpus's top-`nTerms` terms by document frequency
    * (ties to the smaller term). With an EXTERNAL query — the production
    * case — the plan gets strictly cheaper: terms filter to the query set
    * BEFORE the tf aggregate and df comes from a stored vocabulary
    * artifact, so the corpus is crossed once.
    *
    * Scale shape: one explode feeding the (doc, term) tf hash aggregate
    * (map-side partial); doc length rides THROUGH that aggregate
    * (`first(dl)`) instead of a second corpus join; df is a second hash
    * aggregate on the term key; the query-term table (≤ nTerms rows) and
    * the corpus stats (one row: N, total tokens) are broadcast. The
    * per-doc score is an ordered fold over per-term scores (term order,
    * each rounded to 9 dp) — bit-identical cross-engine, like
    * [[unigramScore]]; the global top-k is a TakeOrdered, never a full
    * sort.
    */
  def bm25TopK(docs: DataFrame, nTerms: Int = 3, k: Int = 20): DataFrame = {
    val terms = docs.select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("dl"),
      explode(toks(col("text"))).as("term"))
    // materialized: tf feeds BOTH the query-term derivation (df ranking)
    // and the scored join — without a checkpoint the explode + tf
    // aggregate would run twice (with an external query, production's
    // case, q comes from a vocabulary artifact and this is moot)
    val tf = Phys.materialized(
      terms
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl")))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val q = dfx.orderBy(col("df").desc, col("term")).limit(nTerms)
    // N from a tokenize-free corpus count; total tokens = Σtf off the
    // already-materialized tf table (same value as Σ len(tokens), never
    // a third tokenize pass over the corpus)
    val stats = docs
      .agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(tf.agg(sum(col("tf")).cast("double").as("tot")))
    val scored = tf
      .join(broadcast(q.select(col("term"), col("df"))), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), bm25ScoreCol.as("s"))
    bm25Fold(scored, k)
  }

  /** The per-(doc, term) BM25 score over columns (tf, dl, df, n, tot) —
    * shared by the self-derived and stored-model paths so both are
    * bit-identical to the one oracle. */
  private def bm25ScoreCol: Column = {
    val idf = log(lit(1.0) + (col("n") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val denom = tfd + lit(Bm25K1.toDouble) *
      (lit(Bm25OneMinusB.toDouble) + lit(Bm25B.toDouble) * dld / (col("tot") / col("n")))
    round(idf * (tfd * lit(Bm25K1Plus1.toDouble)) / denom, 9)
  }

  /** Ordered per-doc fold of per-term scores + TakeOrdered top-k. */
  private def bm25Fold(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_matched"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("s")))), x => x("s")),
          lit(0.0d),
          (acc, v) => acc + v).as("sum_s"))
      .select(col("doc_id"), col("n_terms_matched"), round(col("sum_s"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  /** Train-once/apply-many BM25: persist the retrieval model — the
    * vocabulary df table plus one stats row (N, total tokens) — as a
    * parquet artifact (vocab rows carry NULL stats; the NULL-term row
    * carries them, the [[writeLmModel]] shape).
    */
  def writeBm25Model(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): String = {
    val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("tot_tokens")))
    val dir = graft.sources.Staging.freshDir("bm25-model")
    dfx
      .select(
        col("term"),
        col("df"),
        lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("tot_tokens"))
      .unionByName(stats.select(
        lit(null).cast("string").as("term"),
        lit(null).cast("long").as("df"),
        col("n_docs"),
        col("tot_tokens")))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
    dir
  }

  /** The production BM25 serving path over the STORED model: the
    * arriving corpus's exploded terms semi-reduce to the query list
    * BEFORE the tf aggregate (a broadcast join of ≤ nTerms rows), df and
    * the corpus stats come from the artifact — so the plan crosses the
    * corpus exactly once and contains NO vocabulary-wide aggregate (the
    * cost [[bm25TopK]] pays to self-derive its query). This is what
    * every query against a 100 TB indexed corpus runs.
    */
  def bm25ApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String,
      nTerms: Int = 3,
      k: Int = 20): DataFrame = {
    val m = spark.read.parquet(modelDir)
    val q = m
      .filter(col("term").isNotNull)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)
      .select(col("term"), col("df"))
    val stats = m
      .filter(col("term").isNull)
      .select(col("n_docs").cast("double").as("n"), col("tot_tokens").cast("double").as("tot"))
    val scored = docs
      .select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("dl"),
        explode(toks(col("text"))).as("term"))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"), first(col("df")).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), bm25ScoreCol.as("s"))
    bm25Fold(scored, k)
  }

  /** EXTERNAL-QUERY BM25 over the STORED model — the actual retrieval
    * entry point: query terms arrive as a runtime parameter (a user's
    * search), df comes from the artifact's vocabulary (terms the index
    * has never seen drop out — they would contribute idf of the whole
    * corpus for tf 0 anyway), corpus stats from the artifact's stats
    * row. The plan is strictly cheaper than [[bm25TopK]]'s
    * self-derived query: the corpus's exploded terms semi-reduce to
    * the ≤ |terms| broadcast list BEFORE the tf aggregate, there is no
    * vocabulary-wide df aggregate, and the corpus is crossed exactly
    * once. At 100 TB this is the per-query cost of serving search over
    * an indexed corpus: one filtered scan + one bounded aggregate.
    */
  def bm25QueryStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String,
      queryTerms: Seq[String],
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25QueryStored needs at least one query term")
    val m = spark.read.parquet(modelDir)
    val q = m
      .filter(col("term").isInCollection(queryTerms))
      .select(col("term"), col("df"))
    val stats = m
      .filter(col("term").isNull)
      .select(col("n_docs").cast("double").as("n"), col("tot_tokens").cast("double").as("tot"))
    val scored = docs
      .select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("dl"),
        explode(toks(col("text"))).as("term"))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"), first(col("df")).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), bm25ScoreCol.as("s"))
    bm25Fold(scored, k)
  }

  /** [[bm25QueryStored]]'s oracle: the same retrieval with the model
    * retrained inline (vocabulary df + stats CTEs) and the query list
    * as literals — unseen terms drop out via the vocabulary join.
    */
  def bm25QueryStoredSql(queryTerms: Seq[String], k: Int = 20): String = {
    val toks = Parity.tokensSql("text")
    val termList = queryTerms.map(t => s"'${t.replace("'", "''")}'").mkString("(", ", ", ")")
    s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl,
       |                  unnest($toks) AS term FROM documents),
       |tf0 AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM t GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
       |q AS (SELECT term, df FROM dfx WHERE term IN $termList),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              CAST(sum(len($toks)) AS DOUBLE) AS tot FROM documents),
       |sc AS (SELECT doc_id, term,
       |              round(ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |                    * (CAST(tf AS DOUBLE) * $Bm25K1Plus1)
       |                    / (CAST(tf AS DOUBLE) + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * CAST(dl AS DOUBLE) / (tot / n))), 9) AS s
       |       FROM tf0 JOIN q USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
       |                         (acc, x) -> acc + x), 6) AS bm25
       |FROM sc GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for [[bm25TopK]] — same literals, same operation tree,
    * same ordered per-doc fold.
    */
  def bm25TopKSql(nTerms: Int, k: Int): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl,
       |                  unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM t GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |q AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT $nTerms),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              CAST(sum(len($toks)) AS DOUBLE) AS tot FROM documents),
       |sc AS (SELECT doc_id, term,
       |              round(ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |                    * (CAST(tf AS DOUBLE) * $Bm25K1Plus1)
       |                    / (CAST(tf AS DOUBLE) + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * CAST(dl AS DOUBLE) / (tot / n))), 9) AS s
       |       FROM tf JOIN q USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
       |                         (acc, x) -> acc + x), 6) AS bm25
       |FROM sc GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for the STREAMING BM25 relevance gate
    * ([[graft.streaming.StreamOps.docBm25GateOverParquet]]): the model
    * trains on the static slice, arrivals score against it, per-source
    * rollup (n_docs, n_matched, best score). Doubles only max/fold —
    * never a cross-doc float sum.
    */
  def bm25GateSql(firstNewId: Long, nTerms: Int = 3): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH tt AS (SELECT doc_id, source, $toks AS t FROM documents),
       |st_term AS (SELECT doc_id, unnest(t) AS term FROM tt WHERE doc_id < $firstNewId),
       |st_tf AS (SELECT doc_id, term, count(*) AS tf FROM st_term GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM st_tf GROUP BY 1),
       |q AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT $nTerms),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              CAST(sum(len(t)) AS DOUBLE) AS tot
       |       FROM tt WHERE doc_id < $firstNewId),
       |adl AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS dl
       |        FROM tt WHERE doc_id >= $firstNewId),
       |aterm AS (SELECT doc_id, unnest(t) AS term FROM tt WHERE doc_id >= $firstNewId),
       |atf AS (SELECT a.doc_id, a.term, count(*) AS tf
       |        FROM aterm a WHERE a.term IN (SELECT term FROM q) GROUP BY 1, 2),
       |sc AS (SELECT f.doc_id, f.term, f.tf,
       |              round(ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |                    * (CAST(tf AS DOUBLE) * $Bm25K1Plus1)
       |                    / (CAST(tf AS DOUBLE) + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * CAST(dl AS DOUBLE) / (tot / n))), 9) AS s
       |       FROM atf f JOIN q USING (term) JOIN adl d ON d.doc_id = f.doc_id CROSS JOIN st),
       |pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_q,
       |              round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
       |                                (acc, x) -> acc + x), 6) AS bm25
       |       FROM sc GROUP BY doc_id)
       |SELECT a.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN coalesce(p.n_q, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |       max(coalesce(p.bm25, CAST(0.0 AS DOUBLE))) AS top_bm25
       |FROM adl a LEFT JOIN pd p ON p.doc_id = a.doc_id
       |GROUP BY a.source ORDER BY a.source""".stripMargin
  }

  /** Unigram-LM quality scoring — the perplexity-proxy filter: train
    * add-one-smoothed unigram log-probabilities on the corpus's OWN
    * token histogram, then score every document by its mean token
    * log-prob (higher = more typical of the corpus; the score real
    * pipelines threshold to drop boilerplate and gibberish).
    *
    * Cross-engine exactness: the only transcendental (ln) is rounded to
    * 9 dp PER TOKEN, and the per-doc sum folds those identical rounded
    * values in token-position order in both engines (array_sort on
    * (pos, lnp) here, `list(... ORDER BY pos)` in DuckDB) — so the sum
    * is bit-identical, not merely close (float group-sums have
    * nondeterministic order; an ordered fold does not).
    *
    * Scale shape: histogram = one hash aggregate on the term (map-side
    * partial); the score join broadcasts the vocab side via AQE; the
    * per-doc fold is one shuffle on doc_id with O(doc tokens) state —
    * the same class as tf-idf. The corpus is read twice (train, score),
    * which is intrinsic to self-training.
    */
  def unigramScore(docs: DataFrame): DataFrame = {
    val terms =
      docs.select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
    val hist = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = hist.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v_size"))
    val lnp = terms
      .join(hist, Seq("term"))
      .crossJoin(broadcast(totals))
      .select(
        col("doc_id"),
        col("pos"),
        round(
          log((col("c") + 1).cast("double") / (col("n_total") + col("v_size")).cast("double")),
          9).as("lnp"))
    val perDoc = lnp
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))), s => s("lnp")),
          lit(0.0d),
          (acc, v) => acc + v).as("sum_lnp"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(col("sum_lnp") / col("n_tokens").cast("double"), 6).as("mean_lnp"))
  }

  /** Train the unigram LM once and persist it as a TABLE artifact:
    * (term, lnp) rows plus one NULL-term row carrying the add-one
    * out-of-vocabulary mass `ln(1/(n_total + v_size))` — OOV handling
    * is part of the model, not the serving code. Unlike the
    * scalar-sized BPE/centroid/logreg artifacts, an LM is
    * vocabulary-sized, so the apply path joins it (broadcast) instead
    * of folding literals — the third model-serving shape.
    */
  def writeLmModel(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): String = {
    val terms = docs.select(posexplode(toks(col("text"))).as(Seq("pos", "term")))
    val hist = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = hist.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v_size"))
    val lnp = hist
      .crossJoin(broadcast(totals))
      .select(
        col("term"),
        round(
          log((col("c") + 1).cast("double") / (col("n_total") + col("v_size")).cast("double")),
          9).as("lnp"))
    val oov = totals.select(
      lit(null).cast("string").as("term"),
      round(log(lit(1.0d) / (col("n_total") + col("v_size")).cast("double")), 9).as("lnp"))
    val dir = graft.sources.Staging.freshDir("lm-model")
    lnp.unionByName(oov).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** The apply path of [[unigramScore]] over a STORED model: one corpus
    * scan, a broadcast join against the vocabulary table (never a term
    * histogram — the plan has no term-keyed exchange, pinned in
    * PlanAuditSpec), OOV terms scored by the model's own smoothing row,
    * and the same position-ordered per-doc fold. Applying the model to
    * its own training corpus reproduces [[unigramScore]] exactly, so
    * the two queries share an oracle.
    */
  def lmApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String): DataFrame = {
    val model = spark.read.parquet(modelDir)
    val oovLnp = model.filter(col("term").isNull).head().getDouble(1)
    val lm = broadcast(model.filter(col("term").isNotNull))
    val lnp = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
      .join(lm, Seq("term"), "left_outer")
      .select(col("doc_id"), col("pos"), coalesce(col("lnp"), lit(oovLnp)).as("lnp"))
    val perDoc = lnp
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))), s => s("lnp")),
          lit(0.0d),
          (acc, v) => acc + v).as("sum_lnp"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(col("sum_lnp") / col("n_tokens").cast("double"), 6).as("mean_lnp"))
  }

  /** [[unigramScore]], mirrored: same histogram, same per-token 9 dp
    * rounding, same position-ordered fold.
    */
  def unigramScoreSql(): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH tok0 AS (
       |  SELECT doc_id, $toks AS ts FROM documents),
       |term AS (
       |  SELECT doc_id, pos, ts[CAST(pos AS INT)] AS term
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tok0)),
       |hist AS (SELECT term, count(*) AS c FROM term GROUP BY term),
       |tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM hist),
       |lnp AS (
       |  SELECT t.doc_id, t.pos,
       |         round(ln(CAST(h.c + 1 AS DOUBLE) / CAST(tt.n_total + tt.v_size AS DOUBLE)), 9) AS lnp
       |  FROM term t JOIN hist h USING (term) CROSS JOIN tot tt),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lnp ORDER BY pos)),
       |                     (a, b) -> a + b) AS sum_lnp
       |  FROM lnp GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       |       round(p.sum_lnp / CAST(p.n_tokens AS DOUBLE), 6) AS mean_lnp
       |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
  }

  /** Per-document bigram language-model score: the mean log-probability
    * of each token given its predecessor under an add-1-smoothed bigram
    * model trained on the corpus itself —
    * ln P(w_i | w_{i-1}) = ln((c(w_{i-1} w_i) + 1) / (c·(w_{i-1}) + |V|)),
    * where c·(ctx) counts the context over BIGRAM positions (so the last
    * token of each doc is a next-word only, the standard conditioning)
    * and |V| is the corpus-wide distinct-token count. The conditional
    * companion to [[unigramScore]]: fluency, not just vocabulary — a
    * doc of common words in an improbable ORDER scores low here while
    * scoring high on the unigram model, which is exactly the gibberish
    * the quality gate wants to catch.
    *
    * Determinism: each position's lnp is rounded to 9 dp, summed in
    * position order via the same sorted-struct fold as [[unigramScore]],
    * and the mean rounded to 6 dp — bit-identical on any engine.
    *
    * Scale shape: bigram extraction is one narrow map (no self-join —
    * the pair is read off adjacent array slots); the two histograms are
    * hash aggregates with map-side partials (one shuffle each, one row
    * per distinct bigram/context); the score join keys on the bigram and
    * context; the per-doc fold is one shuffle on doc_id with O(doc
    * tokens) state. Same class as [[unigramScore]] and tf-idf.
    */
  def bigramScore(docs: DataFrame): DataFrame = {
    val ts = toks(col("text"))
    // adjacent-slot pairs; sequence(1, n-1) would COUNT DOWN for n < 2
    // (Spark infers a negative step), so short docs get the empty array
    val pairs = when(size(ts) < 2, array().cast("array<struct<ctx:string,nxt:string>>"))
      .otherwise(
        transform(
          sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("ctx"), element_at(ts, i + 1).as("nxt"))))
    val big = docs
      .select(col("doc_id"), posexplode(pairs).as(Seq("p0", "bg")))
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("pos"),
        col("bg.ctx").as("ctx"),
        col("bg.nxt").as("nxt"))
    val h2 = big.groupBy(col("ctx"), col("nxt")).agg(count(lit(1)).as("c2"))
    val hc = big.groupBy(col("ctx")).agg(count(lit(1)).as("cc"))
    val v = docs
      .select(explode(ts).as("term"))
      .agg(countDistinct(col("term")).as("v_size"))
    val lnp = big
      .join(h2, Seq("ctx", "nxt"))
      .join(hc, Seq("ctx"))
      .crossJoin(broadcast(v))
      .select(
        col("doc_id"),
        col("pos"),
        round(
          log((col("c2") + 1).cast("double") / (col("cc") + col("v_size")).cast("double")),
          9).as("lnp"))
    val perDoc = lnp
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))), s => s("lnp")),
          lit(0.0d),
          (acc, x) => acc + x).as("sum_lnp"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("sum_lnp") / col("n_bigrams").cast("double"), 6).as("mean_lnp2"))
  }

  /** Per-source distribution-drift report: the KL divergence of each
    * source's unigram token distribution from the corpus-wide one,
    * KL(P_s ‖ P_c) = Σ_t p_s(t) · ln(p_s(t) / p_c(t)) summed over the
    * source's OBSERVED terms (p_s is the in-source MLE, so absent terms
    * contribute zero by continuity), with the corpus side add-1 smoothed
    * over the vocab so the ratio is always finite. The number a mixture
    * designer watches per source/domain: a crawl whose KL jumps between
    * snapshots changed its content mix and needs its [[mixtureWeights]]
    * re-fit.
    *
    * Determinism: each term's contribution is converted to an exact
    * 10⁻⁹-unit integer (`round(x·10⁹)` is half-away-from-zero on both
    * engines, then an exact cast — the [[graft.operators.Similarity]]
    * micro-unit trick), so the per-source total is a plain integer `sum`,
    * order-independent by construction; the total is rounded to 6 dp.
    *
    * Scale shape: the (source, term) histogram is one hash aggregate with
    * map-side partials (the tf-idf shape — one row per distinct pair);
    * the term histogram and per-source totals are smaller aggregates of
    * the same explode; totals ride a 1-row broadcast; the per-source
    * reduction is a map-side-partial LONG sum whose state is one counter
    * per source — no per-vocab buffer anywhere.
    */
  def sourceKlDrift(docs: DataFrame): DataFrame = {
    // ONE aggregate touches the raw token explode; every other histogram
    // derives from the (source, term) counts — |sources|×|vocab| rows at
    // most — so the corpus is exploded and shuffled exactly once however
    // many distributions the report needs
    val terms = docs.select(col("source"), explode(toks(col("text"))).as("term"))
    val st = Phys.materialized(
      terms.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_st")))
    val th = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val tot = th.agg(sum(col("c_t")).as("n"), count(lit(1)).as("v"))
    val ps = col("c_st").cast("double") / col("n_s").cast("double")
    val pc = (col("c_t") + 1).cast("double") / (col("n") + col("v")).cast("double")
    val contrib = st
      .join(th, Seq("term"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        round(ps * log(ps / pc) * KlMicroScale).cast("long").as("kc_micro"))
    val per = contrib
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(col("kc_micro")).as("s_micro"))
    per
      .join(ns, Seq("source"))
      .select(
        col("source"),
        col("n_s").as("n_tokens"),
        col("n_terms"),
        round(col("s_micro").cast("double") / KlMicroScale, 6).as("kl"))
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions — the SYMMETRIC, bounded (≤ ln 2) companion of
    * [[sourceKlDrift]]: where KL ranks each source against the corpus,
    * the JSD matrix says which sources are interchangeable and which
    * are genuinely distinct content — the distance a mixture designer
    * clusters domains by, and the lexical-distribution counterpart of
    * the KMV set-overlap matrix ([[Sketches.kmvJaccardMatrix]]).
    * Split exactly: shared terms contribute
    * `½[p·ln(2p/(p+q)) + q·ln(2q/(p+q))]` (each term micro-rounded,
    * order-free integer sum); each side's UNSHARED mass contributes
    * `½·ln2·mass` in ONE closed-form rounding per pair — absent terms
    * never need materializing, which is what keeps the pair join
    * INNER (no per-pair full-outer vocab union).
    *
    * Scale shape: one corpus explode → the (source, term) histogram;
    * the pair join keys on the term (per-term fan-out ≤ |sources|²,
    * vocabulary-bounded); per-pair reduction is an integer sum.
    *
    * Output: one row per source pair
    * `(source_a, source_b, n_shared_terms, jsd)`.
    */
  def jsdSourceMatrix(docs: DataFrame): DataFrame = {
    val st = Phys.materialized(
      docs.select(col("source"), explode(toks(col("text"))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c")))
    val ns = st.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = st.join(ns, Seq("source")).select(
      col("source").as("source_a"), col("term"),
      col("c").as("ca"), col("n").as("na"))
    val b = st.join(ns, Seq("source")).select(
      col("source").as("source_b"), col("term"),
      col("c").as("cb"), col("n").as("nb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val shared = a
      .join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .select(
        col("source_a"),
        col("source_b"),
        col("ca"),
        col("cb"),
        round(lit(0.5d) * (pa * log(lit(2.0d) * pa / (pa + pb)) +
          pb * log(lit(2.0d) * pb / (pa + pb))) * KlMicroScale).cast("long").as("t_micro"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_shared_terms"),
        sum(col("ca")).as("ca_sh"),
        sum(col("cb")).as("cb_sh"),
        sum(col("t_micro")).as("s_micro"))
    val na2 = ns.select(col("source").as("source_a"), col("n").as("na"))
    val nb2 = ns.select(col("source").as("source_b"), col("n").as("nb"))
    na2
      // |sources|-row square: broadcast so the pair frame is a
      // BroadcastNestedLoopJoin of two tiny aggregates, never a raw
      // cartesian exchange
      .crossJoin(broadcast(nb2))
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left_outer")
      .select(
        col("source_a"),
        col("source_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        round(
          (coalesce(col("s_micro"), lit(0L)).cast("double") +
            round(lit(0.5d) * lit(math.log(2.0d)) *
              ((col("na") - coalesce(col("ca_sh"), lit(0L))).cast("double") /
                col("na").cast("double") +
                (col("nb") - coalesce(col("cb_sh"), lit(0L))).cast("double") /
                col("nb").cast("double")) * KlMicroScale).cast("long").cast("double")) /
            KlMicroScale,
          6).as("jsd"))
  }

  /** [[jsdSourceMatrix]] mirrored. */
  def jsdSourceMatrixSql(): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH tok AS (SELECT source, unnest($toksSql) AS term FROM documents),
       |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok
       |       GROUP BY source, term),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY source),
       |sh AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(count(*) AS BIGINT) AS n_shared_terms,
       |         CAST(sum(a.c) AS BIGINT) AS ca_sh, CAST(sum(b.c) AS BIGINT) AS cb_sh,
       |         CAST(sum(CAST(round(0.5 * (
       |             (CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE))
       |               * ln(2.0 * (CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE))
       |                    / ((CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE))
       |                       + (CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE))))
       |             + (CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE))
       |               * ln(2.0 * (CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE))
       |                    / ((CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE))
       |                       + (CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE)))))
       |             * $KlMicroScale) AS BIGINT)) AS BIGINT) AS s_micro
       |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
       |  JOIN ns na ON na.source = a.source JOIN ns nb ON nb.source = b.source
       |  GROUP BY 1, 2)
       |SELECT pa.source AS source_a, pb.source AS source_b,
       |       coalesce(sh.n_shared_terms, 0) AS n_shared_terms,
       |       round((CAST(coalesce(sh.s_micro, 0) AS DOUBLE)
       |              + CAST(CAST(round(0.5 * ln(2.0) * (
       |                  CAST(pa.n - coalesce(sh.ca_sh, 0) AS DOUBLE) / CAST(pa.n AS DOUBLE)
       |                  + CAST(pb.n - coalesce(sh.cb_sh, 0) AS DOUBLE) / CAST(pb.n AS DOUBLE))
       |                  * $KlMicroScale) AS BIGINT) AS DOUBLE))
       |             / $KlMicroScale, 6) AS jsd
       |FROM ns pa CROSS JOIN ns pb
       |LEFT JOIN sh ON sh.source_a = pa.source AND sh.source_b = pb.source
       |WHERE pa.source < pb.source""".stripMargin
  }

  /** [[sourceKlDrift]], mirrored: same histograms, same 10⁻⁹-unit
    * integer contributions, same order-free integer sum.
    */
  def sourceKlDriftSql(): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH tok AS (
       |  SELECT source, unnest($toks) AS term FROM documents),
       |st AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY source, term),
       |th AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term),
       |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n, count(*) AS v FROM th),
       |contrib AS (
       |  SELECT st.source,
       |         CAST(round((CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
       |               * ln((CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
       |                    / (CAST(th.c_t + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)))
       |               * $KlMicroScale) AS BIGINT) AS kc_micro
       |  FROM st JOIN th USING (term) JOIN ns USING (source) CROSS JOIN tot),
       |per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(sum(kc_micro) AS BIGINT) AS s_micro
       |  FROM contrib GROUP BY source)
       |SELECT p.source, ns.n_s AS n_tokens, p.n_terms,
       |       round(CAST(p.s_micro AS DOUBLE) / $KlMicroScale, 6) AS kl
       |FROM per p JOIN ns USING (source)""".stripMargin
  }

  /** [[bigramScore]], mirrored: same histograms, same 9 dp per-position
    * rounding, same position-ordered fold. `range(1, len(ts))` is empty
    * for single-token docs, matching the guarded Spark extraction.
    */
  def bigramScoreSql(): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH tok0 AS (
       |  SELECT doc_id, $toks AS ts FROM documents),
       |big AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         ts[CAST(pos AS INT)] AS ctx, ts[CAST(pos + 1 AS INT)] AS nxt
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS pos FROM tok0)),
       |h2 AS (SELECT ctx, nxt, count(*) AS c2 FROM big GROUP BY ctx, nxt),
       |hc AS (SELECT ctx, count(*) AS cc FROM big GROUP BY ctx),
       |v AS (SELECT count(DISTINCT t) AS v_size
       |      FROM (SELECT unnest(ts) AS t FROM tok0)),
       |lnp AS (
       |  SELECT b.doc_id, b.pos,
       |         round(ln(CAST(h2.c2 + 1 AS DOUBLE) / CAST(hc.cc + v.v_size AS DOUBLE)), 9) AS lnp
       |  FROM big b JOIN h2 USING (ctx, nxt) JOIN hc USING (ctx) CROSS JOIN v),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lnp ORDER BY pos)),
       |                     (a, b) -> a + b) AS sum_lnp
       |  FROM lnp GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
       |       round(p.sum_lnp / CAST(p.n_bigrams AS DOUBLE), 6) AS mean_lnp2
       |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
  }

  /** Deterministic weighted sampling without replacement (the
    * exponential-keys / A-Res scheme of Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): each doc draws
    * u ~ Uniform(0,1] from a salted hash of its id and the k docs with
    * the smallest -ln(u)/w survive, w = token count — longer documents
    * proportionally likelier, the standard size-weighted corpus
    * subsample. The sign-safe integer hash grid of [[shuffleShards]],
    * but with the seed added BEFORE the Knuth multiply — an added-after
    * seed only SHIFTS every u by a constant, which a monotone key map
    * preserves almost order-exactly (measured: seeds 7 and 8 selected
    * the identical 100 docs); pre-multiply it permutes. The sort key is
    * rounded to a 9 dp grid (ties broken by doc_id) so both engines cut
    * the same top-k. The key itself is not emitted — selection, not
    * score, is the contract.
    *
    * Scale shape: one narrow map, then TakeOrdered top-k (per-partition
    * heads + driver merge of k rows) — never a full sort.
    */
  def weightedSample(docs: DataFrame, k: Int, seed: Long = 7L): DataFrame = {
    require(seed >= 0 && seed < 1000000000L, s"seed must be in [0, 1e9), got $seed")
    // overflow bound: (2^31 + 1e9) * 2654435761 ≈ 8.4e18 < Long.Max
    val w = greatest(size(toks(col("text"))).cast("long"), lit(1L))
    val u = (pmod(
      (pmod(col("doc_id"), lit(2147483648L)) + lit(seed)) * lit(2654435761L),
      lit(1000000007L)) + 1L).cast("double") / lit(1000000008.0d)
    docs
      .select(
        col("doc_id"),
        w.as("weight"),
        round(-log(u) / w.cast("double"), 9).as("skey"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"))
  }

  /** [[weightedSample]], mirrored on the same hash grid. */
  def weightedSampleSql(k: Int, seed: Long = 7L): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH s AS (
       |  SELECT doc_id,
       |         CAST(greatest(len($toks), 1) AS BIGINT) AS weight,
       |         round(-ln(((((doc_id % 2147483648 + 2147483648) % 2147483648
       |                       + $seed) * 2654435761) % 1000000007 + 1) / 1000000008.0)
       |               / CAST(greatest(len($toks), 1) AS DOUBLE), 9) AS skey
       |  FROM documents)
       |SELECT doc_id, weight FROM s ORDER BY skey, doc_id LIMIT $k""".stripMargin
  }

  /** GROUPED A-Res weighted sampling: an independent k-document weighted
    * sample per source — the stratified form of [[weightedSample]], the
    * shape a mixture-building pipeline actually draws (per-domain
    * budgets, not one global pot). Same deterministic exponential-keys
    * grid; the per-group k minima come from the bounded
    * [[graft.functions.TopKAggregator]] (map-side partial, at most k
    * rows per source cross the exchange — never a per-group sort of the
    * corpus; the window-rank form the oracle uses is exactly what this
    * avoids at scale). Output: `(source, doc_id, rank)`.
    */
  def weightedSampleGrouped(docs: DataFrame, kPerGroup: Int, seed: Long = 7L): DataFrame = {
    require(seed >= 0 && seed < 1000000000L, s"seed must be in [0, 1e9), got $seed")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = greatest(size(toks(col("text"))).cast("long"), lit(1L))
    val u = (pmod(
      (pmod(col("doc_id"), lit(2147483648L)) + lit(seed)) * lit(2654435761L),
      lit(1000000007L)) + 1L).cast("double") / lit(1000000008.0d)
    val keyed = docs
      .select(
        col("source"),
        col("doc_id"),
        round(-log(u) / w.cast("double"), 9).as("skey"))
      .as[(String, Long, Double)]
    val agg = new graft.functions.TopKAggregator(kPerGroup)
    keyed
      .groupByKey(_._1)
      // smallest key wins A-Res; the aggregator keeps HIGHEST score, so
      // feed the negated key (ties by doc_id either way)
      .mapValues { case (_, id, skey) => (id, -skey) }
      .agg(agg.toColumn)
      .flatMap { case (src, picks) =>
        picks.zipWithIndex.map { case ((id, _), i) => (src, id, i + 1L) }
      }
      .toDF("source", "doc_id", "rank")
  }

  /** [[weightedSampleGrouped]] mirrored as the per-source window rank. */
  def weightedSampleGroupedSql(kPerGroup: Int, seed: Long = 7L): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH s AS (
       |  SELECT source, doc_id,
       |         round(-ln(((((doc_id % 2147483648 + 2147483648) % 2147483648
       |                       + $seed) * 2654435761) % 1000000007 + 1) / 1000000008.0)
       |               / CAST(greatest(len($toks), 1) AS DOUBLE), 9) AS skey
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT source, doc_id, rank FROM r WHERE rank <= $kPerGroup""".stripMargin
  }

  /** Cross-split contamination report — the train→eval leakage check run
    * after [[splitAssign]]: for every val/test document, how many of its
    * distinct word-3-gram shingles also occur in ANY train document, and
    * the leaked fraction. A nonzero tail here means the eval split is
    * compromised (near-dups of training docs landed in eval) — the same
    * overlap machinery as `decontaminate`, pointed at the pipeline's own
    * split instead of an external benchmark.
    *
    * Scale shape: gram extraction is one narrow map; the train-gram set
    * is one distinct on the 40-bit gram hash (map-side partial); the
    * membership probe is an equi-join on that hash (Bloom-prefilterable
    * at 100 TB); the per-doc rollup keys on doc_id.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val bucket = pmod(Parity.fp40(col("text")), lit(100L))
    val base = docs.select(
      col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
      Parity.shingles(toks(col("text"))).as("gs"))
    val grams = base
      .select(col("doc_id"), col("split"), explode(col("gs")).as("g"))
      .select(col("doc_id"), col("split"), Parity.tokenH40(col("g")).as("h"))
    val trainSet = grams.filter(col("split") === "train").select("h").distinct()
    val leaked = grams
      .filter(col("split") =!= "train")
      .join(trainSet, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_leaked"))
    base
      .filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), size(col("gs")).cast("long").as("n_grams"))
      .join(leaked, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("split"),
        col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        round(
          coalesce(col("n_leaked"), lit(0L)).cast("double") /
            greatest(col("n_grams"), lit(1L)).cast("double") + RoundEps,
          6).as("leak_ratio"))
  }

  /** [[splitLeakage]], mirrored: same split rule, same distinct shingles,
    * same 40-bit gram hash.
    */
  def splitLeakageSql(): String = {
    val toks = Parity.tokensSql("text")
    val h = Parity.tokenH40Sql("g")
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CASE WHEN ${Parity.fp40Sql("text")} % 100 < 80 THEN 'train'
       |              WHEN ${Parity.fp40Sql("text")} % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |         ${Parity.shinglesSql(toks)} AS gs
       |  FROM documents),
       |gram AS (
       |  SELECT doc_id, split, $h AS h
       |  FROM (SELECT doc_id, split, unnest(gs) AS g FROM base)),
       |tr AS (SELECT DISTINCT h FROM gram WHERE split = 'train'),
       |lk AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked
       |  FROM gram JOIN tr USING (h) WHERE split <> 'train' GROUP BY doc_id)
       |SELECT b.doc_id, b.split, CAST(len(b.gs) AS BIGINT) AS n_grams,
       |       coalesce(l.n_leaked, 0) AS n_leaked,
       |       round(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) /
       |             CAST(greatest(len(b.gs), 1) AS DOUBLE) + 1e-9, 6) AS leak_ratio
       |FROM base b LEFT JOIN lk l USING (doc_id) WHERE b.split <> 'train'""".stripMargin
  }

  /** Per-source quality-percentile filter: keep each source's top half
    * by [[quality]] score (rounded score, ties broken by doc_id, half
    * rounded up) — the "keep the best X% per domain" curation gate,
    * parameterized here at the median.
    *
    * Scale shape: the per-source rank is a sort-based exchange keyed on
    * source (spillable, one-counter state); the per-source doc counts
    * ride a broadcast join (sources ≪ docs). Cross-engine exactness:
    * rank and cut are pure integer logic over the already-hash-matched
    * 6 dp quality score.
    */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val q = quality(docs).select(col("doc_id"), col("quality"))
    val d = docs.select(col("doc_id"), col("source")).join(q, Seq("doc_id"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    d.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("source"))
      .filter(col("rn") <= expr("(n_docs + 1) div 2"))
      .select(col("source"), col("doc_id"), col("quality"), col("rn"))
  }

  /** [[qualityFilter]], mirrored over the text_quality oracle body
    * (passed in so the two stay one definition).
    */
  def qualityFilterSql(qualitySql: String): String =
    s"""WITH q AS ($qualitySql),
       |j AS (
       |  SELECT d.source, q.doc_id, q.quality
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM j GROUP BY source),
       |r AS (
       |  SELECT source, doc_id, quality,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)
       |              AS BIGINT) AS rn
       |  FROM j)
       |SELECT r.source, r.doc_id, r.quality, r.rn
       |FROM r JOIN c USING (source) WHERE rn <= (n_docs + 1) // 2""".stripMargin

  /** Document-length histogram: token-count deciles (bucket = n_tokens/10,
    * capped at 20) with document counts and mean char length — the
    * length-distribution snapshot a corpus-curation pipeline reports.
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs
      .select(
        // `/` on longs is DOUBLE division in Column algebra — cast back
        // after to get the integer decile (floor for non-negatives)
        least((size(toks(col("text"))).cast("long") / 10L).cast("long"), lit(20L)).as("bucket"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 6).as("avg_chars"))

  /** Deterministic content-hash train/val/test split: bucket =
    * fp40 mod 100, train < 80 ≤ val < 90 ≤ test. Hash-based (not
    * random) so the assignment is REPRODUCIBLE across runs, engines and
    * cluster sizes, and duplicate documents land in the same split —
    * the leakage-safety property row-level random sampling lacks. A pure
    * narrow map.
    */
  def splitAssign(docs: DataFrame): DataFrame = {
    val bucket = pmod(Parity.fp40(col("text")), lit(100L))
    docs.select(
      col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
  }

  /** GROUP-AWARE split assignment: the split is a function of the
    * SOURCE, so every document of a crawl domain lands in the same
    * split — the standard guard against near-duplicate leakage that a
    * per-document split ([[splitAssign]], which only pins exact dups
    * via the content hash) cannot give. Same 80/10/10 hash buckets,
    * keyed on the source's character fold. Pure narrow map.
    */
  def splitAssignGrouped(docs: DataFrame): DataFrame = {
    val bucket = pmod(Parity.charFold(col("source"), 31L, Parity.TokP), lit(100L))
    docs.select(
      col("doc_id"),
      col("source"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
  }

  /** [[splitAssignGrouped]] mirrored. */
  def splitAssignGroupedSql(): String = {
    val fold = Parity.charFoldSql("source", 31L, Parity.TokP)
    s"""SELECT doc_id, source,
       |       CASE WHEN ($fold) % 100 < 80 THEN 'train'
       |            WHEN ($fold) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  /** Terms entering the Zipf regression. */
  val ZipfTopK = 40

  /** Zipf rank-frequency fit: least-squares slope/intercept of
    * `ln freq ~ ln rank` over the top-[[ZipfTopK]] terms by total
    * frequency (ties → term) — the corpus-health diagnostic (natural
    * language sits near slope −1; a flat or cliffy curve flags
    * boilerplate or truncation). Both logs ride the 9 dp grid; the
    * four regression sums fold in rank order (bit-identical), and the
    * rank itself comes from a 40-row bounded sort.
    *
    * Output: one row `(n_terms, slope, intercept)`.
    */
  def zipfFit(docs: DataFrame): DataFrame = {
    val top = docs
      .select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(ZipfTopK)
    val ranked = top
      .withColumn(
        "rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("freq").desc, col("term"))).cast("long"))
      .select(
        col("rank"),
        round(log(col("rank").cast("double")), 9).as("x"),
        round(log(col("freq").cast("double")), 9).as("y"))
    def fold(f: Column): Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("rank"), f.as("v")))), s => s("v")),
        lit(0.0d),
        (acc, v) => acc + v)
    ranked
      .agg(
        count(lit(1)).cast("double").as("n"),
        fold(col("x")).as("sx"),
        fold(col("y")).as("sy"),
        fold(col("x") * col("y")).as("sxy"),
        fold(col("x") * col("x")).as("sxx"))
      .select(
        col("n").cast("long").as("n_terms"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")),
          6).as("slope"),
        round(
          (col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"),
          6).as("intercept"))
  }

  /** [[zipfFit]] mirrored — same rank order, same fold order, same
    * expression shapes.
    */
  def zipfFitSql(): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH hist AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($toksSql) AS term FROM documents) GROUP BY term),
       |top AS (SELECT term, freq FROM hist ORDER BY freq DESC, term LIMIT $ZipfTopK),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank,
       |         round(ln(CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE)), 9) AS x,
       |         round(ln(CAST(freq AS DOUBLE)), 9) AS y
       |  FROM top),
       |s AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x ORDER BY rank)),
       |                     (a, v) -> a + v) AS sx,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(y ORDER BY rank)),
       |                     (a, v) -> a + v) AS sy,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * y ORDER BY rank)),
       |                     (a, v) -> a + v) AS sxy,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * x ORDER BY rank)),
       |                     (a, v) -> a + v) AS sxx
       |  FROM ranked)
       |SELECT CAST(n AS BIGINT) AS n_terms,
       |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
       |FROM s""".stripMargin
  }

  /** Split sizes per language — the stratification report for
    * [[splitAssign]]. */
  def splitStats(docs: DataFrame): DataFrame =
    splitAssign(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Chunk size / stride (chars) for [[chunk]]: 200-char windows every
    * 150 chars = 50 chars of overlap, so no boundary context is lost. */
  val ChunkSize = 200
  val ChunkStride = 150

  /** Split documents into fixed-size overlapping character windows — the
    * doc→training-example step of an LLM data pipeline (a 100 KB document
    * is not one training row). Chunk i covers [1 + i·stride, +size);
    * chunks start while their offset is inside the text, so every doc
    * (including empty) yields ≥1 chunk and the final chunk may be short.
    *
    * A pure narrow map: `sequence` + `explode` fan out per source row
    * with no shuffle at all — at 100 TB this pipelines straight from
    * scan to sink. Null text is normalized to '' (one empty chunk) so
    * the fan-out arithmetic is engine-independent.
    */
  def chunk(docs: DataFrame, size: Int = ChunkSize, stride: Int = ChunkStride): DataFrame =
    docs
      .select(
        col("doc_id"),
        coalesce(col("text"), lit("")).as("t"))
      .select(
        col("doc_id"),
        col("t"),
        explode(sequence(lit(0L), expr(s"greatest(length(t) - 1, 0L) div $stride"))).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        expr(s"substring(t, cast(1 + chunk_idx * $stride AS INT), $size)").as("chunk"))
      .withColumn("chunk_chars", length(col("chunk")).cast("long"))

  /** SQL mirror of [[chunk]] (DuckDB: unnest(range(..)) fans out per row). */
  def chunkSql(size: Int = ChunkSize, stride: Int = ChunkStride): String =
    s"""SELECT doc_id, chunk_idx,
       |       substr(t, CAST(1 + chunk_idx * $stride AS INT), $size) AS chunk,
       |       CAST(length(substr(t, CAST(1 + chunk_idx * $stride AS INT), $size)) AS BIGINT) AS chunk_chars
       |FROM (SELECT doc_id, coalesce(text, '') AS t,
       |             unnest(range(0, greatest(length(coalesce(text, '')) - 1, 0) // $stride + 1)) AS chunk_idx
       |      FROM documents)""".stripMargin

  /** Shards for [[shuffleShards]]. */
  val NShards = 8L

  /** Deterministic corpus shuffle, sharded: every doc gets a pseudo-random
    * but REPRODUCIBLE (shard, pos) — shard by a multiplicative hash of the
    * doc id, position by the hash order within the shard. This is how a
    * training pipeline randomizes example order at 100 TB: a global
    * row_number would funnel the corpus through one partition, while
    * per-shard windows run fully parallel (one hash exchange on shard),
    * and readers consume shards independently.
    */
  def shuffleShards(docs: DataFrame, seed: Long = 1L, nShards: Long = NShards): DataFrame = {
    // multiplicative hashing in exact BIGINT arithmetic: the id is
    // folded below 2^31 FIRST so (2^31)·2654435761 ≈ 5.7e18 stays under
    // Long.Max — an unfolded id above ~3.5e9 would overflow, silently in
    // Spark and as an error in the oracle engine. The inner fold is
    // pmod, and the oracle spells it ((id % m + m) % m) because SQL `%`
    // keeps the dividend's sign — negative ids (a legitimate convention,
    // see corpus_upsert's fresh rows) must land in the same shard in
    // both engines. After the fold every operand is non-negative (seed
    // must be ≥ 0), so the outer `%`s agree without the same treatment.
    // upper bound keeps fold·mult + seed < Long.Max with headroom (the
    // overflow analysis above assumes seed ≪ 2^31); a seed near
    // Long.Max would overflow silently in Spark but error in DuckDB
    require(
      seed >= 0 && seed < 1000000000L,
      s"seed must be in [0, 1e9), got $seed")
    val k = pmod(
      pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L) + lit(seed),
      lit(1000000007L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("k"), col("doc_id"))
    docs
      .select(col("doc_id"), k.as("k"))
      .withColumn("shard", pmod(col("k"), lit(nShards)))
      .select(
        col("doc_id"),
        col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  /** SQL mirror of [[shuffleShards]]. */
  def shuffleShardsSql(seed: Long = 1L, nShards: Long = NShards): String =
    s"""SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
       |FROM (SELECT doc_id,
       |             ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761 + $seed)
       |               % 1000000007 AS k,
       |             (((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761 + $seed)
       |               % 1000000007) % $nShards AS shard
       |      FROM documents)""".stripMargin

  /** Document fingerprinting: two independent rolling polynomial hashes of
    * the full text plus their 40-bit concatenation — the content-addressed
    * identity used by exact dedup at scale.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val f1 = Parity.charFold(col("text"), 31L, Parity.TokP)
    val f2 = Parity.charFold(col("text"), 131L, Parity.TokP2)
    docs.select(
      col("doc_id"),
      f1.as("fp_a"),
      f2.as("fp_b"),
      (f1 * Parity.TokP2 + f2).as("fp40"))
  }

  /** Sequence packing: assign documents to fixed-capacity context-window
    * bins (`binTokens` tokens each) by running token count within a
    * `lang` shard, in doc_id order — the batch-shaping step between a
    * curated corpus and an LM trainer. `bin`/`offset` are pure integer
    * arithmetic on the exclusive prefix sum, so the assignment is
    * identical on any engine and any cluster size.
    *
    * Scale shape: ONE window sort per shard (the same shuffle profile as
    * any partitioned window); at 100 TB the shard key keeps partitions
    * independent, and a per-shard ordered scan is exactly what the
    * sequential packer needs — no driver-side loop.
    */
  def pack(docs: DataFrame, binTokens: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("lang"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        // integer division (not double `/` + cast): bit-exact vs the
        // oracle's `//` for ANY binTokens, not just powers of two
        expr(s"cum div ${binTokens}L").as("bin"),
        pmod(col("cum"), lit(binTokens)).as("offset"))
  }

  /** Per-stratum sampling rates for [[stratifiedSample]], in thousandths. */
  val SampleRates: Map[String, Long] = Map("en" -> 500L, "es" -> 250L)
  val SampleRateDefault: Long = 125L

  /** Deterministic stratified sampling: keep a doc iff its content hash
    * mod 1000 falls under its language's rate — reproducible across runs
    * and engines (no RNG), duplicate docs sampled identically, and the
    * predicate is a narrow map that never shuffles. The per-doc decision
    * table (not just the survivors) is emitted so the oracle checks both
    * kept and dropped rows.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val rate = SampleRates.foldLeft(when(lit(false), lit(0L))) { case (acc, (l, r)) =>
      acc.when(col("lang") === l, lit(r))
    }.otherwise(lit(SampleRateDefault))
    docs.select(
      col("doc_id"),
      col("lang"),
      (pmod(Parity.fp40(col("text")), lit(1000L)) < rate).as("kept"))
  }

  /** Email/phone regexes for [[piiRedact]] — deliberately simple enough
    * to be engine-portable (same semantics in Java regex and RE2).
    */
  val EmailRe = "[a-z0-9.]+@[a-z0-9.]+"
  val PhoneRe = "555-[0-9]{4}"

  /** PII redaction over a corpus: count and mask email/phone patterns.
    * The harness corpus carries no real PII, so each doc is first
    * AUGMENTED with synthetic contact strings derived from doc_id —
    * making the redaction observable and the count assertions non-trivial
    * — then scanned and masked. Output carries the redacted text's
    * length and content hash (not the text itself), which pins the exact
    * post-redaction bytes against the oracle. Pure narrow map, codegen'd
    * regex — no shuffle, no UDF.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val aug = concat(
      col("text"),
      lit(" contact u"),
      col("doc_id").cast("string"),
      lit("@mail.example or call 555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    val redacted =
      regexp_replace(regexp_replace(aug, lit(EmailRe), lit("<EMAIL>")), lit(PhoneRe), lit("<PHONE>"))
    docs.select(
      col("doc_id"),
      regexp_count(aug, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(aug, lit(PhoneRe)).cast("long").as("n_phones"),
      length(redacted).cast("long").as("n_chars_red"),
      Parity.charFold(redacted, 31L, Parity.TokP).as("redacted_fp"))
  }

  /** Benchmark-doc selector for [[decontaminate]]: every 97th doc stands
    * in for an eval set held out of training.
    */
  val BenchmarkMod = 97L

  /** Document-frequency cap for [[decontaminate]]'s probe: a benchmark
    * shingle contained in more than this many NON-benchmark docs is
    * boilerplate, not leakage evidence, and is excluded from the
    * contamination test. Without it one ubiquitous trigram ("terms of
    * service") shared by eval and corpus flags the entire corpus.
    */
  val DecontamMaxDf = 50L

  /** Training-set decontamination: flag corpus docs sharing any
    * DISCRIMINATIVE word 3-gram with the benchmark set (docs where
    * `doc_id % 97 = 0`) — the eval-leakage scrub every LM data pipeline
    * runs before training. Discriminative = contained in ≤ `maxDf`
    * non-benchmark docs ([[DecontamMaxDf]]); ubiquitous shingles carry
    * no leakage signal and are dropped (mirrored in the oracle).
    *
    * Physical shape at 100 TB: the benchmark shingle set is SMALL (the
    * eval suite, not the corpus), so the distinct benchmark shingles
    * broadcast and the corpus side is a semi-join probe on its exploded
    * shingles — no shuffle of corpus rows, never a doc×doc comparison.
    * The DF filter aggregates only the HIT rows (corpus shingles that
    * matched a benchmark shingle — bounded by the eval suite's reach,
    * not the corpus), so the cap costs one small extra aggregate.
    */
  def decontaminate(docs: DataFrame, maxDf: Long = DecontamMaxDf): DataFrame = {
    val sh = docs.select(
      col("doc_id"),
      explode(graft.functions.ShingleStrings(Parity.splitWords(col("text")), distinct = true))
        .as("g"))
    val benchShingles =
      sh.filter(pmod(col("doc_id"), lit(BenchmarkMod)) === 0).select(col("g")).distinct()
    val hits = Phys.materialized(
      sh.filter(pmod(col("doc_id"), lit(BenchmarkMod)) =!= 0)
        .join(broadcast(benchShingles), Seq("g"), "left_semi"))
    // shingles are distinct per doc → count(*) per g is its DF among
    // non-benchmark docs; shingles above the cap are boilerplate
    val hot = hits
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("g"))
    val contaminated = hits
      .join(broadcast(hot), Seq("g"), "left_anti")
      .select(col("doc_id"))
      .distinct()
      .withColumn("hit", lit(true))
    docs
      .select(col("doc_id"), (pmod(col("doc_id"), lit(BenchmarkMod)) === 0).as("is_benchmark"))
      .join(contaminated, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("is_benchmark"),
        (coalesce(col("hit"), lit(false)) && !col("is_benchmark")).as("contaminated"))
  }

  /** Target mixture shares per language, in parts-per-million; domains
    * not listed get [[MixtureDefaultPpm]]. */
  val MixtureTargetsPpm: Map[String, Long] = Map("en" -> 600000L, "es" -> 250000L)
  val MixtureDefaultPpm: Long = 150000L

  /** Domain-mixture weighting — the data-mixing step between a curated
    * corpus and an LM trainer: given per-domain target shares, compute
    * each domain's repeat factor ("epochs") so sampling every document
    * `epochs` times yields the target token mixture:
    * `epochs(d) = share(d) · total_tokens / tokens(d)`.
    *
    * Scale shape: one hash aggregate per domain (map-side partial) +
    * a single-row total cross-joined INSIDE the plan (no driver count
    * pass). The epochs arithmetic runs in doubles with a fixed
    * evaluation order — token counts < 2⁵³ are exact and both engines'
    * IEEE ops are correctly rounded, so the result hash-matches the
    * oracle while never overflowing (the all-integer form
    * `share_ppm · total_tokens` exceeds 2⁶³ at 100 TB token counts).
    */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    val targetPpm = MixtureTargetsPpm.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (l, p)) => acc.when(col("lang") === l, lit(p))
    }.otherwise(lit(MixtureDefaultPpm))
    val per = docs
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per
      .crossJoin(total)
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        targetPpm.as("target_ppm"),
        // greatest(…, 1): a domain of all-empty docs must not divide by
        // zero (same guard as the per-doc ratios above)
        round(
          (targetPpm.cast("double") / 1000000.0) *
            (col("total_tokens").cast("double") /
              greatest(col("n_tokens"), lit(1L)).cast("double")),
          6).as("epochs"))
  }

  /** Temperature-scaled mixture weights (the multilingual sampling
    * trick of Conneau & Lample 2019: upsample tails with
    * `q_l ∝ p_l^α`), at α = 0.5 — deliberately, because `sqrt` is
    * CORRECTLY-ROUNDED IEEE on every engine, so the scaled shares are
    * bit-identical with no transcendental grid at all. The ≤|langs|
    * normalizing sum folds in sorted-lang order (the ordered-fold
    * discipline), and the raw share stays an exact integer ppm.
    * Output: `(lang, n_docs, n_tokens, share_ppm, alpha_share)`.
    */
  def mixtureAlpha(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("total_tokens"))
    val base = per
      .crossJoin(broadcast(total))
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        expr("n_tokens * 1000000 div total_tokens").as("share_ppm"),
        sqrt(col("n_tokens").cast("double") / col("total_tokens").cast("double")).as("pa"))
    val norm = base.agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("lang"), col("pa")))), s => s("pa")),
        lit(0.0d),
        (acc, v) => acc + v).as("z"))
    base
      .crossJoin(broadcast(norm))
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        col("share_ppm"),
        round(col("pa") / col("z"), 6).as("alpha_share"))
  }

  /** [[mixtureAlpha]] mirrored. */
  def mixtureAlphaSql(): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH per AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per),
       |base AS (
       |  SELECT lang, n_docs, n_tokens,
       |         n_tokens * 1000000 // total_tokens AS share_ppm,
       |         sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS pa
       |  FROM per CROSS JOIN tot),
       |norm AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                 list(pa ORDER BY lang)), (a, x) -> a + x) AS z FROM base)
       |SELECT lang, n_docs, n_tokens, share_ppm, round(pa / z, 6) AS alpha_share
       |FROM base CROSS JOIN norm""".stripMargin
  }

  /** Repetition detection: the share of a doc's word trigrams taken by
    * its single most frequent trigram — near 1.0 for degenerate
    * loop/boilerplate docs, near 1/n for healthy prose. Uses the
    * NON-distinct trigram multiset ([[Parity.shinglesAll]]); docs under 3
    * tokens report zero grams. Explode + two hash aggregates, both
    * map-side partial — the same shuffle profile as TF-IDF.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val grams = docs.select(
      col("doc_id"),
      explode(graft.functions.ShingleStrings(Parity.splitWords(col("text")), distinct = false))
        .as("g"))
    val per = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val agg = per
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), max(col("c")).as("max_rep"))
    docs
      .select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("max_rep"), lit(0L)).as("max_rep"),
        round(
          when(col("n_grams").isNull, 0.0)
            .otherwise(col("max_rep").cast("double") / col("n_grams").cast("double")) + RoundEps,
          6).as("rep_ratio"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): each document scored by the corpus unigram LM
    * ([[unigramScore]]) and split WITHIN ITS LANGUAGE into three
    * equal-size buckets by score rank — head (best LM fit ≈ lowest
    * perplexity), middle, tail. The lang partitioning is the point:
    * perplexity is only comparable within a language, and CCNet's
    * head/middle/tail is the standard pre-training data-selection
    * signal.
    *
    * The rank split here is the exact `ntile` form (a per-lang sort) —
    * correct at any size but sort-bound; at 100 TB the same buckets
    * come from per-lang tercile THRESHOLDS (the binned-quantile
    * pattern of `events_quantiles_binned`: one hash aggregate over
    * score bins + a tiny cumulative scan) applied as a broadcast
    * compare, trading exact rank ties at the two boundaries for a
    * sort-free plan. Empty docs (no tokens → NULL score) rank last and
    * land in the tail, explicitly on both engines.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = unigramScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("mean_lnp").desc_nulls_last, col("doc_id"))
    scored
      .withColumn("tile", ntile(3).over(w))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        col("mean_lnp"),
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** [[pplBuckets]] mirrored: the same nested unigram-LM scoring CTE,
    * the same NULLS LAST rank order, DuckDB `ntile`.
    */
  def pplBucketsSql(): String =
    s"""WITH scored AS (${unigramScoreSql().replace("\n", "\n  ")}),
       |tiled AS (
       |  SELECT s.doc_id, d.lang, s.n_tokens, s.mean_lnp,
       |         ntile(3) OVER (PARTITION BY d.lang
       |                        ORDER BY s.mean_lnp DESC NULLS LAST, s.doc_id) AS tile
       |  FROM scored s JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, n_tokens, mean_lnp,
       |       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM tiled""".stripMargin

  /** Share of each language's tokens the budget selection keeps. */
  val BudgetShare = 0.4

  /** Token-budget corpus selection: within each language, documents are
    * taken best-LM-fit-first ([[unigramScore]] rank, the [[pplBuckets]]
    * order) until the language's token budget —
    * [[BudgetShare]] · its total tokens — is exhausted; a document is
    * selected iff it fits ENTIRELY within the remaining budget
    * (cumulative tokens through it ≤ budget). This is the final
    * data-selection step of a curation pipeline: a fixed token budget
    * per language, spent on the highest-quality documents.
    *
    * Scale shape: one hash aggregate for the per-lang totals
    * (broadcast back), one running-sum window over the per-lang rank
    * order — same sort-bound-but-distributed profile as [[pplBuckets]],
    * with the same binned-threshold escape hatch at 100 TB (find the
    * score cutoff whose cumulative token mass hits the budget, then
    * broadcast-compare).
    */
  def budgetSelect(docs: DataFrame): DataFrame = {
    val scored = unigramScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val totals = docs
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("lang_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("mean_lnp").desc_nulls_last, col("doc_id"))
    scored
      .join(broadcast(totals), Seq("lang"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        col("mean_lnp"),
        col("cum_tokens"),
        (col("cum_tokens").cast("double") <=
          lit(BudgetShare) * col("lang_tokens").cast("double")).as("selected"))
  }

  /** [[budgetSelect]] mirrored. */
  def budgetSelectSql(): String = {
    val toks = Parity.tokensSql("text")
    s"""WITH scored AS (${unigramScoreSql().replace("\n", "\n  ")}),
       |lt AS (SELECT lang, CAST(sum(len($toks)) AS BIGINT) AS lang_tokens
       |       FROM documents GROUP BY lang),
       |cum AS (
       |  SELECT s.doc_id, d.lang, s.n_tokens, s.mean_lnp,
       |         CAST(sum(s.n_tokens) OVER (PARTITION BY d.lang
       |              ORDER BY s.mean_lnp DESC NULLS LAST, s.doc_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |         lt.lang_tokens
       |  FROM scored s JOIN documents d USING (doc_id) JOIN lt ON lt.lang = d.lang)
       |SELECT doc_id, lang, n_tokens, mean_lnp, cum_tokens,
       |       (CAST(cum_tokens AS DOUBLE) <=
       |        $BudgetShare * CAST(lang_tokens AS DOUBLE)) AS selected
       |FROM cum""".stripMargin
  }

  /** Corpus novelty curve: for each document (in doc_id ≅ ingest
    * order), the share of its distinct word-3-gram shingles never seen
    * in any EARLIER document — the redundancy-growth audit that tells
    * a crawl when marginal data stops adding information. First
    * occurrence per shingle is one min-aggregate; the per-doc novel
    * count is one join back on the shingle — no pairwise anything.
    *
    * Output: `(doc_id, n_shingles, n_novel, novelty_ppm)`; shingle-less
    * docs carry 0/0/0.
    */
  def noveltyCurve(docs: DataFrame): DataFrame = {
    val inv = Phys.materialized(
      docs.select(col("doc_id"), explode(Parity.shingles(toks(col("text")))).as("g")))
    val first = inv.groupBy(col("g")).agg(min(col("doc_id")).as("first_id"))
    val per = inv
      .join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs
      .select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0) * 1000000 div greatest(coalesce(n_shingles, 0), 1)")
          .as("novelty_ppm"))
  }

  /** [[noveltyCurve]] mirrored. */
  def noveltyCurveSql(): String = {
    val toksSql = Parity.tokensSql("text")
    val sh = Parity.shinglesSql("t")
    s"""WITH inv AS (
       |  SELECT doc_id, unnest(s) AS g
       |  FROM (SELECT doc_id, $sh AS s
       |        FROM (SELECT doc_id, $toksSql AS t FROM documents))),
       |first AS (SELECT g, min(doc_id) AS first_id FROM inv GROUP BY g),
       |per AS (SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |               CAST(sum(CASE WHEN f.first_id = i.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |                 AS n_novel
       |        FROM inv i JOIN first f USING (g) GROUP BY i.doc_id)
       |SELECT d.doc_id, coalesce(p.n_shingles, 0) AS n_shingles,
       |       coalesce(p.n_novel, 0) AS n_novel,
       |       coalesce(p.n_novel, 0) * 1000000 //
       |         greatest(coalesce(p.n_shingles, 0), 1) AS novelty_ppm
       |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
  }

  /** Language-ID confusion matrix: [[langId]]'s prediction against the
    * stored `lang` label, `(actual, pred_lang, n)` — the eval read of
    * the classifier (off-diagonal mass = where the heuristic profile
    * fails). One narrow map + one hash aggregate; ≤ |langs|² rows.
    */
  def langIdConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang").as("actual"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** [[langIdConfusion]] mirrored. */
  def langIdConfusionSql(): String = {
    val toksSql = Parity.tokensSql("text")
    val stopList = Stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |         CAST(len(list_filter($toksSql, t -> t IN $stopList)) AS BIGINT) AS n_stop,
       |         CAST(len(list_filter($toksSql, t -> regexp_matches(t, '[aeiou]$$'))) AS DOUBLE) /
       |           greatest(CAST(len($toksSql) AS DOUBLE), 1.0) AS vr
       |  FROM documents),
       |p AS (SELECT lang,
       |             CASE WHEN n_stop >= 2 THEN 'en' WHEN vr > 0.5 THEN 'es'
       |                  ELSE 'other' END AS pred_lang
       |      FROM f)
       |SELECT lang AS actual, pred_lang, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY 1, 2""".stripMargin
  }

  // ---- keyword extraction --------------------------------------------------

  /** Top-k tf-idf terms per document — the keyword-extraction read of
    * [[tfidf]] (per-doc topical labels for routing, mixing, and search
    * indexing). The per-doc top-k comes from sorting the doc's OWN
    * (−tfidf, term) structs and slicing — state bounded by the
    * document's vocabulary, never a corpus-wide window/sort; ties
    * break toward the lexicographically smaller term.
    */
  def topTerms(docs: DataFrame, k: Int = 3): DataFrame =
    tfidf(docs)
      .groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(struct((-col("tfidf")).as("nt"), col("term")))).as("sorted"))
      .select(col("doc_id"), posexplode(slice(col("sorted"), 1, k)).as(Seq("p", "e")))
      .select(
        col("doc_id"),
        (col("p") + 1).cast("long").as("rank"),
        col("e.term").as("term"),
        (-col("e.nt")).as("tfidf"))

  /** [[topTerms]] mirrored — the oracle spells the same top-k as a
    * per-doc window rank (correct at oracle scale; the engine's
    * bounded per-doc sort is what survives 100 TB).
    */
  def topTermsSql(k: Int = 3): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |sc AS (SELECT doc_id, term,
       |              round(tf * ln(CAST(nn.n AS DOUBLE) / df), 6) AS tfidf
       |       FROM tf JOIN dfx USING (term) CROSS JOIN nn),
       |r AS (SELECT doc_id, term, tfidf,
       |             CAST(row_number() OVER (PARTITION BY doc_id
       |                                     ORDER BY tfidf DESC, term) AS BIGINT) AS rank
       |      FROM sc)
       |SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= $k""".stripMargin
  }

  // ---- excess-loss (learnability) selection --------------------------------

  /** Excess-loss data selection (the RHO-loss shape — Mindermann et al.
    * 2022, "Prioritized Training on Points that are Learnable, Worth
    * Learning, and Not Yet Learnt": score each example by the loss gap
    * between a weak reference model and a stronger one). Here the weak
    * model is the self-trained unigram LM and the strong one the bigram
    * LM, so `excess = mean_lnp2 − mean_lnp` — how much CONTEXT improves
    * the fit. High excess = structured, learnable prose; near-zero =
    * order-free token soup (a shuffled bag scores the same under both);
    * the ranking a selection pipeline spends its budget down.
    *
    * Both operands are the engines' bit-identical 6 dp means, so the
    * difference needs no extra grid; docs too short for a bigram (< 2
    * tokens) carry NULL excess on both engines. Cost is the two
    * scorers' corpus crossings plus one doc_id join — each component
    * already scale-shaped ([[unigramScore]], [[bigramScore]]).
    */
  def excessLoss(docs: DataFrame): DataFrame = {
    val u = unigramScore(docs)
    val b = bigramScore(docs)
    u.join(b, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("mean_lnp"),
        col("mean_lnp2"),
        round(col("mean_lnp2") - col("mean_lnp"), 6).as("excess"))
  }

  /** [[excessLoss]] mirrored: the two scorer CTE chains joined. */
  def excessLossSql(): String =
    s"""WITH u AS (${unigramScoreSql().replace("\n", "\n  ")}),
       |b AS (${bigramScoreSql().replace("\n", "\n  ")})
       |SELECT doc_id, u.n_tokens, u.mean_lnp, b.mean_lnp2,
       |       round(b.mean_lnp2 - u.mean_lnp, 6) AS excess
       |FROM u JOIN b USING (doc_id)""".stripMargin

  // ---- Gopher quality-rule battery -----------------------------------------

  /** The Gopher pre-training quality filters (Rae et al. 2021,
    * arXiv:2112.11446 §A.1.1), as per-document boolean rules plus the
    * conjunction — the standard heuristic filter stack that runs BEFORE
    * any learned quality model:
    *
    *  - `wc_ok`    50 ≤ word count ≤ 100 000
    *  - `mwl_ok`   mean word length in [3, 10] characters
    *  - `sym_ok`   symbol-to-word ratio (`#`, `…`, `...`) ≤ 0.1
    *  - `bullet_ok` ≤ 90 % of lines start with a bullet
    *  - `ell_ok`   ≤ 30 % of lines end with an ellipsis
    *  - `alpha_ok` ≥ 80 % of words contain an alphabetic character
    *  - `stop_ok`  ≥ 2 distinct stopwords present
    *
    * Every rule is an INTEGER comparison (ratio thresholds spelled as
    * cross-multiplication, e.g. `10·n_sym ≤ n_words`), so both engines
    * agree exactly with no float grid at all. One narrow projection per
    * document — no shuffle, no state; at 100 TB this is a pure map
    * stage fused into the scan.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val text = col("text")
    val ts = toks(text)
    val n = size(ts).cast("long")
    val sumLen = aggregate(ts, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val nAlpha = size(filter(ts, t => t.rlike("[a-z]"))).cast("long")
    val nStop = size(
      filter(
        array(Stopwords.map(lit): _*),
        sw => array_contains(ts, sw))).cast("long")
    val nSym =
      (regexp_count(text, lit("[#…]")) + regexp_count(text, lit("\\.\\.\\."))).cast("long")
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast("long")
    val nBullet = size(
      filter(lines, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• "))).cast("long")
    val nEll = size(filter(lines, l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    val wcOk = n >= 50L && n <= 100000L
    val mwlOk = n > 0L && sumLen >= n * 3L && sumLen <= n * 10L
    val symOk = nSym * 10L <= n
    val bulletOk = nBullet * 10L <= nLines * 9L
    val ellOk = nEll * 10L <= nLines * 3L
    val alphaOk = nAlpha * 5L >= n * 4L
    val stopOk = nStop >= 2L
    docs.select(
      col("doc_id"),
      n.as("n_words"),
      wcOk.as("wc_ok"),
      mwlOk.as("mwl_ok"),
      symOk.as("sym_ok"),
      bulletOk.as("bullet_ok"),
      ellOk.as("ell_ok"),
      alphaOk.as("alpha_ok"),
      stopOk.as("stop_ok"),
      (wcOk && mwlOk && symOk && bulletOk && ellOk && alphaOk && stopOk).as("pass"))
  }

  /** [[gopherRules]] mirrored — the same integer cross-multiplications. */
  def gopherRulesSql(): String = {
    val toksSql = Parity.tokensSql("text")
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |         CAST(len(ts) AS BIGINT) AS n,
       |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |              list_transform(ts, t -> CAST(len(t) AS BIGINT))), (a, x) -> a + x)
       |           AS BIGINT) AS sum_len,
       |         CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
       |         CAST(len(list_filter([$stopList], sw -> list_contains(ts, sw))) AS BIGINT) AS n_stop,
       |         CAST(len(regexp_extract_all(text, '[#…]')) +
       |              len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
       |         CAST(len(lines) AS BIGINT) AS n_lines,
       |         CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')
       |              OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
       |         CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))
       |           AS BIGINT) AS n_ell
       |  FROM (SELECT doc_id, text, $toksSql AS ts, string_split(text, chr(10)) AS lines
       |        FROM documents)),
       |r AS (
       |  SELECT doc_id, n AS n_words,
       |         (n >= 50 AND n <= 100000) AS wc_ok,
       |         (n > 0 AND sum_len >= n * 3 AND sum_len <= n * 10) AS mwl_ok,
       |         (n_sym * 10 <= n) AS sym_ok,
       |         (n_bullet * 10 <= n_lines * 9) AS bullet_ok,
       |         (n_ell * 10 <= n_lines * 3) AS ell_ok,
       |         (n_alpha * 5 >= n * 4) AS alpha_ok,
       |         (n_stop >= 2) AS stop_ok
       |  FROM f)
       |SELECT doc_id, n_words, wc_ok, mwl_ok, sym_ok, bullet_ok, ell_ok, alpha_ok, stop_ok,
       |       (wc_ok AND mwl_ok AND sym_ok AND bullet_ok AND ell_ok AND alpha_ok AND stop_ok) AS pass
       |FROM r""".stripMargin
  }

  // ---- DSIR importance resampling ------------------------------------------

  /** Hashed feature width for DSIR (Xie et al. 2023, NeurIPS, "Data
    * Selection for Language Models via Importance Resampling"): the
    * target and raw distributions are bag-of-hashed-token models over a
    * FIXED bucket count, so the model is a [[DsirDim]]-row table
    * whatever the corpus vocabulary — the property that makes the
    * importance weights computable at 100 TB with one broadcast.
    */
  val DsirDim = 16

  /** Documents the DSIR Gumbel-top-k selection keeps. */
  val DsirK = 120

  /** Per-bucket log-likelihood-ratio table `(b, llr)`:
    * `llr_b = ln p_target(b) − ln p_raw(b)` under add-one smoothing,
    * each ln rounded to 9 dp (the cross-engine transcendental grid).
    * The target distribution is the stopword-dense-prose slice — the
    * same deterministic quality proxy the fastText classifier trains
    * on ([[graft.operators.Training]]); in production it is a trusted
    * high-quality corpus. A [[DsirDim]]-row spine keeps never-hit
    * buckets in the model (their smoothed mass is part of the ratio).
    *
    * Scale shape: one explode + one hash aggregate on the bucket id
    * (map-side partial, [[DsirDim]] groups), one 2-value total folded
    * back by broadcast — the model build crosses the corpus once.
    */
  private def dsirLlr(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val tgt = docs
      .select(toks(col("text")).as("ts"))
      .select(
        col("ts"),
        (size(col("ts")) > 0 &&
          size(filter(col("ts"), t => t.isin(Stopwords: _*))) * 14 >= size(col("ts"))).as("is_t"))
    val bt = tgt
      .select(explode(col("ts")).as("t"), col("is_t"))
      .select(pmod(Parity.tokenH40(col("t")), lit(DsirDim.toLong)).as("b"), col("is_t"))
    val cnt = bt
      .groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"), count(lit(1)).as("cr"))
    val spine = spark.range(DsirDim.toLong).select(col("id").as("b"))
    val cnt2 = spine
      .join(cnt, Seq("b"), "left_outer")
      .select(
        col("b"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val tot = cnt2.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    cnt2
      .crossJoin(broadcast(tot))
      .select(
        col("b"),
        (round(log((col("ct") + 1).cast("double") / (col("nt") + DsirDim).cast("double")), 9) -
          round(log((col("cr") + 1).cast("double") / (col("nr") + DsirDim).cast("double")), 9))
          .as("llr"))
  }

  /** Score every document against a bucket-llr model: the per-doc
    * importance log-weight is the position-ordered fold of its tokens'
    * bucket llr values (the same bit-identical ordered-sum discipline
    * as [[unigramScore]]), rounded to 6 dp; token-less docs carry the
    * neutral weight 0. One corpus scan, the [[DsirDim]]-row model
    * broadcast — no vocabulary-sized state anywhere.
    */
  private def dsirScore(docs: DataFrame, llr: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
      .select(
        col("doc_id"),
        col("pos"),
        pmod(Parity.tokenH40(col("term")), lit(DsirDim.toLong)).as("b"))
      .join(broadcast(llr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("llr")))), s => s("llr")),
          lit(0.0d),
          (acc, v) => acc + v).as("sum_llr"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("sum_llr"), lit(0.0d)), 6).as("llr"))
  }

  /** DSIR importance weights, self-trained: `(doc_id, n_tokens, llr)`
    * where llr > 0 means the document looks more like the target
    * (quality) distribution than the raw corpus. Two corpus crossings
    * (model build + scoring), intrinsic to self-training — the stored
    * form ([[dsirApplyStored]]) needs one.
    */
  def dsirWeights(docs: DataFrame): DataFrame = dsirScore(docs, dsirLlr(docs))

  /** DSIR selection: sample [[DsirK]] documents without replacement
    * with probability ∝ exp(llr) via the Gumbel-top-k trick — key
    * `llr + G`, `G = −ln(−ln u)` drawn from the same salted hash grid
    * as [[weightedSample]] (9 dp grid, ties by doc_id), largest keys
    * win. One narrow map over the scored table + TakeOrdered — never a
    * full sort.
    */
  def dsirSelect(docs: DataFrame, k: Int = DsirK, seed: Long = 7L): DataFrame = {
    require(seed >= 0 && seed < 1000000000L, s"seed must be in [0, 1e9), got $seed")
    val u = (pmod(
      (pmod(col("doc_id"), lit(2147483648L)) + lit(seed)) * lit(2654435761L),
      lit(1000000007L)) + 1L).cast("double") / lit(1000000008.0d)
    dsirWeights(docs)
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("llr"),
        (col("llr") + round(-log(-log(u)), 9)).as("gkey"))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("llr"))
  }

  /** Train the DSIR model once and persist the [[DsirDim]]-row bucket
    * llr table as a parquet artifact — the scalar-sized model shape
    * (like the quantizer codebooks), stored as a table.
    */
  def writeDsirModel(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): String = {
    val dir = graft.sources.Staging.freshDir("dsir-model")
    dsirLlr(docs).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Serving over the STORED model: the [[DsirDim]]-row artifact folds
    * into a LITERAL lookup array (the scalar-sized-artifact discipline
    * of the BPE/logreg serving paths), so scoring is ONE narrow
    * projection over one corpus scan — no join, no aggregate, no
    * explode (plan-pinned). The in-order array fold visits tokens in
    * position order, so the IEEE sum is bit-identical to
    * [[dsirWeights]]'s ordered fold — applied to its own training
    * corpus it reproduces the self-trained weights exactly and the two
    * share an oracle.
    */
  def dsirApplyStored(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      modelDir: String): DataFrame = {
    val m = spark.read.parquet(modelDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    require(m.size == DsirDim, s"DSIR model must have $DsirDim buckets, got ${m.size}")
    val llrArr = array((0 until DsirDim).map(b => lit(m(b.toLong))): _*)
    val ts = toks(col("text"))
    docs.select(
      col("doc_id"),
      size(ts).cast("long").as("n_tokens"),
      round(
        aggregate(
          transform(ts, t =>
            element_at(
              llrArr,
              (pmod(Parity.tokenH40(t), lit(DsirDim.toLong)) + 1L).cast("int"))),
          lit(0.0d),
          (acc, v) => acc + v),
        6).as("llr"))
  }

  /** Model-build oracle CTEs (through `llr`), trainable on a corpus
    * slice via `srcWhere` — shared by the self-trained, stored, and
    * streaming-gate oracles.
    */
  private def dsirModelCtes(srcWhere: String): String = {
    val toksSql = Parity.tokensSql("text")
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    val h = Parity.tokenH40Sql("t")
    s"""tk AS (SELECT doc_id, $toksSql AS ts FROM documents$srcWhere),
       |tgt AS (SELECT doc_id, ts,
       |               (len(ts) > 0 AND
       |                14 * len(list_filter(ts, t -> t IN ($stopList))) >= len(ts)) AS is_t
       |        FROM tk),
       |bt AS (SELECT $h % $DsirDim AS b, is_t
       |       FROM (SELECT unnest(ts) AS t, is_t FROM tgt)),
       |cnt AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |               CAST(count(*) AS BIGINT) AS cr
       |        FROM bt GROUP BY b),
       |spine AS (SELECT CAST(range AS BIGINT) AS b FROM range($DsirDim)),
       |cnt2 AS (SELECT s.b, coalesce(c.ct, 0) AS ct, coalesce(c.cr, 0) AS cr
       |         FROM spine s LEFT JOIN cnt c USING (b)),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM cnt2),
       |llr AS (SELECT b,
       |               round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirDim AS DOUBLE)), 9) -
       |               round(ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirDim AS DOUBLE)), 9) AS llr
       |        FROM cnt2 CROSS JOIN tot)""".stripMargin
  }

  /** Shared oracle CTE chain: the model CTEs plus the position-ordered
    * per-doc fold → `wts(doc_id, n_tokens, llr)`.
    */
  private def dsirCtes(): String = {
    val h = Parity.tokenH40Sql("t")
    s"""${dsirModelCtes("")},
       |term AS (SELECT doc_id, pos, $h % $DsirDim AS b
       |         FROM (SELECT doc_id, ts[CAST(pos AS INT)] AS t, pos
       |               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tk))),
       |per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |               list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.llr ORDER BY t.pos)),
       |                           (a, x) -> a + x) AS sum_llr
       |        FROM term t JOIN llr l USING (b) GROUP BY t.doc_id),
       |wts AS (SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       |               round(coalesce(p.sum_llr, 0.0), 6) AS llr
       |        FROM documents d LEFT JOIN per p USING (doc_id))""".stripMargin
  }

  /** Oracle for the STREAMING DSIR gate
    * ([[graft.streaming.StreamOps.docDsirGateOverParquet]]): model
    * trained on the static slice, arrivals scored by the same
    * position-ordered fold, rolled up per source.
    */
  def dsirGateSql(firstNewId: Long): String = {
    val toksSql = Parity.tokensSql("text")
    val h = Parity.tokenH40Sql("t")
    s"""WITH ${dsirModelCtes(s" WHERE doc_id < $firstNewId")},
       |arr AS (SELECT doc_id, source, $toksSql AS ts
       |        FROM documents WHERE doc_id >= $firstNewId),
       |aterm AS (SELECT doc_id, pos, $h % $DsirDim AS b
       |          FROM (SELECT doc_id, ts[CAST(pos AS INT)] AS t, pos
       |                FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM arr))),
       |aper AS (SELECT t.doc_id,
       |                list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.llr ORDER BY t.pos)),
       |                            (a, x) -> a + x) AS sum_llr
       |         FROM aterm t JOIN llr l USING (b) GROUP BY t.doc_id),
       |sc AS (SELECT a.doc_id, a.source, round(coalesce(p.sum_llr, 0.0), 6) AS llr
       |       FROM arr a LEFT JOIN aper p USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN llr > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |       min(doc_id) AS first_id
       |FROM sc GROUP BY source ORDER BY source""".stripMargin
  }

  /** [[dsirWeights]] mirrored (also the [[dsirApplyStored]] oracle). */
  def dsirWeightsSql(): String =
    s"WITH ${dsirCtes()}\nSELECT doc_id, n_tokens, llr FROM wts"

  /** [[dsirSelect]] mirrored on the same hash grid; the selected set is
    * re-ordered by doc_id so the contract is the SET, not the key.
    */
  def dsirSelectSql(k: Int = DsirK, seed: Long = 7L): String =
    s"""WITH ${dsirCtes()},
       |sel AS (SELECT doc_id, n_tokens, llr,
       |               llr + round(-ln(-ln(((((doc_id % 2147483648 + 2147483648) % 2147483648
       |                        + $seed) * 2654435761) % 1000000007 + 1) / 1000000008.0)), 9) AS gkey
       |        FROM wts)
       |SELECT doc_id, n_tokens, llr
       |FROM (SELECT doc_id, n_tokens, llr FROM sel ORDER BY gkey DESC, doc_id LIMIT $k)
       |ORDER BY doc_id""".stripMargin

  /** Decile count for [[heapsCurve]]. */
  val HeapsBuckets = 10

  /** Heaps'-law vocabulary growth curve: the corpus in doc_id order is
    * cut into [[HeapsBuckets]] deciles and each row reports the
    * CUMULATIVE token count and distinct-vocabulary size up to that
    * decile — the V(N) curve whose flattening (or not) answers "will
    * more data keep buying new vocabulary", the empirical basis for
    * tokenizer vocab sizing next to [[Tokenization.vocabCoverage]]'s
    * frequency view. The cumulative distinct is computed WITHOUT any
    * cumulative-distinct operator: a token's FIRST-SEEN decile is one
    * min-aggregate, and V(b) is the running sum of first-seen counts —
    * two hash aggregates and a 10-row window.
    *
    * Scale shape: one explode → (token, decile) min-aggregate
    * (map-side partials, vocabulary-bounded), token totals per decile
    * from the same explode; the cumulative windows run on 10 rows.
    *
    * Output: rows `(bucket, n_docs_cum, n_tokens_cum, vocab_cum)`.
    */
  def heapsCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val bucketed = docs
      .withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))).cast("long"))
      .crossJoin(broadcast(nDocs))
      .withColumn("bucket", expr(s"((rk - 1) * $HeapsBuckets) div nd + 1"))
    val tok = bucketed.select(col("bucket"), explode(toks(col("text"))).as("term"))
    val perB = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tok"))
      .join(
        bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs")),
        Seq("bucket"))
    val firstSeen = tok
      .groupBy(col("term"))
      .agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    val ord = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perB
      .join(firstSeen, Seq("bucket"), "left_outer")
      .select(
        col("bucket"),
        sum(col("n_docs")).over(ord).as("n_docs_cum"),
        sum(col("n_tok")).over(ord).as("n_tokens_cum"),
        sum(coalesce(col("n_new"), lit(0L))).over(ord).as("vocab_cum"))
  }

  /** [[heapsCurve]] mirrored. */
  def heapsCurveSql(): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |b AS (SELECT doc_id, text,
       |             ((CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1)
       |              * $HeapsBuckets) // nd.nd + 1 AS bucket
       |      FROM documents CROSS JOIN nd),
       |tok AS (SELECT bucket, unnest($toksSql) AS term FROM b),
       |pb AS (SELECT t.bucket, t.n_tok, d.n_docs FROM
       |         (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1) t
       |       JOIN (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY 1) d
       |       USING (bucket)),
       |fs AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new FROM
       |         (SELECT term, min(bucket) AS fb FROM tok GROUP BY term) GROUP BY 1)
       |SELECT pb.bucket,
       |       CAST(sum(pb.n_docs) OVER (ORDER BY pb.bucket
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs_cum,
       |       CAST(sum(pb.n_tok) OVER (ORDER BY pb.bucket
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens_cum,
       |       CAST(sum(coalesce(fs.n_new, 0)) OVER (ORDER BY pb.bucket
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
       |FROM pb LEFT JOIN fs USING (bucket)""".stripMargin
  }

  // ---- PMI collocations ----------------------------------------------------

  /** Minimum bigram count for [[pmiBigrams]] — rare pairs have
    * unreliably high PMI (the classic PMI-favors-hapax pathology), so
    * the standard floor applies before scoring. */
  val PmiMinCount = 5L

  /** Pointwise mutual information over ADJACENT token pairs — the
    * collocation/phrase detector (Church & Hanks 1990; the word2phrase
    * pass of word2vec): `pmi = ln(p(ab) / (p(a)·p(b)))` with unigram
    * probabilities over token positions and bigram probability over
    * bigram positions, only pairs seen ≥ [[PmiMinCount]] times scored.
    * High-PMI pairs are the multi-word expressions a tokenizer should
    * learn as single pieces — the diagnostic feeding BPE/unigram vocab
    * review. The log's operand is built in ONE fixed double expression
    * (products then one divide) evaluated identically by both engines,
    * avoiding the 64-bit overflow an integer `n_ab·N_u²` hits at scale.
    *
    * Scale shape: bigram extraction is a narrow per-row map (slice +
    * zip_with — no self-join, no window); then two hash aggregates
    * (bigram counts, unigram counts) with map-side partials and two
    * joins keyed on the words, each side bounded by vocabulary not
    * corpus size. The 1-row totals broadcast.
    *
    * Output: `(w1, w2, n_ab, n_a, n_b, pmi)` per surviving pair.
    */
  def pmiBigrams(docs: DataFrame): DataFrame = {
    val toks = docs.select(Parity.tokens(col("text")).as("t"))
    val n = size(col("t"))
    val bigs = toks
      .filter(n >= 2)
      .select(
        explode(
          zip_with(slice(col("t"), lit(1), n - 1), slice(col("t"), lit(2), n - 1), (x, y) =>
            concat_ws(" ", x, y))).as("bg"))
    val bCnt = bigs.groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= PmiMinCount)
      .select(
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"),
        col("n_ab"))
    val uni = toks.select(explode(col("t")).as("w"))
    val uCnt = uni.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val totals = uni.agg(count(lit(1)).as("n_u"))
      .crossJoin(bigs.agg(count(lit(1)).as("n_b_tot")))
    bCnt
      .join(uCnt.select(col("w").as("w1"), col("n").as("n_a")), Seq("w1"))
      .join(uCnt.select(col("w").as("w2"), col("n").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(
        col("w1"),
        col("w2"),
        col("n_ab"),
        col("n_a"),
        col("n_b"),
        round(
          log(
            (col("n_ab").cast("double") * col("n_u").cast("double") *
              col("n_u").cast("double")) /
              (col("n_b_tot").cast("double") * col("n_a").cast("double") *
                col("n_b").cast("double"))),
          6).as("pmi"))
  }

  /** [[pmiBigrams]] mirrored. */
  def pmiBigramsSql(): String =
    s"""WITH toks AS (SELECT ${Parity.tokensSql("text")} AS t FROM documents),
       |big AS (SELECT unnest([array_to_string(list_slice(t, i, i + 1), ' ')
       |                      FOR i IN range(1, len(t))]) AS bg
       |        FROM toks WHERE len(t) >= 2),
       |bcnt AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       |                CAST(count(*) AS BIGINT) AS n_ab
       |         FROM big GROUP BY bg HAVING count(*) >= $PmiMinCount),
       |uni AS (SELECT unnest(t) AS w FROM toks),
       |ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w),
       |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS n_u,
       |               (SELECT CAST(count(*) AS BIGINT) FROM big) AS n_b_tot)
       |SELECT b.w1, b.w2, b.n_ab, ua.n AS n_a, ub.n AS n_b,
       |       round(ln((CAST(b.n_ab AS DOUBLE) * CAST(t.n_u AS DOUBLE)
       |                 * CAST(t.n_u AS DOUBLE)) /
       |                (CAST(t.n_b_tot AS DOUBLE) * CAST(ua.n AS DOUBLE)
       |                 * CAST(ub.n AS DOUBLE))), 6) AS pmi
       |FROM bcnt b JOIN ucnt ua ON ua.w = b.w1 JOIN ucnt ub ON ub.w = b.w2
       |CROSS JOIN tot t""".stripMargin

  // ---- per-domain frequency cap --------------------------------------------

  /** Max documents admitted per source under the domain cap. */
  val DomainCapK = 20

  /** Per-domain frequency cap — the anti-monoculture curation rule
    * (CCNet / Common Crawl practice): no single domain may contribute
    * more than K documents, and when a domain exceeds its budget the
    * KEPT ones are its best K by a deterministic quality proxy
    * (longest first; doc_id breaks ties). One hash partition per
    * source and a per-source top-K — at 100 TB this is the rank-
    * within-partition shape (no global sort), and a skew-heavy domain
    * costs only its own partition. Integer rank keys keep the kept-set
    * reproducible run-over-run — a float quality score with ties would
    * not be.
    *
    * Output per source: `(source, n_docs, n_kept, n_dropped,
    * kept_chars, dropped_chars)` — the audit row a curation run logs
    * per domain.
    */
  def domainCap(docs: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("kept", row_number().over(win) <= DomainCapK)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(col("kept"), 0L).otherwise(col("n_chars"))).as("dropped_chars"))
  }

  /** [[domainCap]] mirrored. */
  def domainCapSql(): String =
    s"""WITH ranked AS (
       |  SELECT source, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) <= $DomainCapK AS kept
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       |       CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dropped,
       |       CAST(coalesce(sum(n_chars) FILTER (kept), 0) AS BIGINT) AS kept_chars,
       |       CAST(coalesce(sum(n_chars) FILTER (NOT kept), 0) AS BIGINT) AS dropped_chars
       |FROM ranked GROUP BY source""".stripMargin

  // ---- Neyman-allocation stratified sampling design ------------------------

  /** Total sample budget the allocation distributes. */
  val NeymanBudget = 200L

  /** Neyman-allocation design for a stratified corpus sample — the
    * variance-optimal way to spend a fixed labeling/eval budget across
    * strata: allocate n_h ∝ N_h·S_h (stratum size × stratum standard
    * deviation of the measured variable, here n_chars), versus the
    * naive proportional n_h ∝ N_h. The neat identity that keeps this
    * exact: N_h·S_h = sqrt(N_h·Σy² − (Σy)²), so the allocation weight
    * is the INTEGER square root of an exactly-summed int64 — computed
    * as floor(sqrt(x)) with an explicit off-by-one correction
    * (`s − (s·s > x)`), because bare floating sqrt can round up past a
    * near-square and the two engines would disagree by one.
    *
    * Scale shape: one pass of map-side-partial moments per stratum;
    * everything after runs on |strata| rows.
    *
    * Output: `(source, n_rows, sd_weight, alloc_neyman, alloc_prop)`.
    */
  def neymanAllocation(docs: DataFrame): DataFrame = {
    val m = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sy"),
        sum(col("n_chars") * col("n_chars")).as("syy"))
      .withColumn("xv", col("n_rows") * col("syy") - col("sy") * col("sy"))
      .withColumn("s0", floor(sqrt(col("xv").cast("double"))).cast("long"))
      .withColumn(
        "sd_weight",
        col("s0") - when(col("s0") * col("s0") > col("xv"), 1L).otherwise(0L))
    val tot = m.agg(
      sum(col("sd_weight")).as("tot_w"),
      sum(col("n_rows")).as("tot_n"))
    m.crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_rows"),
        col("sd_weight"),
        expr(s"$NeymanBudget * sd_weight div tot_w").as("alloc_neyman"),
        expr(s"$NeymanBudget * n_rows div tot_n").as("alloc_prop"))
  }

  /** [[neymanAllocation]] mirrored. */
  def neymanAllocationSql(): String =
    s"""WITH m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(n_chars) AS BIGINT) AS sy,
       |         CAST(sum(n_chars * n_chars) AS BIGINT) AS syy
       |  FROM documents GROUP BY source),
       |w0 AS (
       |  SELECT source, n_rows, n_rows * syy - sy * sy AS xv,
       |         CAST(floor(sqrt(CAST(n_rows * syy - sy * sy AS DOUBLE))) AS BIGINT) AS s0
       |  FROM m),
       |w AS (
       |  SELECT source, n_rows,
       |         s0 - CASE WHEN s0 * s0 > xv THEN 1 ELSE 0 END AS sd_weight
       |  FROM w0),
       |tot AS (SELECT CAST(sum(sd_weight) AS BIGINT) AS tot_w,
       |               CAST(sum(n_rows) AS BIGINT) AS tot_n FROM w)
       |SELECT source, n_rows, sd_weight,
       |       $NeymanBudget * sd_weight // tot.tot_w AS alloc_neyman,
       |       $NeymanBudget * n_rows // tot.tot_n AS alloc_prop
       |FROM w CROSS JOIN tot""".stripMargin

  // ---- RAKE keyword extraction ---------------------------------------------

  /** RAKE-style keyword phrases (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are
    * maximal delimiter-free token runs, each word is scored
    * deg/freq (deg = Σ length of phrases containing it, freq = its
    * occurrence count — frequent-but-isolated words score low, words
    * that travel in long phrases score high), and a phrase scores the
    * sum of its word scores. Scores are exact integer micro-units
    * (`deg·1e6 div freq`), so the ranking is engine-portable.
    *
    * The delimiter set is the fixed stopword list PLUS the corpus's
    * `nDelims` most frequent tokens (df-derived, the same
    * self-derivation `bm25TopK` uses for its query) — RAKE's stopword
    * list is corpus-tuned in practice, and a corpus-derived delimiter
    * set keeps the operator meaningful on corpora whose generator
    * vocabulary contains no classic stopwords. Phrases longer than
    * `maxPhraseWords` are discarded AFTER word statistics are
    * accumulated (standard RAKE MaxWordsInPhrase; the dropped runs
    * still shape deg/freq).
    *
    * Scale shape: one explode of the corpus; islands come from a
    * per-document window (bounded by document length); word stats are
    * one vocab-keyed hash aggregate; the word-score join is
    * vocab-sized; the final top-k is a TakeOrdered. The delimiter
    * anti-join broadcasts a (nDelims + |stopwords|)-row table. No
    * all-pairs term, nothing quadratic in corpus size.
    *
    * Output: top `k` rows `(phrase, n_words, n_occur, score_micro)`
    * by (score desc, phrase asc).
    */
  def rakeKeywords(
      docs: DataFrame,
      k: Int = 20,
      maxPhraseWords: Int = 4,
      nDelims: Int = 10): DataFrame = {
    val tok = docs
      .select(
        col("doc_id"),
        posexplode(graft.functions.Parity.tokens(col("text"))).as(Seq("pos0", "t")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("t"))
    val topDf = tok
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"))
      .limit(nDelims)
      .select(col("t"))
    val stopDf = docs.sparkSession
      .range(1)
      .select(explode(array(Stopwords.map(lit): _*)).as("t"))
    val delims = topDf.unionByName(stopDf).distinct()
    val ns = tok.join(broadcast(delims), Seq("t"), "left_anti")
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
    val wLen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("island"))
    val pw = Phys.materialized(
      ns.withColumn("island", col("pos") - row_number().over(wIsl))
        .withColumn("plen", count(lit(1)).over(wLen).cast("long")))
    val wsc = pw
      .groupBy(col("t"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("t"), expr("deg * 1000000 div freq").as("w_score"))
    val ph = pw
      .join(wsc, Seq("t"))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("t")))), s => s("t")),
          " ").as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("w_score")).as("score_micro"))
      .filter(col("n_words") <= maxPhraseWords)
    ph.groupBy(col("phrase"), col("n_words"), col("score_micro"))
      .agg(count(lit(1)).as("n_occur"))
      .select(col("phrase"), col("n_words"), col("n_occur"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
  }

  /** [[rakeKeywords]] mirrored: the identical df-derived delimiter set,
    * gaps-and-islands phrase extraction, and integer deg/freq scores.
    */
  def rakeKeywordsSql(k: Int = 20, maxPhraseWords: Int = 4, nDelims: Int = 10): String = {
    val toks = graft.functions.Parity.tokensSql("text")
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH tk AS (SELECT doc_id, $toks AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[CAST(pos AS INT)] AS t
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tk)),
       |delim AS (
       |  SELECT t FROM (
       |    SELECT t, count(*) AS n FROM tok GROUP BY t
       |    ORDER BY n DESC, t LIMIT $nDelims)
       |  UNION SELECT unnest($stopList)),
       |ns AS (
       |  SELECT doc_id, pos, t,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM tok WHERE t NOT IN (SELECT t FROM delim)),
       |pw AS (
       |  SELECT doc_id, island, pos, t,
       |         CAST(count(*) OVER (PARTITION BY doc_id, island) AS BIGINT) AS plen
       |  FROM ns),
       |ws AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS freq,
       |         CAST(sum(plen) AS BIGINT) AS deg
       |  FROM pw GROUP BY t),
       |wsc AS (SELECT t, deg * 1000000 // freq AS w_score FROM ws),
       |ph AS (
       |  SELECT p.doc_id, p.island,
       |         string_agg(p.t, ' ' ORDER BY p.pos) AS phrase,
       |         CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(w.w_score) AS BIGINT) AS score_micro
       |  FROM pw p JOIN wsc w ON w.t = p.t
       |  GROUP BY p.doc_id, p.island
       |  HAVING count(*) <= $maxPhraseWords)
       |SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occur, score_micro
       |FROM ph
       |GROUP BY phrase, n_words, score_micro
       |ORDER BY score_micro DESC, phrase LIMIT $k""".stripMargin
  }

  // ---- TextRank keyword ranking --------------------------------------------

  /** TextRank (Mihalcea & Tarau 2004, "TextRank: Bringing Order into
    * Text"): rank single terms by PageRank over the word co-occurrence
    * graph — two non-stopword tokens are linked when they appear within
    * `window` positions of each other in a document, edge weight = the
    * corpus-wide co-occurrence count, and the weighted rank iteration
    * distributes each node's mass proportionally to edge weight
    * (`pr·w div wsum`, Σ over in-neighbors). The complement of RAKE:
    * RAKE scores phrases by local degree statistics in one pass,
    * TextRank scores words by global graph centrality — the two
    * disagree exactly where a word is frequent in long phrases but
    * peripheral in the co-occurrence topology.
    *
    * All arithmetic is integer fixed-point (the [[graft.operators.GraphOps.pagerankFixed]]
    * discipline): rank unit 1e12, per-edge contribution `pr·w div wsum`
    * (div before sum, so both engines add identical integers), damping
    * 85/100 — bit-identical on any engine, no rounding grid.
    *
    * Scale shape: one corpus explode; the co-occurrence self-join is
    * per-document position-banded (fan-out ≤ `window` per token, never
    * all-pairs); the graph is vocab-keyed (edges ≤ vocab·avg-degree,
    * independent of corpus row count once counts saturate); the `iters`
    * rounds are RankRounds' PageRank round (one vocab-keyed narrow join +
    * one sum shuffle each), chained lazily. The word graph is exchanged
    * once and reused every round.
    *
    * Output: top `k` rows `(term, pr)` by (pr desc, term asc).
    */
  def textrank(docs: DataFrame, iters: Int = 5, window: Int = 2, k: Int = 20): DataFrame = {
    val tok = docs
      .select(
        col("doc_id"),
        posexplode(Parity.tokens(col("text"))).as(Seq("pos0", "t")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("t"))
      .filter(!col("t").isInCollection(Stopwords))
    val a = tok.select(col("doc_id"), col("pos").as("pa"), col("t").as("ta"))
    val b = tok.select(col("doc_id"), col("pos").as("pb"), col("t").as("tb"))
    val co = a
      .join(b, Seq("doc_id"))
      .filter(
        col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= window &&
          col("ta") =!= col("tb"))
      .select(col("ta"), col("tb"))
    val sym = co.unionAll(co.select(col("tb").as("ta"), col("ta").as("tb")))
    val e0 = sym.groupBy(col("ta").as("src"), col("tb").as("dst")).agg(count(lit(1)).as("w"))
    // the rank rounds are RankRounds' PageRank round with `w` the
    // co-occurrence count (out-weight = wsum): terms and edges share one
    // hash partitioner, and with no per-round scalar the whole chain is
    // lazy — `iters` shuffle stages, zero Catalyst planning per round
    val session = docs.sparkSession
    val parts = math.max(4, session.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val part = new org.apache.spark.HashPartitioner(parts)
    val eRdd = e0.rdd
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rank = RankRounds.pagerankRdd(eRdd, part, iters, (_: String) => true)
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    session
      .createDataFrame(
        rank.map { case (t, pr) => org.apache.spark.sql.Row(t, pr) },
        StructType(Seq(
          StructField("term", StringType, nullable = false),
          StructField("pr", LongType, nullable = false))))
      .orderBy(col("pr").desc, col("term"))
      .limit(k)
  }

  /** [[textrank]] mirrored: the identical banded co-occurrence graph and
    * the unrolled integer rank rounds (all round CTEs MATERIALIZED so
    * the unroll stays linear).
    */
  def textrankSql(iters: Int = 5, window: Int = 2, k: Int = 20): String = {
    val toks = Parity.tokensSql("text")
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    def iter(prev: String, i: Int): String =
      s"""r$i AS MATERIALIZED (
         |  SELECT r.term,
         |         CAST((15 * (1000000000000 // nn.n) // 100) +
         |              (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM $prev r
         |  LEFT JOIN (SELECT e.dst AS term, CAST(sum(r.pr * e.w // e.wsum) AS BIGINT) AS s
         |             FROM $prev r JOIN e ON e.src = r.term GROUP BY e.dst) s ON s.term = r.term
         |  CROSS JOIN nn)""".stripMargin
    val rounds = (1 to iters).map(i => iter(s"r${i - 1}", i)).mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, $toks AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[CAST(pos AS INT)] AS t
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tk)),
       |ns AS (SELECT doc_id, pos, t FROM tok WHERE t NOT IN ($stopList)),
       |co AS (
       |  SELECT a.t AS ta, b.t AS tb
       |  FROM ns a JOIN ns b
       |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $window AND a.t <> b.t),
       |sym AS (SELECT ta, tb FROM co UNION ALL SELECT tb AS ta, ta AS tb FROM co),
       |e0 AS MATERIALIZED (
       |  SELECT ta AS src, tb AS dst, CAST(count(*) AS BIGINT) AS w FROM sym GROUP BY ta, tb),
       |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e0 GROUP BY src),
       |e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w, ws.wsum FROM e0 JOIN ws ON ws.src = e0.src),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ws),
       |r0 AS MATERIALIZED (
       |  SELECT src AS term, CAST(1000000000000 // nn.n AS BIGINT) AS pr FROM ws CROSS JOIN nn),
       |$rounds
       |SELECT term, pr FROM r$iters ORDER BY pr DESC, term LIMIT $k""".stripMargin
  }

  // ---- Kneser-Ney bigram scoring ---------------------------------------------

  /** Interpolated Kneser–Ney bigram fluency score (Kneser & Ney 1995;
    * Chen & Goodman 1999 interpolated form, fixed discount d = 0.75):
    * `P(w|v) = max(c(vw)−d, 0)/c(v·) + d·N₁₊(v·)/c(v·) · N₁₊(·w)/T`
    * — absolute discounting with the CONTINUATION-count backoff that
    * made KN the production n-gram smoother (a word seen in many
    * contexts backs off high; a frequent-but-one-context word does
    * not). Completes the smoothing ladder next to the add-one unigram
    * ([[unigramScore]]) and add-one bigram ([[bigramScore]]) scores.
    *
    * Determinism: the per-bigram ln P is ONE fixed double expression
    * rounded to 9 decimals, summed per doc in position order (the
    * bigramScore fold discipline); the four count statistics are exact
    * integers.
    *
    * Scale shape: one bigram explode, four hash aggregates over it
    * (pair counts, context totals, forward and backward continuation
    * counts), keyed joins back — the [[bigramScore]] plan plus two
    * aggregates.
    *
    * Output: `(doc_id, n_bigrams, mean_lnp_kn)` per document.
    */
  def knScore(docs: DataFrame): DataFrame = {
    val ts = toks(col("text"))
    val pairs = when(size(ts) < 2, array().cast("array<struct<ctx:string,nxt:string>>"))
      .otherwise(
        transform(
          sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("ctx"), element_at(ts, i + 1).as("nxt"))))
    val big = docs
      .select(col("doc_id"), posexplode(pairs).as(Seq("p0", "bg")))
      .select(
        col("doc_id"),
        (col("p0") + 1).cast("long").as("pos"),
        col("bg.ctx").as("ctx"),
        col("bg.nxt").as("nxt"))
    val h2 = big.groupBy(col("ctx"), col("nxt")).agg(count(lit(1)).as("c2"))
    val hc = big.groupBy(col("ctx")).agg(
      count(lit(1)).as("cc"),
      countDistinct(col("nxt")).as("n1f"))
    val hb = big.groupBy(col("nxt")).agg(countDistinct(col("ctx")).as("n1b"))
    val t = h2.agg(count(lit(1)).as("t_types"))
    val lnForm =
      "round(ln(greatest(CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) " +
        "/ CAST(cc AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE) " +
        "/ CAST(cc AS DOUBLE) * (CAST(n1b AS DOUBLE) / CAST(t_types AS DOUBLE))), 9)"
    val lnp = big
      .join(h2, Seq("ctx", "nxt"))
      .join(hc, Seq("ctx"))
      .join(hb, Seq("nxt"))
      .crossJoin(broadcast(t))
      .select(col("doc_id"), col("pos"), expr(lnForm).as("lnp"))
    val perDoc = lnp
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))), s => s("lnp")),
          lit(0.0d),
          (acc, x) => acc + x).as("sum_lnp"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("sum_lnp") / col("n_bigrams").cast("double"), 6).as("mean_lnp_kn"))
  }

  /** [[knScore]] mirrored. */
  def knScoreSql(): String = {
    val toksSql = Parity.tokensSql("text")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS ts FROM documents),
       |big AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         ts[CAST(pos AS INT)] AS ctx, ts[CAST(pos + 1 AS INT)] AS nxt
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS pos FROM tok)),
       |h2 AS (SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
       |hc AS (SELECT ctx, CAST(count(*) AS BIGINT) AS cc,
       |              CAST(count(DISTINCT nxt) AS BIGINT) AS n1f
       |       FROM big GROUP BY 1),
       |hb AS (SELECT nxt, CAST(count(DISTINCT ctx) AS BIGINT) AS n1b FROM big GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM h2),
       |lnp AS (
       |  SELECT big.doc_id, big.pos,
       |         round(ln(greatest(CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / CAST(cc AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE) / CAST(cc AS DOUBLE) * (CAST(n1b AS DOUBLE) / CAST(t_types AS DOUBLE))), 9) AS lnp
       |  FROM big JOIN h2 USING (ctx, nxt) JOIN hc USING (ctx) JOIN hb USING (nxt)
       |  CROSS JOIN t),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lnp ORDER BY pos)),
       |                     (acc, x) -> acc + x) AS sum_lnp
       |  FROM lnp GROUP BY 1)
       |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
       |       round(pd.sum_lnp / CAST(pd.n_bigrams AS DOUBLE), 6) AS mean_lnp_kn
       |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
  }

  // ---- dense retrieval (RAG) pipeline ---------------------------------------

  /** Hash-embedding dimensionality for [[ragRetrieve]]. */
  val RagDims = 32

  /** The three planted retrieval queries (terms from the corpus
    * vocabulary; the oracle embeds the identical literals). */
  val RagQueries: Seq[(String, String)] = Seq(
    ("q1", "hash join merge batch"),
    ("q2", "window sort order line"),
    ("q3", "scan filter table row"))

  /** Signed feature-hash embedding (the hashing trick, Weinberger 2009):
    * token t adds ±1 to dimension `h(t) mod dims`, sign from bit 6 of
    * the shared 40-bit token hash. Deterministic, vocabulary-free, and
    * exactly mirrorable — the embedding stub that makes a dense
    * retrieval pipeline testable without a neural encoder (swap this
    * one expression for real model vectors in production; every other
    * stage is unchanged). Spelled per-dimension like [[Parity.simhash]]
    * (dims array traversals; the single-pass custom Expression is the
    * same upgrade path).
    */
  def hashEmbed(t: Column, dims: Int = RagDims): Column =
    hashEmbedFromHashes(transform(Parity.tokens(t), tok => Parity.tokenH40(tok)), dims)

  /** [[hashEmbed]] over an already-computed token-hash array. Hot-path
    * callers must project the hash array as its own column first: the
    * per-dimension aggregates reference it `dims` times, and
    * interpreted HOFs re-evaluate a non-attribute child per reference
    * (measured 15 s → ~2 s on the sf0.1 retrieval pipeline).
    */
  def hashEmbedFromHashes(hs: Column, dims: Int = RagDims): Column =
    array((0 until dims).map { j =>
      aggregate(
        hs,
        lit(0L),
        (acc, h) =>
          acc + when(
            h % dims === j,
            lit(1L) - lit(2L) * shiftright(h, 6).bitwiseAND(lit(1L))).otherwise(0L))
    }: _*)

  def hashEmbedSql(hs: String, dims: Int = RagDims): String =
    (0 until dims)
      .map { j =>
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($hs, " +
          s"h -> CASE WHEN h % $dims = $j THEN 1 - 2 * ((h >> 6) & 1) ELSE 0 END)), " +
          s"(a, x) -> a + x)"
      }
      .mkString("[", ", ", "]")

  /** End-to-end dense-retrieval (RAG) pipeline over the corpus: chunk →
    * embed ([[hashEmbed]]) → exact cosine top-k per query. The
    * composition a retrieval-augmented serving stack runs at index
    * time + query time, with the planted [[RagQueries]] standing in for
    * user questions; the sparse sibling is `text_bm25_query`.
    *
    * Scale shape: chunking is a narrow per-doc fan-out; embedding is a
    * narrow per-chunk map; scoring is a 3-row broadcast against the
    * chunk table with a bounded-k window per query. At corpus scale the
    * brute scoring pass swaps for the IVF probe
    * ([[Similarity.ivfStoredTopK]]) with everything else unchanged.
    *
    * Output: k rows per query `(query_id, rank, doc_id, chunk_idx,
    * cos)`.
    */
  def ragRetrieve(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialized: the embed column is referenced by the zero-norm
    // filter AND the scoring cosine — without the barrier each
    // reference re-computes the 32-aggregate embed per row
    val chunks = graft.operators.Phys
      .materialized(
        chunk(docs)
          .select(
            col("doc_id"),
            col("chunk_idx"),
            transform(Parity.tokens(col("chunk")), tok => Parity.tokenH40(tok)).as("hs"))
          .select(col("doc_id"), col("chunk_idx"), hashEmbedFromHashes(col("hs")).as("cv")))
      .filter(graft.functions.DotLongs(col("cv"), col("cv")) > 0.0d)
    val queries = RagQueries
      .toDF("query_id", "qtext")
      .select(col("query_id"), hashEmbed(col("qtext")).as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"), col("chunk_idx"))
    chunks
      .crossJoin(broadcast(queries))
      .select(
        col("query_id"),
        col("doc_id"),
        col("chunk_idx"),
        round(
          Parity.cosine(col("qv").cast("array<double>"), col("cv").cast("array<double>")),
          6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_idx"), col("cos"))
  }

  /** [[ragRetrieve]] mirrored. */
  def ragRetrieveSql(k: Int = 3): String = {
    val qvals = RagQueries.map { case (id, t) => s"('$id', '$t')" }.mkString(", ")
    val hsChunk = s"list_transform(${Parity.tokensSql("chunk")}, tok -> ${Parity
        .tokenH40Sql("tok")})"
    val hsQ = s"list_transform(${Parity.tokensSql("qtext")}, tok -> ${Parity.tokenH40Sql("tok")})"
    s"""WITH ch0 AS (${chunkSql()}),
       |ch AS (
       |  SELECT doc_id, chunk_idx, ${hashEmbedSql(hsChunk)} AS cv FROM ch0),
       |chnz AS (
       |  SELECT * FROM ch
       |  WHERE ${Parity.dotSql("CAST(cv AS DOUBLE[])", "CAST(cv AS DOUBLE[])")} > 0),
       |q AS (
       |  SELECT query_id, ${hashEmbedSql(hsQ)} AS qv
       |  FROM (VALUES $qvals) AS t(query_id, qtext)),
       |scored AS (
       |  SELECT q.query_id, c.doc_id, c.chunk_idx,
       |         round(${Parity
        .cosineSql("CAST(q.qv AS DOUBLE[])", "CAST(c.cv AS DOUBLE[])")}, 6) AS cos
       |  FROM chnz c CROSS JOIN q),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, doc_id, chunk_idx) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, doc_id, chunk_idx, cos FROM ranked WHERE rank <= $k""".stripMargin
  }
}
