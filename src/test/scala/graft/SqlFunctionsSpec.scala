package graft

import graft.functions.{GraftFunctions, Parity}

/** SQL-surface registration of the native expressions. */
class SqlFunctionsSpec extends SparkSpec {

  test("dot_product and poly_hash usable from SQL after registration") {
    GraftFunctions.register(spark)
    val row = spark
      .sql(
        "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d, " +
          "poly_hash('abc', 31, 1000003) AS h")
      .collect()(0)
    assert(row.getDouble(0) === 32.0)
    assert(row.getLong(1) === ((97L * 31 + 98) * 31 + 99) % Parity.TokP)
  }

  test("simhash40 and minhash_sig usable from SQL after registration") {
    GraftFunctions.register(spark)
    val row = spark
      .sql(
        // hashes 1L (bit 0) and 3L (bits 0,1): votes bit0=+2, bit1=0 → 1
        "SELECT simhash40(array(1L, 3L)) AS sh, " +
          "minhash_sig(CAST(array() AS ARRAY<BIGINT>), 4) AS empty_sig")
      .collect()(0)
    assert(row.getLong(0) === 1L)
    assert(row.getSeq[Long](1) === Seq.fill(4)(Parity.BigP))
  }

  test("dot_longs and micro_ints usable from SQL after registration") {
    GraftFunctions.register(spark)
    val row = spark
      .sql(
        "SELECT dot_longs(array(2L, 3L), array(10L, 100L)) AS d, " +
          "micro_ints(array(1.25D, -0.0015D), 1000) AS m")
      .collect()(0)
    assert(row.getDouble(0) === 320.0)
    // Spark round semantics: -1.5 rounds HALF_UP away from zero → -2
    assert(row.getSeq[Long](1) === Seq(1250L, -2L))
  }

  test("poly_hash rejects non-literal modulus") {
    GraftFunctions.register(spark)
    intercept[Exception] {
      spark.sql("SELECT poly_hash('a', 31, doc) FROM (SELECT 5L AS doc)").collect()
    }
  }

  // Edge shapes the split-array kernels must agree on: boundary empties
  // from split, runs of mixed whitespace, short docs (0/1/2 tokens),
  // repeated shingles (distinct vs multiset), empty and null text.
  private val kernelEdgeTexts = Seq(
    "a b c d e", " a  b\tc ", "a b", "one", "", "x y z x y z x y z",
    "the the the the", null)

  test("shingle/token kernels equal the interpreted Column forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = kernelEdgeTexts.toDF("text").unionAll(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(col("text")))
    val arr = Parity.splitWords(col("text"))
    val legacyShingles = Parity.shingles(Parity.tokens(col("text")))
    // null text: the kernels propagate null, the legacy shingle forms
    // yield an empty array (the `when`'s otherwise) — every call site
    // coalesces or explodes, where the two are equivalent; normalize the
    // same way here
    def norm(c: org.apache.spark.sql.Column, tpe: String) =
      coalesce(c, array().cast(s"array<$tpe>"))
    val got = docs
      .select(
        col("text"),
        norm(graft.functions.ShingleStrings(arr, distinct = true), "string").as("ks_d"),
        norm(graft.functions.ShingleStrings(arr, distinct = false), "string").as("ks_a"),
        norm(graft.functions.ShingleH40s(arr, distinct = true), "long").as("kh_d"),
        norm(graft.functions.TokenCodes(arr), "long").as("kc"),
        norm(legacyShingles, "string").as("ls_d"),
        norm(Parity.shinglesAll(Parity.tokens(col("text"))), "string").as("ls_a"),
        norm(transform(legacyShingles, g => Parity.tokenH40(g)), "long").as("lh_d"),
        norm(Parity.tokenCodes(col("text")), "long").as("lc"))
      .collect()
    got.foreach { r =>
      def seq[T](i: Int): Seq[T] = Option(r.getSeq[T](i)).getOrElse(null)
      withClue(s"text=${r.get(0)}: ") {
        assert(seq[String](1) === seq[String](5), "distinct shingle strings")
        assert(seq[String](2) === seq[String](6), "all shingle strings")
        assert(seq[Long](3) === seq[Long](7), "distinct shingle h40s")
        assert(seq[Long](4) === seq[Long](8), "token codes")
      }
    }
  }

  test("spark.sql.extensions=GraftExtensions registers every function at session build") {
    // a REAL extensions-configured session (new session over the shared
    // context — extensions only apply at builder time), not register()
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf: the builder reads it from the
    // SparkContext conf when instantiating the session, so set it on the
    // live conf object (SparkEnv.get.conf IS the context's conf; a real
    // deployment sets it on spark-submit — tests share one context)
    org.apache.spark.SparkEnv.get.conf.set("spark.sql.extensions", "graft.functions.GraftExtensions")
    try {
      val s = SparkSession.builder().getOrCreate()
      assert(s ne prev) // must be a fresh session, or extensions were skipped
      val row = s.sql(
        "SELECT poly_hash('spark', 31, 1048573) AS ph, " +
          "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp, " +
          "simhash40(array(1L)) AS sh, " +
          "minhash_sig(array(1L, 2L), 4) AS ms, " +
          "shingle_strings(split('a b c d', '\\\\s+'), true) AS ss, " +
          "shingle_h40s(split('a b c', '\\\\s+'), false) AS hh, " +
          "token_codes(split('a', '\\\\s+')) AS tc").collect()(0)
      assert(row.getLong(0) === functions.PolyHash.hash("spark", 31L, 1048573L))
      assert(row.getDouble(1) === 11.0)
      assert(row.getSeq[String](4) === Seq("a b c", "b c d"))
    } finally {
      org.apache.spark.SparkEnv.get.conf.remove("spark.sql.extensions")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("split-array kernels usable from SQL after registration") {
    GraftFunctions.register(spark)
    val row = spark
      .sql(
        "SELECT shingle_strings(split('a b a b a b', '\\\\s+'), true) AS sd, " +
          "shingle_h40s(split('x', '\\\\s+'), false) AS he, " +
          "token_codes(split(' a  b ', '\\\\s+')) AS tc")
      .collect()(0)
    assert(row.getSeq[String](0) === Seq("a b a", "b a b"))
    assert(row.getSeq[Long](1) === Seq.empty[Long])
    assert(
      row.getSeq[Long](2) === Seq(
        functions.PolyHash.hash("a", 31L, Parity.TokP),
        functions.PolyHash.hash("b", 31L, Parity.TokP)))
  }

  test("word tokens split on DuckDB's \\s: a vertical tab stays inside its token") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // RE2's \s (the oracles' regexp_split_to_array) is [\t\n\f\r ];
    // Java's also matches U+000B, which split "a\u000Bb" into two words
    val vt = "a\u000Bb c d e"
    val toks = Seq(vt).toDF("text").select(Parity.tokens(col("text"))).head().getSeq[String](0)
    assert(toks === Seq("a\u000Bb", "c", "d", "e"))
    val docs = Seq((1L, vt, "en"), (2L, "a b c d e", "en")).toDF("doc_id", "text", "lang")
    // {"a\u000Bb c d", "c d e"} against {"a b c", "b c d", "c d e"}: J = 1/4
    assert(graft.operators.Dedup.prefixFilterPairs(docs).count() === 0L)
    val sigs = graft.operators.Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    assert(sigs(0).get(1) != sigs(1).get(1))
  }
}
