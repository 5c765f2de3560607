package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Layout, Snapshot, TextOps}

/** ScalaCheck properties for the round-5 pipeline operators: each Spark
  * implementation must equal a straight-line driver-side reference on
  * random inputs — shapes the fixture corpus can't produce on demand
  * (odd lengths straddling chunk boundaries, duplicate versions, key
  * planes with shared bit patterns).
  */
object PipelineProps extends Properties("pipeline") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  // ---- chunk ---------------------------------------------------------

  private val genText: Gen[String] =
    Gen.chooseNum(0, 700).flatMap(n => Gen.stringOfN(n, Gen.oneOf(('a' to 'e') :+ ' ')))

  /** Driver-side reference: windows of `size` every `stride`, one chunk
    * minimum, last chunk short.
    */
  private def chunkRef(text: String, size: Int, stride: Int): Seq[(Long, String)] = {
    val n = math.max(text.length - 1, 0) / stride
    (0 to n).map(i => (i.toLong, text.slice(i * stride, i * stride + size)))
  }

  property("chunk equals the driver-side windowing") = forAll(
    Gen.listOfN(6, genText)) { texts =>
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextOps
      .chunk(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      chunkRef(t, TextOps.ChunkSize, TextOps.ChunkStride).map { case (ci, c) =>
        (i.toLong, ci) -> c
      }
    }.toMap
    got == want
  }

  // ---- upsert --------------------------------------------------------

  private val genRows: Gen[List[(Long, String, Long)]] =
    Gen.listOf(for {
      k <- Gen.chooseNum(0L, 6L)
      v <- Gen.stringOfN(3, Gen.alphaLowerChar)
      ver <- Gen.chooseNum(1L, 5L)
    } yield (k, v, ver))

  property("upsert equals the driver-side latest-wins merge") = forAll(
    genRows,
    genRows) { (base, upd) =>
    import spark.implicits._
    // dedupe versions per key so the winner is unique (the operator's
    // documented contract: callers own version uniqueness)
    val all = (base ++ upd).groupBy(r => (r._1, r._3)).values.map(_.head).toList
    (all.nonEmpty) ==> {
      val half = all.splitAt(all.length / 2)
      val b = half._1.toDF("k", "v", "version")
      val u = half._2.toDF("k", "v", "version")
      val got = Snapshot
        .upsert(b, u, "k", "version")
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      val want = all.groupBy(_._1).map { case (k, rows) =>
        val w = rows.maxBy(_._3)
        k -> ((w._2, w._3))
      }
      got == want
    }
  }

  // ---- zvalue --------------------------------------------------------

  private def zRef(x: Long, y: Long): Long =
    (0 until Layout.ZBits).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)

  property("zvalue equals the driver-side bit interleave") = forAll(
    Gen.listOfN(
      32,
      Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)))) { pts =>
    import spark.implicits._
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zvalue(col("x"), col("y")).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    pts.forall { case (x, y) => got((x, y)) == zRef(x, y) }
  }

  // ---- shuffleShards -------------------------------------------------

  property("shuffleShards equals the driver-side permutation") = forAll(
    Gen.listOf(Gen.chooseNum(0L, 1000000L)).map(_.distinct),
    Gen.chooseNum(0L, 100L)) { (ids, seed) =>
    import spark.implicits._
    ids.nonEmpty ==> {
      val docs = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val got = TextOps
        .shuffleShards(docs, seed = seed)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      def k(id: Long) = ((id % 2147483648L) * 2654435761L + seed) % 1000000007L
      val want = ids
        .groupBy(id => k(id) % TextOps.NShards)
        .flatMap { case (shard, members) =>
          members.sortBy(id => (k(id), id)).zipWithIndex.map { case (id, pos) =>
            id -> ((shard, pos + 1L))
          }
        }
      got == want
    }
  }

  // ---- prefixFilterPairs ---------------------------------------------

  /** Driver-side reference for [[Dedup.prefixFilterPairs]]: every pair
    * a < b of non-null ids in the same non-null lang whose distinct word
    * trigram sets satisfy 2·inter ≥ uni (the integer form of J ≥ ½),
    * with its `(inter, uni, jaccard_ppm)`. Tokens split on the word
    * separator `[\t\n\f\r ]+`, empties dropped.
    */
  private def prefixPairsRef(
      docs: Seq[(Option[Long], Option[String], Option[String])]): Set[(Long, Long, Long, Long, Long)] = {
    val sets = docs.collect { case (Some(id), Some(lang), Some(text)) =>
      val t = text.split("[\\t\\n\\f\\r ]+").filter(_.nonEmpty)
      (id, lang, t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
    }
    (for {
      (a, la, sa) <- sets
      (b, lb, sb) <- sets
      if a < b && la == lb
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if uni > 0 && 2 * inter >= uni
    } yield (a, b, inter, uni, inter * 1000000L / uni)).toSet
  }

  /** Planted shapes, in every sample: J = ½ exactly at the size-filter
    * boundary (4 shingles against 2 of them, 2 against 1), a pair the
    * size filter rejects (1 against 4), one text in two langs, repeated
    * trigrams, fewer than 3 tokens, null text and lang,
    * tab/newline/multi-space separators, and a hot block whose shared
    * 12-token head fills every prefix with df ties, so that every pair
    * in it is a candidate and a match.
    */
  private val plantedDocs: Seq[(Option[String], Option[String])] = {
    val head = (1 to 12).map(i => s"h$i").mkString(" ")
    Seq(
      Some("p q r s t u") -> Some("en"),
      Some("p q r s") -> Some("en"),
      Some("p q r") -> Some("en"),
      Some("w x y z v") -> Some("en"),
      Some("w x y z v") -> Some("de"),
      Some("w  x\ty\nz v") -> Some("de"),
      Some("a b c a b c a b c") -> Some("en"),
      Some("a b c a b") -> Some("en"),
      Some("a b") -> Some("en"),
      Some("a b") -> Some("en"),
      None -> Some("en"),
      Some("w x y z v") -> None) ++
      (1 to 6).map(i => Some(s"$head b$i") -> Some("en"))
  }

  private val vocab = Gen.oneOf("a", "b", "c", "d", "e", "f")

  /** A random small corpus over a 6-word vocabulary (so trigram df ties
    * are common): fresh texts and one-token edits of earlier ones. */
  private val genCorpus: Gen[List[(Option[String], Option[String])]] =
    Gen.chooseNum(4, 16).flatMap { n =>
      (0 until n).foldLeft(Gen.const(List.empty[(Option[String], Option[String])])) { (acc, _) =>
        for {
          prev <- acc
          fresh <- Gen.chooseNum(0, 9).flatMap(k => Gen.listOfN(k, vocab))
          edit <- Gen.oneOf(prev.flatMap(_._1).map(_.split(" ").toList) :+ fresh)
          pos <- Gen.chooseNum(0, 8)
          w <- vocab
          useEdit <- Gen.oneOf(true, false)
          lang <- Gen.frequency(6 -> Some("en"), 3 -> Some("de"), 1 -> None)
          nullText <- Gen.frequency(12 -> false, 1 -> true)
        } yield {
          val toks = if (useEdit) edit.patch(math.min(pos, edit.length), List(w), 1) else fresh
          prev :+ ((if (nullText) None else Some(toks.mkString(" "))) -> lang)
        }
      }
    }

  property("prefixFilterPairs equals the driver-side J >= 1/2 brute force") = forAll(
    genCorpus,
    Gen.chooseNum(0, 5)) { (random, nullIdAt) =>
    import spark.implicits._
    // a null id on a copy of a planted text, and on one random doc
    val docs = (None, Some("p q r s t u"), Some("en")) +:
      (plantedDocs ++ random).zipWithIndex.map { case ((text, lang), i) =>
        (if (i == plantedDocs.length + nullIdAt) None else Some(i.toLong), text, lang)
      }
    val got = Dedup
      .prefixFilterPairs(docs.toDF("doc_id", "text", "lang"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    got == prefixPairsRef(docs.map { case (id, t, l) => (id, l, t) })
  }
}
