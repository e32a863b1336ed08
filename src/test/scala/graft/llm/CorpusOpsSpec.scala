package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Tables => T}

/** Independent-spelling and hand-built-golden checks for the corpus
  * operators (q135/q136/q137/q139), on top of the DuckDB oracle rows.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("phrase search equals an independent adjacent-zip spelling") {
    // alternative spelling: zip tokens with their successors and count
    // matching pairs per doc — no positional index, no join
    val toks = split($"text", " ")
    val alt = T.documents(spark, sfDir)
      .select($"doc_id",
        size(filter(
          zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
            (a, b) => a === CorpusOps.PhraseFirst && b === CorpusOps.PhraseSecond),
          x => x)).cast("long").as("n_occ"))
      .filter($"n_occ" > 0)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = CorpusOps.q135PhraseSearch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == alt)
    assert(got.nonEmpty, "fixture should contain the test phrase")
  }

  test("token-budget mix selection is maximal per source") {
    // re-derive the per-source h-ordered prefix and check that the
    // query's totals are exactly the longest prefix within budget
    val d = T.documents(spark, sfDir).select(
      $"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok"),
      md5(concat($"doc_id".cast("string"), lit(":mix"))).as("h"))
      .collect()
      .map(r => (r.getString(0), r.getString(3), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expected = d.map { case (src, rows) =>
      val ordered = rows.sortBy(t => (t._2, t._3)).map(_._4)
      val prefix = ordered.scanLeft(0L)(_ + _).tail
        .takeWhile(_ <= CorpusOps.MixTokenBudget)
      src -> (prefix.length.toLong, ordered.take(prefix.length).sum)
    }
    val got = CorpusOps.q136TokenBudgetMix(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected.filter(_._2._1 > 0))
    // maximality: for some source the NEXT doc would blow the budget —
    // i.e. selection is not trivially "all docs"
    assert(expected.exists { case (src, (n, _)) => n < d(src).size },
      "budget should bind for at least one source")
  }

  test("group centroid sums match direct driver-side arithmetic") {
    val rows = T.embeddings(spark, sfDir)
      .select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val byLabel = rows.groupBy(_._1)
    val expected = byLabel.flatMap { case (label, vs) =>
      val dim = vs.head._2.length
      (0 until dim).map { i =>
        val sumQ = vs.map(v => math.floor(v._2(i).toDouble * 1e6).toLong).sum
        ((label, i), (sumQ, vs.length.toLong))
      }
    }
    val got = VectorStats.q137GroupCentroid(spark, sfDir)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
  }

  test("covariance numerators skip a null embedding row") {
    val dir = java.nio.file.Files.createTempDirectory("q151-null").toString
    val vecs = Seq(Seq(0.1f, -0.2f), Seq(0.3f, 0.4f))
    (vecs.map(Option(_)) :+ None).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 1) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val q = vecs.map(_.map(x =>
      math.floor(x.toDouble * VectorStats.CovQuantScale).toLong))
    val expected = (for (j <- 0 until 2; i <- 0 to j)
      yield (i.toLong, j.toLong, 2L, q.map(v => v(i) * v(j)).sum)).toSet
    val got = VectorStats.q151EmbeddingCovariance(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("dup-span profile on a hand-built pair of overlapping docs") {
    // doc1/doc2 share exactly one 8-token window; doc3 is disjoint;
    // doc4 is too short to carry any span
    val docs = Seq(
      (1L, "a b c d e f g h x"),
      (2L, "z a b c d e f g h"),
      (3L, "p q r s t u v w y"),
      (4L, "a b c")).toDF("doc_id", "text")
    val got = CorpusOps.dupSpanProfile(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
  }

  test("a span repeated only WITHIN one doc is not cross-doc duplicated") {
    val docs = Seq(
      (1L, "a b c d e f g h a b c d e f g h"),
      (2L, "q r s t u v w x")).toDF("doc_id", "text")
    val got = CorpusOps.dupSpanProfile(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got(1L) == 0L, "within-doc repetition must not count as dup")
    assert(got(2L) == 0L)
  }
}
