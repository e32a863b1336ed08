package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for the text-pipeline ops added in round 3: chunking
  * coverage/overlap semantics, PII scrub exactness, and the window-df
  * rewrite of tfidf (must equal the countDistinct spelling).
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("chunk covers every token; windows overlap by width - stride") {
    val words = (1 to 75).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val chunks = TextPipeline.chunk(docs, width = 32, stride = 16)
      .orderBy($"chunk_id")
      .select($"chunk_id", $"chunk_text", $"n_chunk_tokens")
      .as[(Int, String, Int)].collect()
    // starts at 1, 17, 33, 49: n - width + stride = 75 - 32 + 16 = 59 ⇒ 4 windows
    assert(chunks.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(chunks(0)._2.startsWith("w1 ") && chunks(0)._3 == 32)
    assert(chunks(1)._2.startsWith("w17 ") && chunks(1)._3 == 32)
    // final chunk is the shorter tail (49..75 = 27 tokens) ending at w75
    assert(chunks(3)._3 == 27 && chunks(3)._2.endsWith(" w75"))
    // every token appears in at least one chunk
    val covered = chunks.flatMap(_._2.split(" ")).toSet
    assert(covered == words.toSet, "chunking dropped tokens")
  }

  test("chunk of a short doc is one full-copy window") {
    val docs = Seq((1L, "only five little words here")).toDF("doc_id", "text")
    val chunks = TextPipeline.chunk(docs, width = 32, stride = 16)
      .select($"chunk_id", $"chunk_text", $"n_chunk_tokens")
      .as[(Int, String, Int)].collect()
    assert(chunks.toSeq == Seq((0, "only five little words here", 5)))
  }

  test("scrubPii redacts emails before digit runs and counts matches") {
    val docs = Seq(
      (1L, "mail bob42@host7.com then call 555 1234"),
      (2L, "clean text with no pii at all")).toDF("doc_id", "text")
    val out = TextPipeline.scrubPii(docs)
      .select($"doc_id", $"scrubbed", $"n_emails", $"n_numbers")
      .orderBy($"doc_id")
      .as[(Long, String, Int, Int)].collect()
    // the email is consumed whole (its digits never count as numbers)
    assert(out(0) == ((1L, "mail <EMAIL> then call <NUM> <NUM>", 1, 2)),
      s"got ${out(0)}")
    assert(out(1) == ((2L, "clean text with no pii at all", 0, 0)))
  }

  test("trainSplit is deterministic and near-uniform over 10k ids") {
    val ids = spark.range(10000).toDF("doc_id")
    val sizes = TextPipeline.trainSplit(ids)
      .groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(sizes.values.sum == 10000)
    // md5-bucket uniformity: 80/10/10 within a generous ±2.5% of total
    assert(math.abs(sizes("train") - 8000) < 250, s"train: ${sizes("train")}")
    assert(math.abs(sizes("valid") - 1000) < 250, s"valid: ${sizes("valid")}")
    assert(math.abs(sizes("test") - 1000) < 250, s"test: ${sizes("test")}")
    // stability: the assignment is a pure function of the id
    val again = TextPipeline.trainSplit(ids).groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(again == sizes)
  }

  test("window-df tfidf equals the countDistinct spelling") {
    val docs = Seq(
      (1L, "x y x z"),
      (2L, "y z z"),
      (3L, "x q")).toDF("doc_id", "text")
    val got = TextPipeline.tfidf(docs, nDocs = 3)
      .select($"doc_id", $"term", $"tf", $"df")
      .as[(Long, String, Long, Long)].collect().toSet
    val tokens = TextPipeline.removeStopwords(TextPipeline.tokenize(docs))
    val tf = tokens.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfExp = tokens.groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"))
    val expected = tf.join(dfExp, "term")
      .select($"doc_id", $"term", $"tf", $"df")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.contains((1L, "x", 2L, 2L)), s"spot row wrong: $got")
  }

  test("stratifiedSample: deterministic, rate-accurate, subset-monotone") {
    val docs = (1L to 4000L).map { i =>
      (i, if (i % 4 == 0) "minor" else "major")
    }.toDF("doc_id", "lang")
    val rates = Map("major" -> 0.25, "minor" -> 1.0)
    val kept = TextPipeline.stratifiedSample(docs, "lang", rates)
      .as[(Long, String)].collect().toSet
    // deterministic: a second evaluation returns the identical set
    val kept2 = TextPipeline.stratifiedSample(docs, "lang", rates)
      .as[(Long, String)].collect().toSet
    assert(kept == kept2)
    // rate 1.0 keeps a stratum whole
    assert(kept.count(_._2 == "minor") == 1000)
    // rate 0.25 keeps close to a quarter (16-bit hash, 3000 trials:
    // ±5 sigma ≈ ±119)
    val nMajor = kept.count(_._2 == "major")
    assert(math.abs(nMajor - 750) < 120, s"major kept $nMajor of 3000")
    // raising a rate only ADDS rows (threshold semantics): the 0.25
    // sample of major is a subset of its 0.5 sample
    val keptHalf = TextPipeline
      .stratifiedSample(docs, "lang", Map("major" -> 0.5))
      .as[(Long, String)].collect().toSet
    assert(kept.filter(_._2 == "major").subsetOf(keptHalf))
    // unlisted strata fall back to defaultRate (0 ⇒ dropped)
    assert(TextPipeline.stratifiedSample(docs, "lang", Map("minor" -> 1.0))
      .filter($"lang" === "major").count() == 0)
    // decorrelated from trainSplit: the sampled set's train share stays
    // near 80% (correlated hashes would skew it)
    val trainInSample = TextPipeline.trainSplit(
        TextPipeline.stratifiedSample(docs, "lang", rates))
      .filter($"split" === "train").count().toDouble
    assert(math.abs(trainInSample / kept.size - 0.8) < 0.04,
      s"sample/split correlation: train share ${trainInSample / kept.size}")
  }

  test("packDocs two-pass prefix equals a plain cumsum; packs tile the stream") {
    // doc lengths chosen so several docs span pack boundaries
    val docs = (1L to 200L).map { i =>
      (i, Seq.fill((i % 37 + 3).toInt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val budget = 100
    val got = TextPipeline.packDocs(docs, budget = budget)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    // ground truth: driver-side running sum in doc_id order
    var cum = 0L
    val expected = (1L to 200L).map { i =>
      val n = i % 37 + 3
      val start = cum
      cum += n
      (i, n, start, start / budget, (cum - 1) / budget)
    }
    assert(got.toSeq == expected)
    // invariants: offsets are contiguous (no gaps/overlaps) and a doc
    // spans extra packs only when it crosses a cut point
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 + a._2 == b._3, s"gap between ${a._1} and ${b._1}")
    }
    assert(got.exists(r => r._4 != r._5), "no doc spans a pack boundary")
  }

  test("q200 weighted sample: heavier weight classes are overrepresented") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val sample = TextPipeline.q200WeightedSample(spark, dir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val corpus = graft.core.Tables.documents(spark, dir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val k = sample.values.sum.toDouble
    val n = corpus.values.sum.toDouble
    // en (w=1, majority of corpus) must be UNDERrepresented; fr (w=8)
    // must be OVERrepresented — the point of weighted sampling.
    val enLift = (sample.getOrElse("en", 0L) / k) / (corpus("en") / n)
    val frLift = (sample.getOrElse("fr", 0L) / k) / (corpus("fr") / n)
    assert(enLift < 1.0, s"en lift $enLift should be < 1")
    assert(frLift > 1.0, s"fr lift $frLift should be > 1")
    // priorities are valid A-ES keys: within (0, 1], unique
    val pr = TextPipeline.q200WeightedSample(spark, dir)
      .select($"priority").as[Double].collect()
    assert(pr.forall(p => p > 0.0 && p <= 1.0))
    assert(pr.distinct.length == pr.length)
  }
}
