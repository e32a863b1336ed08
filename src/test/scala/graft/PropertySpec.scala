package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.catalog.FbcIngest
import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** The ScalaCheck property tests promised in SURVEY.md §5.3, driven via
  * raw ScalaCheck inside ScalaTest (the scalatest+scalacheck bridge
  * artifact is not in the offline cache):
  *   - partition-write → read round-trip preserves the row multiset;
  *   - exact dedup is idempotent;
  *   - global top-k is exactly the k-prefix of the full sort.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(name: String, p: Prop, minTests: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
      .map(_.mkString)

  test("snapshot write -> read round-trip preserves the row multiset") {
    val metaGen = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        schema <- Gen.oneOf("olm.package", "olm.channel", "olm.bundle")
        pkg <- Gen.oneOf("", "pkg-a", "pkg-b", "pkg-c")
        name <- word
      } yield (schema, pkg, name))
    } yield rows
    check("round-trip", Prop.forAll(metaGen) { rows =>
      val df = rows.toDF("schema", "package", "name")
        .withColumn("blob", concat(lit("{\"name\":\""), col("name"), lit("\"}")))
      val root = Files.createTempDirectory("prop-snap").toString
      FbcIngest.writeSnapshot(spark, df, root, snapshotId = Some("p"))
      val back = FbcIngest.activeMeta(spark, root)
        .select("schema", "name", "blob")
        .collect().map(_.toString).sorted.toSeq
      // package is transformed by the 3-way key rule, so compare the
      // untransformed columns: multiset must survive exactly
      val expected = df.select("schema", "name", "blob")
        .collect().map(_.toString).sorted.toSeq
      back == expected
    })
  }

  test("exact dedup is idempotent") {
    val docsGen = for {
      n <- Gen.choose(1, 20)
      texts <- Gen.listOfN(n, Gen.oneOf(
        "alpha beta gamma", "delta epsilon zeta", "eta theta iota",
        "alpha beta gamma", "kappa lambda mu")) // dups by construction
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    check("dedup-idempotent", Prop.forAll(docsGen) { docs =>
      def dedup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(sha2($"text", 256).as("h"))
          .agg(min($"doc_id").as("doc_id"), first($"text").as("text"))
          .select($"doc_id", $"text")
      val once = dedup(docs.toDF("doc_id", "text"))
      val twice = dedup(once)
      once.collect().map(_.toString).sorted.toSeq ==
        twice.collect().map(_.toString).sorted.toSeq
    })
  }

  test("chunking covers every token and respects the start-stride law") {
    val docGen = for {
      n <- Gen.choose(1, 120)
      ws <- Gen.listOfN(n, word)
    } yield ws
    check("chunk-coverage", Prop.forAll(docGen,
        Gen.choose(2, 20), Gen.choose(1, 10)) { (ws, width, stride0) =>
      val stride = math.min(stride0, width) // overlapping or exact tiling
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.llm.TextPipeline.chunk(docs, width, stride)
        .orderBy($"chunk_id")
        .select($"chunk_id", $"chunk_text", $"n_chunk_tokens")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      val n = ws.length
      val starts = 1 to math.max(1, n - width + stride) by stride
      chunks.length == starts.length &&
        chunks.zip(starts).forall { case ((_, text, nct), start) =>
          val expect = ws.slice(start - 1, start - 1 + width)
          text == expect.mkString(" ") && nct == expect.length
        } &&
        // union of chunks covers the whole doc
        chunks.flatMap(_._2.split(" ")).toSet == ws.toSet
    })
  }

  test("global top-k equals the k-prefix of the full sort") {
    val rowsGen = for {
      n <- Gen.choose(1, 50)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 1000L)
        v <- Gen.choose(-1e6, 1e6)
      } yield (k, v))
    } yield rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
    check("topk-prefix", Prop.forAll(rowsGen, Gen.choose(1, 10)) { (rows, k) =>
      val df = rows.toDF("id", "key", "value")
      val topk = df.orderBy($"value".desc, $"id".asc).limit(k)
        .collect().map(_.toString).toSeq
      val prefix = df.collect()
        .sortBy(r => (-r.getDouble(2), r.getLong(0)))
        .take(k).map(_.toString).toSeq
      topk == prefix
    })
  }

  test("bounded-heap per-group top-k equals a reference sort-and-take " +
      "on random data") {
    val rowsGen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 5L)   // few groups → real per-group contention
        v <- Gen.choose(-100.0, 100.0)
      } yield (g, v))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
    check("heap-topk", Prop.forAll(rowsGen, Gen.choose(1, 6)) { (rows, k) =>
      val df = rows.toDF("id", "g", "v")
      val got = graft.plans.TopK
        .perGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), k)
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).values.flatMap { grp =>
        grp.sortBy(r => (-r._3, r._1)).take(k).map(_._1)
      }.toSet
      got == want
    }, minTests = 20)
  }

  test("spilled per-group top-k equals the reference on random data and " +
      "random thresholds") {
    val rowsGen = for {
      n <- Gen.choose(1, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 9L)
        v <- Gen.choose(-100.0, 100.0)
      } yield (g, v))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
    // thresholds small enough that most runs spill several times, so
    // the key-sorted run files + k-way merge path is what is tested
    val p = Prop.forAll(rowsGen, Gen.choose(1, 6), Gen.choose(1, 9)) {
      (rows, k, threshold) =>
        GraftSession.withConfs(spark,
            graft.plans.TopK.SpillThresholdKey -> threshold.toString) {
          val df = rows.toDF("id", "g", "v")
          val got = graft.plans.TopK
            .perGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), k)
            .select("id").as[Long].collect().toSet
          val want = rows.groupBy(_._2).values.flatMap { grp =>
            grp.sortBy(r => (-r._3, r._1)).take(k).map(_._1)
          }.toSet
          got == want
        }
    }
    check("heap-topk-spill", p, minTests = 20)
  }
}
