package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL-registration parity: every graft SQL function must return
  * bit-identical results to its Column-API twin, since both construct
  * the same Catalyst expression.
  */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private val docs = Seq(
    (1L, Seq("alpha", "beta", "gamma")),
    (2L, Seq("table", "hash", "join", "scan")),
    (3L, Seq.empty[String])).toDF("id", "toks")

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(-1.5f, 0.0f, 2.25f), Array(0.5f, -3.0f, 1.0f)))
    .toDF("id", "a", "b")

  test("simhash64 SQL == Column API") {
    docs.createOrReplaceTempView("gf_docs")
    val viaSql = spark.sql(
      "SELECT id, simhash64(toks) AS h FROM gf_docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = docs.select($"id", TextFunctions.simhash64($"toks").as("h"))
      .orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaCol)
  }

  test("dot_f32 / dot_q20 SQL == Column API") {
    vecs.createOrReplaceTempView("gf_vecs")
    val viaSql = spark.sql(
      "SELECT id, dot_f32(a, b) AS d, dot_q20(a, b) AS q FROM gf_vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val viaCol = vecs.select($"id",
        VectorFunctions.dot_f32($"a", $"b").as("d"),
        VectorFunctions.dot_q20($"a", $"b").as("q"))
      .orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(viaSql == viaCol)
    // sanity: hand value for id=1: 1*4 + 2*5 + 3*6 = 32
    assert(viaSql.head._2 == 32.0)
  }

  test("srp_bucket SQL == Column API, constant-arg enforced") {
    vecs.createOrReplaceTempView("gf_vecs")
    val viaSql = spark.sql(
      "SELECT id, srp_bucket(a, 16, 7) AS bkt FROM gf_vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = vecs.select($"id",
        VectorFunctions.srp_bucket($"a", 16, 7).as("bkt"))
      .orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaCol)
    val err = intercept[Exception] {
      spark.sql("SELECT srp_bucket(a, id, 7) FROM gf_vecs").collect()
    }
    assert(err.getMessage.contains("constant integer"))
  }

  test("count_values equals explode+groupBy counts; order is first-occurrence") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq("b", "a", "b", "c", "b")),
      (2L, Seq.empty[String]),
      (3L, Seq("x"))).toDF("id", "toks")
    val viaExpr = df.select($"id",
        explode(TextFunctions.countValues($"toks")).as(Seq("t", "c")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaAgg = df.select($"id", explode($"toks").as("t"))
      .groupBy($"id", $"t").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaExpr == viaAgg, s"$viaExpr vs $viaAgg")
    // deterministic first-occurrence key order within the map
    val keys = df.filter($"id" === 1L)
      .select(map_keys(TextFunctions.countValues($"toks")))
      .first().getSeq[String](0)
    assert(keys == Seq("b", "a", "c"), s"unexpected key order $keys")
    // empty array -> empty map (row 2 contributes nothing to explode)
    assert(!viaExpr.exists(_._1 == 2L))
  }

  test("extensions class exposes the same function set") {
    val names = GraftFunctions.descriptions.map(_._1.funcName).toSet
    assert(names == Set("simhash64", "dot_f32", "dot_q20", "srp_bucket",
      "jaro_winkler", "mg_topk", "cms_estimate",
      "hilbert_xy2d", "nfc_normalize", "reservoir_sample",
      "count_values",
      "rbm_agg", "rbm_or_agg", "rbm_count", "rbm_and_count",
      "rbm_or_count", "deflate_len"))
    // the extensions entry point is constructible via the reflective
    // path spark.sql.extensions uses
    val ctor = Class.forName("graft.functions.GraftExtensions")
      .getDeclaredConstructor().newInstance()
    assert(ctor.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }
}
