package graft

import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions evaluate") {
    val r = spark.sql(
      "SELECT simhash64(array('a','b')) AS h, vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head()
    assert(r.getLong(0) != 0L)
    assert(r.getDouble(1) == 11.0)
    val mp = spark.sql(
      "SELECT multi_pattern_counts('she sells seashells', 'she,sells') AS c")
      .head().getSeq[Long](0)
    assert(mp == Seq(2L, 1L)) // 'she' leads + hides inside 'seashells'
  }

  test("vec_dot matches the HOF formulation bitwise on real embeddings") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings.limit(50)
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val mismatches = emb.select(
        graft.functions.VecOps.vecDot(col("embedding"), col("embedding")).as("a"), hof.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }
  test("sig_match_count matches the HOF formulation and survives codegen") {
    val sigs = Tables(spark, "/root/testdata/sf0.001").documents.limit(40).select(
      col("doc_id"),
      graft.functions.MinHashMd5.textMinhashMd5Multi(
        col("text"), (0 until 8).map(j => s"bp$j|")).as("sig"))
    val pair = sigs.as("a").crossJoin(sigs.as("b").limit(6))
    val hof = size(filter(zip_with(col("a.sig"), col("b.sig"),
      (x, y) => x === y), b => b))
    val mismatches = pair.select(
        graft.functions.SigMatchCount.sigMatchCount(col("a.sig"), col("b.sig")).as("x"),
        hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(mismatches == 0)
    val r = spark.sql(
      "SELECT sig_match_count(array('a','b','c'), array('a','x','c')) AS m").head()
    assert(r.getInt(0) == 2)
    // mismatched lengths count over the common prefix, like the padded HOF
    val m = spark.sql(
      "SELECT sig_match_count(array('a','b','c'), array('a','b')) AS m").head()
    assert(m.getInt(0) == 2)
  }

  test("vec_sqdist matches the HOF formulation exactly on quantized embeddings") {
    val emb = graft.operators.Clustering.quantized(
      Tables(spark, "/root/testdata/sf0.001").embeddings.limit(50))
    val pair = emb.as("a").crossJoin(emb.as("b").limit(5))
    val hof = aggregate(
      zip_with(col("a.u"), col("b.u"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val mismatches = pair.select(
        graft.functions.LongVecSqDist.sqDist(col("a.u"), col("b.u")).as("x"), hof.as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(mismatches == 0)
    // self-distance is zero; callable from SQL after registration
    val r = spark.sql(
      "SELECT vec_sqdist(array(1L, 5L), array(4L, 1L)) AS d").head()
    assert(r.getLong(0) == 25L) // 3² + 4²
    // length mismatch yields NULL, matching aggregate(zip_with(...)) which
    // pads the shorter array with nulls — both interpreted and codegen paths
    val m = spark.sql(
      "SELECT vec_sqdist(array(1L, 2L, 3L), array(1L, 2L)) AS d").head()
    assert(m.isNullAt(0))
    val mCodegen = spark.range(1)
      .selectExpr("vec_sqdist(array(id, id, id), array(id, id)) AS d").head()
    assert(mCodegen.isNullAt(0))
  }

  test("winnow, minhash, and topk_sketch are callable from SQL") {
    val r = spark.sql(
      """SELECT size(winnow_fingerprints('the quick brown fox jumps over the lazy dog')) AS nw,
                text_minhash_md5('a b c d e', 'salt0|') AS mh""").head()
    assert(r.getInt(0) > 0)
    assert(r.getString(1).length == 32)
    Seq("x", "x", "x", "y").toDF("t").createOrReplaceTempView("toks")
    val agg = spark.sql("SELECT topk_sketch(t, 1) AS c FROM toks").head().getSeq[String](0)
    assert(agg == Seq("x"))
  }

  test("shingle_set and minhash_md5 are callable from SQL and compose") {
    val r = spark.sql(
      """SELECT shingle_set('a b c d') AS sh,
                shingle_set('a b c d', 2) AS sh2,
                minhash_md5(shingle_set('a b c d'), 'salt0|') AS mh""").head()
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(r.getString(2).length == 32)
    // composed SQL form == the fused text kernel
    val pair = spark.sql(
      """SELECT minhash_md5(shingle_set('w x y z'), 's|') = text_minhash_md5('w x y z', 's|') AS eq""").head()
    assert(pair.getBoolean(0))
  }
}