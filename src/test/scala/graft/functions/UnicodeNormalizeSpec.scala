package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  // explicit code points — source-encoding-proof
  private val eAcuteNFC = "\u00e9"            // composed
  private val eAcuteNFD = "e\u0301"           // e + combining acute
  private val oDiaNFC   = "\u00f6"            // composed
  private val oDiaNFD   = "o\u0308"           // o + combining diaeresis

  private def norm(s: String, form: String = "NFC"): String =
    Seq(s).toDF("t")
      .select(UnicodeNormalize.unicodeNormalize(col("t"), form).as("n"))
      .as[String].head()

  test("NFC composes combining sequences; NFD decomposes them") {
    assert(norm(eAcuteNFD) == eAcuteNFC)
    assert(norm(oDiaNFD) == oDiaNFC)
    assert(norm(eAcuteNFC, "NFD") == eAcuteNFD)
    assert(norm(eAcuteNFD, "NFD") == eAcuteNFD) // already decomposed
  }

  test("NFKC folds compatibility forms NFC leaves alone") {
    assert(norm("\ufb01") == "\ufb01")     // fi ligature survives NFC
    assert(norm("\ufb01", "NFKC") == "fi") // ...but not NFKC
    assert(norm("\uff21", "NFKC") == "A")  // fullwidth A
    assert(norm("\u2460", "NFKC") == "1")  // circled digit one
  }

  test("idempotent, null-safe, and identity on ASCII") {
    assert(norm(norm(eAcuteNFD)) == norm(eAcuteNFD))
    assert(norm("plain ascii text") == "plain ascii text")
    assert(norm("") == "")
    val r = Seq(Option.empty[String]).toDF("t")
      .select(UnicodeNormalize.unicodeNormalize(col("t")).as("n"))
      .as[Option[String]].head()
    assert(r.isEmpty)
  }

  test("SQL registration and codegen path agree with interpreted eval") {
    val df = graft.Tables(spark, sf("")).documents.limit(50)
      .select(concat(col("text"), lit(" " + eAcuteNFD + " \ufb03")).as("t"))
    val viaSql = df.selectExpr("unicode_normalize(t, 'NFKC') AS n")
    val viaApi = df.select(UnicodeNormalize.unicodeNormalize(col("t"), "NFKC").as("n"))
    assert(viaSql.as[String].collect().toSeq == viaApi.as[String].collect().toSeq)
    assert(viaSql.as[String].collect().forall(_.endsWith(" " + eAcuteNFC + " ffi")))
  }

  test("rejects a bad form eagerly") {
    intercept[IllegalArgumentException] {
      UnicodeNormalize(org.apache.spark.sql.GraftGlue.expression(col("t")), "NFX")
    }
  }
}
