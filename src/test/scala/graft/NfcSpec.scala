package graft

import org.apache.spark.sql.functions._

/** graft_nfc (functions/UnicodeNormalize.scala): TR#15 canonical
  * composition, codegen and interpreted paths identical.
  */
class NfcSpec extends SparkSpec {

  private val decomposed = "résumé" // e + combining acute ×2
  private val composed = "résumé"     // precomposed é ×2

  test("composes decomposed forms, passes composed/ASCII through, idempotent") {
    import spark.implicits._
    val out = Seq(decomposed, composed, "plain ascii", "")
      .toDF("s")
      .select(graft.ops.TextFns.nfc(col("s")).as("n"))
      .as[String].collect()
    assert(out(0) == composed && out(1) == composed)
    assert(out(2) == "plain ascii" && out(3) == "")
    // idempotence: normalizing the normalized output is the identity
    assert(graft.functions.NfcNormalize.nfc(
      org.apache.spark.unsafe.types.UTF8String.fromString(out(0))).toString == composed)
  }

  test("interpreted eval matches the codegen'd DataFrame path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    for (s <- Seq(decomposed, composed, "å", "mixed é and é")) {
      val interp = graft.functions.NfcNormalize(Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType))
        .eval(null).asInstanceOf[UTF8String].toString
      import spark.implicits._
      val gen = Seq(s).toDF("s")
        .select(graft.ops.TextFns.nfc(col("s"))).as[String].head()
      assert(interp == gen, s"paths diverge on ${s.codePoints().toArray.toSeq}")
      assert(interp == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  test("nulls stay null; non-string input rejected at analysis") {
    import spark.implicits._
    val r = Seq[Option[String]](None, Some(decomposed)).toDF("s")
      .select(graft.ops.TextFns.nfc(col("s")).as("n"))
      .collect()
    assert(r(0).isNullAt(0) && r(1).getString(0) == composed)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("i").select(graft.ops.TextFns.nfc(col("i"))).collect()
    }
  }
}
