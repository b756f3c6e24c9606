package graft

import java.util.Locale

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.RootLower

/** The compiled lowercase must equal Spark's `lower()` on the cases a
  * text gauge meets, and must not follow the JVM's default locale.
  */
class RootLowerSpec extends SparkTestBase {

  private val samples: Seq[String] = Seq(
    "Hello WORLD 123 !?",                  // ASCII fast path
    "STRASSE Straße GROẞE",                // ß and capital ẞ
    "ΟΔΟΣ ΟΔΟΣ. ΣΟΦΟΣ",                    // Greek final sigma in context
    "İSTANBUL Istanbul ıI",                // Turkish dotted/dotless i
    "МОСКВА Привет",                       // Cyrillic
    "日本語 テキスト 中文",                   // CJK (no case)
    "EMOJI 😀 Ünïcödé ÆØÅ",                 // astral plane + Latin-1
    "")

  private def lowered(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    import spark.implicits._
    // the shuffle keeps the optimizer from evaluating the projection over
    // the local rows itself, so the generated code runs
    samples.zipWithIndex.toDF("text", "i")
      .repartition(2)
      .select(col("i"), f(col("text")).as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
  }

  test("RootLower equals lower() on ASCII, ß/ẞ, final sigma, İ/I, Cyrillic, CJK, emoji, empty") {
    val mine = lowered(RootLower.lower)
    val spark_ = lowered(lower)
    samples.indices.foreach { i =>
      assert(mine(i) === spark_(i), s"sample ${samples(i)}")
    }
    assert(mine(2) === "\u03bf\u03b4\u03bf\u03c2 \u03bf\u03b4\u03bf\u03c2. " +
      "\u03c3\u03bf\u03c6\u03bf\u03c2", "final sigma")
    // interpreted eval agrees with the generated code
    samples.indices.foreach { i =>
      val e = RootLower(org.apache.spark.sql.catalyst.expressions.Literal(samples(i)))
      assert(e.eval().toString === mine(i))
    }
  }

  test("RootLower keeps null and does not follow a Turkish default locale") {
    import spark.implicits._
    val before = lowered(RootLower.lower)
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr"))
    try {
      assert(lowered(RootLower.lower) === before)
      assert(before(3) === "i\u0307stanbul istanbul \u0131i")
    } finally Locale.setDefault(saved)
    val n = Seq(Option.empty[String]).toDF("text")
      .select(RootLower.lower(col("text"))).head()
    assert(n.isNullAt(0))
  }
}
