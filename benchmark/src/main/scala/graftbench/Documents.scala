package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `documents` table in the layout the LLM-ops lanes read
  * (`<dir>/documents.parquet`): doc_id, text, lang, source, n_chars. Texts
  * draw 10–100 tokens from a 30-word vocabulary; one document in twenty is
  * another document's text plus a trailing " dup", so the near-duplicate
  * and exact-duplicate stages always have work. Sources are `src<doc_id % 20>`.
  */
object Documents {
  private val Vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Vector("zh", "de", "fr", "es")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def write(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = Vector.fill(n)(Vector.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    val texts = base.indices.map { i =>
      if (n > 1 && rnd.nextInt(20) == 0) {
        val other = (i + 1 + rnd.nextInt(n - 1)) % n
        base(other) + " dup"
      } else base(i)
    }
    val rows = texts.zipWithIndex.map { case (text, i) =>
      val lang = if (rnd.nextDouble() < 0.41) "en" else Langs(rnd.nextInt(Langs.size))
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
