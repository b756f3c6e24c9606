package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.ShingleMinHash
import graft.llmops.{Dedup, PortableHash}

/** The compiled shingle/minhash kernel must be value-exact against the
  * SQL expressions it replaced: hash52 (conv(substr(md5, 1, 13), 16, 10)),
  * xxhash64, the distinct-set semantics, and the per-table signature
  * minima — the DuckDB oracles replay all of them bit for bit.
  */
class ShingleMinHashSpec extends SparkTestBase {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog", // duplicate doc
    "a b a b a b a b",                              // repeating shingles
    "  leading and   trailing   whitespace  ",
    "ümlaut ünïcode tøkens mixed ascii here",
    "one two",                                      // fewer than n tokens
    "",                                             // empty text
    "solo").zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def df = {
    import spark.implicits._
    texts.toDF("doc", "text")
  }

  private def kernel(n: Int, k: Int, md5_52: Boolean) =
    df.select(col("doc"), ShingleMinHash.of(
      split(trim(col("text")), "\\s+"), n, k, md5_52).as("sh"))

  private def oldRows(n: Int, hashFn: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column) = {
    // the pre-r16 window shape, verbatim
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col("doc"),
      posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val wTok = Window.partitionBy("doc").orderBy("pos")
    val leads = (1 until n).map(kk => lead(col("tok"), kk).over(wTok))
    val withLeads = toks.select(col("doc") +: col("tok") +: leads.zipWithIndex
      .map { case (c, i) => c.as(s"_t$i") }: _*)
    withLeads
      .filter(col(s"_t${n - 2}").isNotNull)
      .select(col("doc"), hashFn(concat_ws(" ",
        col("tok") +: (0 until n - 1).map(i => col(s"_t$i")): _*)).as("s"))
      .dropDuplicates("doc", "s")
  }

  private def asSets(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  test("md5-52 hashes equal the conv(substr(md5)) expression, set-exact") {
    for (n <- Seq(2, 3, 5)) {
      val got = asSets(kernel(n, 0, md5_52 = true)
        .select(col("doc"), explode(col("sh")("hashes")).as("s")).collect())
      val want = asSets(oldRows(n, PortableHash.hash52).collect())
      assert(got === want, s"n=$n")
    }
  }

  test("xxhash64 hashes equal the built-in expression, set-exact") {
    for (n <- Seq(3, 5)) {
      val got = asSets(kernel(n, 0, md5_52 = false)
        .select(col("doc"), explode(col("sh")("hashes")).as("s")).collect())
      val want = asSets(oldRows(n, xxhash64(_)).collect())
      assert(got === want, s"n=$n")
    }
  }

  test("signature minima equal groupBy(min(perm)) over the old rows") {
    val k = 5
    val got = kernel(3, k, md5_52 = true)
      .select(col("doc"), posexplode(col("sh")("sigs")).as(Seq("band", "sig")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val aggs = (0 until k).map(i =>
      min(PortableHash.minhashPerm(col("s"), i)).as(s"_m$i"))
    val want = oldRows(3, PortableHash.hash52)
      .groupBy("doc").agg(aggs.head, aggs.tail: _*)
      .select(col("doc"),
        posexplode(array((0 until k).map(i => col(s"_m$i")): _*))
          .as(Seq("band", "sig")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("short/empty docs yield empty arrays (no rows after explode)") {
    val got = kernel(3, 5, md5_52 = true)
      .select(col("doc"), size(col("sh")("hashes")).as("nh"),
        size(col("sh")("sigs")).as("ns"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(5L) === ((0, 0))) // "one two" < 3 tokens
    assert(got(6L) === ((0, 0))) // empty text
    assert(got(7L) === ((0, 0))) // single token
  }

  // Weighted (capped-multiset) mode: grams repeated 1–5 times, documents
  // shorter than n, empty text and non-ASCII tokens.
  private val weightedTexts = Seq(
    "a b c a b c a b c a b c a b c",                // "a b c" x5, "b c a" x4
    "k k k k k k",                                  // "k k k" x4
    "x y z x y z w x y z",                          // "x y z" x3
    "p q r s t",                                    // every gram once
    "ümlaut ünïcode tøkens ümlaut ünïcode tøkens ümlaut ünïcode",
    "日本 語 テキスト 日本 語 テキスト 日本 語",
    "Ωμέγα ΣΙΓΜΑ ς Ωμέγα ΣΙΓΜΑ ς",
    "one two",                                      // fewer than n tokens
    "",                                             // empty text
    "solo").zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def weightedDf = {
    import spark.implicits._
    weightedTexts.toDF("doc", "text")
  }

  /** The DataFrame expansion `Dedup.weightedMinHashPairs` ran before the
    * kernel took it over, verbatim: grams as strings, counted per
    * (doc, gram), one row per copy 1..min(tf, cap), hashed as
    * hash52(g || '#' || i).
    */
  private def oldWeightedRows(df: org.apache.spark.sql.DataFrame, n: Int,
      cap: Int) = {
    val toks = split(trim(col("text")), "\\s+")
    df.select(col("doc"),
        explode(when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy("doc", "g").agg(count(lit(1)).as("tf"))
      .select(col("doc"),
        explode(sequence(lit(1L), least(col("tf"), lit(cap.toLong)))).as("i"),
        col("g"))
      .select(col("doc"), PortableHash.hash52(
        concat(col("g"), lit("#"), col("i").cast("string"))).as("s"))
  }

  test("weighted kernel: element multisets and sigs equal the old expansion") {
    val k = 5
    for (n <- Seq(2, 3); cap <- Seq(1, 3)) {
      val got = weightedDf.select(col("doc"), ShingleMinHash.of(
          split(trim(col("text")), "\\s+"), n, k, md5_52 = true, weightCap = cap)
          .as("sh"))
        .collect().map(r => r.getLong(0) -> ((
          r.getStruct(1).getSeq[Long](0).sorted,
          r.getStruct(1).getSeq[Long](1)))).toMap
      val old = oldWeightedRows(weightedDf, n, cap)
      val oldHashes = old.collect().groupBy(_.getLong(0))
        .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSeq.sorted }
      val aggs = (0 until k).map(i =>
        min(PortableHash.minhashPerm(col("s"), i)).as(s"_m$i"))
      val oldSigs = old.groupBy("doc").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
      for ((doc, _) <- weightedTexts) {
        val (hs, sigs) = got(doc)
        assert(hs === oldHashes.getOrElse(doc, Seq.empty), s"n=$n cap=$cap doc=$doc hashes")
        assert(sigs === oldSigs.getOrElse(doc, Seq.empty), s"n=$n cap=$cap doc=$doc sigs")
      }
      // the caps bite: doc 0 has "a b c" five times, so cap 3 keeps 3 copies
      if (n == 3) assert(got(0L)._1.size === (if (cap == 1) 3 else 9))
    }
  }

  test("weighted kernel: eval and generated code agree, elements in first-occurrence order") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = "b a b a b a".split(" ").map(UTF8String.fromString)
    val row = ShingleMinHash(Literal.create(new GenericArrayData(toks.toArray[Any]),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        2, 0, md5_52 = true, weightCap = 2).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val hs = row.getArray(0).toLongArray().toSeq
    val h = (s: String) => spark.range(1).select(PortableHash.hash52(lit(s)))
      .head().getLong(0)
    assert(hs === Seq(h("b a#1"), h("b a#2"), h("a b#1"), h("a b#2")))
    // over a range, so the text is not a constant and the plan runs the
    // generated code
    val viaPlan = spark.range(1)
      .select(concat(lit("b a b a b a"), repeat(lit(""), col("id").cast("int")))
        .as("text"))
      .select(ShingleMinHash.of(
        split(col("text"), " "), 2, 0, md5_52 = true, weightCap = 2)("hashes"))
      .head().getSeq[Long](0)
    assert(viaPlan === hs)
  }

  test("weightedMinHashPairs equals the old expansion's pipeline row for row") {
    import spark.implicits._
    val k = 5
    // 40 seeded base documents, each with three near-dup variants: one
    // word replaced, three words replaced, and its first ten words
    // repeated twice more (repetition-skewed); plus the cases above
    val rnd = new scala.util.Random(7)
    val based = (0 until 40).flatMap { b =>
      val base = Vector.fill(30)(s"w${rnd.nextInt(200)}")
      def swap(ws: Vector[String], n: Int) =
        (0 until n).foldLeft(ws)((acc, _) => acc.updated(rnd.nextInt(30), s"x${rnd.nextInt(50)}"))
      Seq(base, swap(base, 1), swap(base, 3), base.take(10) ++ base.take(10) ++ base)
        .zipWithIndex.map { case (ws, v) => (b * 10L + v, ws.mkString(" ")) }
    }
    val docs = (based ++ weightedTexts.map { case (d, t) => (10000L + d, t) })
      .toDF("doc_id", "text")
      .cache()
    for (cap <- Seq(1, 3)) {
      val got = Dedup.weightedMinHashPairs(docs, "doc_id", "text", weightCap = cap)
        .orderBy("id_a", "id_b").collect().toSeq
      // the old body after its expansion: collect_list + min aggregates
      // per doc, OR-banding, the shared exact verify (the band-skew cap is
      // a no-op at this size)
      val ex = oldWeightedRows(docs.select(col("doc_id").as("doc"), col("text")), 3, cap)
      val grouped = ex.groupBy("doc").agg(collect_list(col("s")).as("hs"),
        (0 until k).map(i => min(PortableHash.minhashPerm(col("s"), i)).as(s"_m$i")): _*)
      val banded = grouped.select(col("doc"),
        posexplode(array((0 until k).map(i => col(s"_m$i")): _*)).as(Seq("band", "sig")))
      val cands = banded.alias("x").join(banded.alias("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("batch_id"), col("y.doc").as("corpus_id")).distinct()
      val hs = grouped.select("doc", "hs")
      val want = Dedup.verifyCrossPairs(cands, hs, hs, 0.3)
        .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"), col("jaccard_dist"))
        .orderBy("id_a", "id_b").collect().toSeq
      assert(got.nonEmpty, s"cap=$cap: no pairs, the comparison would be vacuous")
      assert(got === want, s"cap=$cap")
    }
    docs.unpersist()
  }
}
