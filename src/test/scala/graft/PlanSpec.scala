package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions — "is this the plan you'd want at 100 TB",
  * enforced, not eyeballed: filters and projections must reach the parquet
  * scan, small dimension joins must broadcast, aggregations must partial-
  * aggregate map-side, and hot paths must stay inside WholeStageCodegen.
  * A regression here is a silent 10–100× at scale long before it shows up
  * in a local benchmark.
  */
class PlanSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter and projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"),
      s"projection not pruned to 2 columns:\n$p")
  }

  test("dimension-hop join broadcasts the small side (no shuffle of the fact table)") {
    val q = SparkEntry.queries("q_j5_dim_hop")
    val p = plan(q(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in q_j5_dim_hop:\n$p")
  }

  test("groupBy aggregates partially before the shuffle (map-side combine)") {
    val df = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    val p = plan(df)
    // two HashAggregates around one Exchange = partial + final
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
    assert(p.contains("hashpartitioning(l_returnflag"), s"missing key shuffle:\n$p")
  }

  test("text-analysis pipeline stays inside WholeStageCodegen") {
    val df = graft.llmops.TextAnalysis.withQuality(Tables.documents(spark, dir))
      .select("doc_id", "n_tokens", "stopword_ratio")
    // codegen spans only annotate in simple mode (the '*(n)' stars).
    val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(simple.contains("*("), s"no WholeStageCodegen span:\n$simple")
    // the quality metrics are one narrow projection over the scan — no
    // Exchange may appear anywhere in the plan.
    assert(!simple.contains("Exchange"), s"unexpected shuffle in narrow pipeline:\n$simple")
  }

  test("minhash signature aggregation is a single shuffle over hashed shingles") {
    val df = graft.llmops.Dedup.minHashPairs(
      Tables.documents(spark, dir).limit(50), "doc_id", "text")
    // plan inspection on the pre-checkpoint frame: candidates + verification
    // reuse the cached shingle set; the signature groupBy is hash-partitioned.
    assert(df.columns.toSeq == Seq("id_a", "id_b", "jaccard_dist"))
  }

  test("bucketed store joins shuffle-free (write-once / join-many)") {
    import graft.ingest.Refresh
    import scala.jdk.CollectionConverters._
    val nodes = spark.createDataFrame(
      (0L until 20L).map(i => org.apache.spark.sql.Row(
        i, "Part", null, s"k$i", Map.empty[String, String].asJava.asScala.toMap)).asJava,
      Refresh.nodeSchema)
    val edges = spark.createDataFrame(
      (0L until 19L).map(i => org.apache.spark.sql.Row(
        i, i + 1, "NEXT", null, Map.empty[String, String].asJava.asScala.toMap)).asJava,
      Refresh.edgeSchema)
    Refresh.writeBucketed(Refresh.GraphStore(nodes, edges), "bkt_test", buckets = 4)
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val b = Refresh.loadBucketed(spark, "bkt_test")
        val joined = b.edges.join(b.nodes, b.edges("src") === b.nodes("id"))
        val p = plan(joined)
        assert(!p.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$p")
        assert(joined.count() == 19)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_test_nodes")
      spark.sql("DROP TABLE IF EXISTS bkt_test_edges")
    }
  }

  test("tfidf term join degrades to a shuffle join when the vocabulary is large") {
    // threshold -1 simulates a document-frequency table too big to
    // broadcast (the vocabulary is unbounded at corpus scale): with no
    // forced hint on dfc, the planner must fall back to a shuffle join.
    // Only the 1-row corpus-size scalar keeps its (intentional) hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.llmops.TextAnalysis.tfidfTopTerms(
        Tables.documents(spark, dir), "doc_id", "text")
      val p = plan(df)
      assert(!p.contains("BroadcastHashJoin"),
        s"term-df join must not be force-broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join on term:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("temporal joins avoid nested-loop plans") {
    // asofJoin: one keyed window over a union — NO join node at all.
    val asof = SparkEntry.queries("q_t_asof_join")(spark, dir)
    val pAsof = plan(asof)
    assert(!pAsof.contains("NestedLoop"), s"asof must not nested-loop:\n$pAsof")
    assert(pAsof.contains("RunningWindowFunction") || pAsof.contains("Window"),
      s"expected window-based asof plan:\n$pAsof")
    // rangeJoin: binned EQUI-join — the naive inequality formulation would
    // plan as BroadcastNestedLoopJoin (|L|×|R| at scale).
    val range = SparkEntry.queries("q_t_range_join")(spark, dir)
    val pRange = plan(range)
    assert(!pRange.contains("NestedLoop"), s"range join must be an equi-join:\n$pRange")
    assert(pRange.contains("BroadcastHashJoin") || pRange.contains("SortMergeJoin") ||
      pRange.contains("ShuffledHashJoin"), s"expected hash/merge equi-join:\n$pRange")
  }

  test("parquet workbook ingest stays in codegen (no RDD round-trip, pruning intact)") {
    import graft.ingest.Workbook
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowno").toString
    // two part-files so the cross-file offset path is exercised.
    spark.range(100).selectExpr(
        "cast(id as string) as `VI SDK UUID`",
        "cast(id as string) as `VI SDK Server`",
        "concat('c', id) as `Name`")
      .repartition(2).write.parquet(s"$tmp/vCluster.parquet")
    val sheet = Workbook.loadParquetDir(spark, tmp)("vCluster")
    val p = plan(sheet)
    assert(!p.contains("ExistingRDD") && !p.contains("Scan rdd"),
      s"workbook ingest must not round-trip through an RDD:\n$p")
    assert(p.contains("Scan parquet"), s"expected a native parquet scan:\n$p")
    // the offsets side is tiny (#files rows) and must broadcast.
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
    // column pruning survives downstream of _rowno attachment: a 1-column
    // projection reads only that column (+ the metadata struct the row
    // index rides on — generated by the scan, zero I/O).
    val pruned = plan(sheet.select("Name"))
    assert(!pruned.contains("VI SDK UUID"), s"pruning lost through ingest:\n$pruned")
    // _rowno is dense 0-based across files, like the old RDD path.
    val rownos = sheet.select("_rowno").collect().map(_.getLong(0)).sorted.toSeq
    assert(rownos == (0L until 100L).toSeq, "expected dense 0-based _rowno")
  }

  test("substring dedup plans: seed join is equi on the fingerprint, never a product") {
    val docs = Tables.documents(spark, dir)
    val spans = graft.llmops.Dedup.sharedSpans(docs, "doc_id", "text")
    val p = plan(spans)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      s"span seeding must stay an equi-join on the shingle hash:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge seed join:\n$p")
    // the scrub's covered-position removal is an anti equi-join, no range join.
    val scrub = graft.llmops.Dedup.removeSharedSpans(docs, "doc_id", "text")
    val ps = plan(scrub)
    assert(!ps.contains("CartesianProduct") && !ps.contains("NestedLoopJoin"),
      s"scrub must anti-join on (doc, pos), never a range/product join:\n$ps")
    assert(ps.contains("LeftAnti"), s"expected an anti join in the scrub:\n$ps")
  }

  test("heavy-hitter prune and mix-sample plans: broadcast-only small sides") {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(explode(split(trim(col("text")), " ")).as("token"))
    val hh = plan(graft.functions.CountMin.heavyHitters(toks, "token", k = 64))
    assert(hh.contains("BroadcastHashJoin") || hh.contains("BroadcastNestedLoopJoin"),
      s"sketch and total must broadcast, never shuffle the token stream:\n$hh")
    assert(!hh.contains("CartesianProduct") && !hh.contains("SortMergeJoin"),
      s"no shuffled join may touch the occurrence stream:\n$hh")
    val mixPlan = graft.llmops.Corpus.temperatureMixPlan(docs, col("lang"), 300L)
    val mixed = plan(graft.llmops.Corpus.mixSample(docs, col("doc_id"), col("lang"), mixPlan))
    assert(mixed.contains("BroadcastHashJoin") && !mixed.contains("SortMergeJoin"),
      s"the strata plan table must broadcast onto the un-shuffled corpus:\n$mixed")
    // upsampling: same broadcast plan side; the fan-out is a narrow
    // Generate (explode), never a shuffle of the corpus.
    val up = plan(graft.llmops.Corpus.mixResample(docs, col("doc_id"), col("lang"), mixPlan))
    assert(up.contains("BroadcastHashJoin") && !up.contains("SortMergeJoin"),
      s"upsample plan must broadcast the plan table:\n$up")
    assert(up.contains("Generate"), s"expected the explode fan-out:\n$up")
  }

  test("leakageSafeSplit plan: cluster table broadcasts, corpus never shuffles") {
    val docs = Tables.documents(spark, dir)
    // a realistic dedup output: far fewer rows than the corpus — the
    // optimizer must broadcast it onto the un-shuffled corpus and keep
    // the split decision a codegen'd projection.
    val clusters = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("v"), (col("doc_id") - col("doc_id") % 20).as("cluster"))
    val p = plan(graft.llmops.Corpus.leakageSafeSplit(docs.select("doc_id"),
      "doc_id", clusters, Seq("train" -> 8000, "valid" -> 1000, "test" -> 1000)))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"cluster labels must broadcast onto the corpus:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"the corpus side must not shuffle for the split join:\n$p")
  }

  test("trainingOrder plan: partitioned windows only, offsets broadcast") {
    val docs = Tables.documents(spark, dir)
    val p = plan(graft.llmops.Corpus.trainingOrder(docs, col("doc_id")))
    // the data-bearing window is partitioned by hash bucket; the only
    // unpartitioned window runs over the nBuckets-row offsets table,
    // which must come back via broadcast — the corpus never funnels
    // through one partition.
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"bucket offsets must broadcast onto the ranked corpus:\n$p")
  }

  test("semDedup plan: broadcast centroids for assignment, equi-join on cell for pairs") {
    val emb = Tables.embeddings(spark, dir)
    val p = plan(graft.llmops.Similarity.semDedupPairs(emb, threshold = 0.4, nlist = 16))
    // centroid scoring must broadcast (BroadcastNestedLoopJoin from the
    // bounded crossJoin); the pair stage must be an equi-join on cell —
    // never a cartesian product over the corpus.
    assert(!p.contains("CartesianProduct"),
      s"semDedup must never go all-pairs:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast to the corpus scan:\n$p")
  }

  test("CSV workbook path is compat-only: documented RDD fallback, file-order _rowno") {
    import graft.ingest.Workbook
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val lines = "VI SDK UUID,VI SDK Server,Name" +:
      (0 until 50).map(i => s"u$i,vc$i,c$i")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/vCluster.csv"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val sheet = Workbook.loadCsvDir(spark, tmp)("vCluster")
    // Spark 4.1 exposes _metadata.row_index for parquet only, so CSV takes
    // the RDD zipWithIndex fallback BY CONTRACT (Workbook.loadCsvDir
    // scaladoc pins it as compat-only, never the production refresh path —
    // which loadParquetDir's codegen assertion above covers).
    val p = plan(sheet)
    assert(p.contains("ExistingRDD") || p.contains("Scan rdd"),
      s"CSV compat path is expected to take the documented RDD fallback:\n$p")
    // single-file layout: _rowno follows file line order deterministically.
    val got = sheet.select("Name", "_rowno").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((0 until 50).forall(i => got(s"c$i") == i.toLong),
      s"CSV _rowno must follow file line order, got $got")
  }

  test("corpus sampling is a pushable narrow filter (no shuffle, no UDF)") {
    val df = Tables.documents(spark, dir)
      .filter(graft.llmops.Corpus.hashSample(col("doc_id"), 10))
      .select("doc_id")
    val p = plan(df)
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"sampling must be codegen'd built-ins:\n$p")
  }

  test("token chunking is a narrow generate — no shuffle, no UDF") {
    val df = graft.llmops.Corpus.tokenChunks(
      Tables.documents(spark, dir), "doc_id", "text", window = 40, stride = 30)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"chunking must be codegen'd built-ins:\n$p")
  }

  test("bloom decontamination probes via a broadcast of the bounded word table") {
    val docs = Tables.documents(spark, dir)
    val df = graft.llmops.Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", mBits = 1 << 16)
    val p = plan(df)
    // the probe join against the <= mBits/64-row word table must broadcast
    // (the whole point: bounded driver state however large the benchmark
    // suite), never sort-merge the corpus against it.
    assert(p.contains("BroadcastHashJoin"), s"bloom probe join not broadcast:\n$p")
  }

  test("PII scrub is a narrow codegen'd projection") {
    val df = graft.llmops.TextAnalysis.withPiiCounts(Tables.documents(spark, dir))
      .select("doc_id", "n_emails", "redacted")
    val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(simple.contains("*("), s"no WholeStageCodegen span:\n$simple")
    assert(!simple.contains("Exchange"), s"unexpected shuffle:\n$simple")
  }

  test("global top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan(SparkEntry.queries("q_w7_global_topk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    // vocabulary's top-V cut carries the same discipline
    val pv = plan(graft.llmops.TextAnalysis.vocabulary(
      Tables.documents(spark, dir), "doc_id", "text", size = 100))
    assert(pv.contains("TakeOrderedAndProject"),
      s"vocabulary cut must be top-k, not a global sort:\n$pv")
  }

  test("int8 ANN keeps the corpus un-shuffled: broadcast queries, windows only") {
    val emb = Tables.embeddings(spark, dir)
    val df = graft.llmops.Quantize.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 5)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for a join:\n$p")
  }

  test("retrieval probes broadcast the query side, never a cartesian") {
    val docs = Tables.documents(spark, dir)
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    for (df <- Seq(
        graft.llmops.Retrieval.searchTopK(docs, "doc_id", "text", queries, "qid", "qtext"),
        graft.llmops.Retrieval.phraseSearch(docs, "doc_id", "text", queries, "qid", "qtext"),
        graft.llmops.Retrieval.bm25TopK(docs, "doc_id", "text", queries, "qid", "qtext"))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in retrieval plan:\n$p")
    }
  }

  test("stripHtml + URL harvest run in ONE codegen stage off the scan: no shuffle, no UDF") {
    val df = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.llmops.TextAnalysis.stripHtml(col("text")).as("clean"),
        graft.llmops.TextAnalysis.extractUrls(col("text")).as("urls"))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"pure map must not shuffle:\n$p")
    assert(p.contains("[codegen id : 1]") && !p.contains("[codegen id : 2]"),
      s"extraction must be ONE whole-stage-codegen stage:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"no UDFs allowed in the extraction path:\n$p")
  }

  test("fuseTopK: rank windows partition by qid, no cartesian, inputs join on (qid, doc)") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "doc", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "doc", "rank")
    val p = plan(graft.llmops.Retrieval.fuseTopK(a, b, k = 5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fusion must join on keys:\n$p")
    assert(p.contains("row_number"), s"expected the per-qid rank window:\n$p")
  }

  test("curation ledger assembly: equi-joins only, no cartesian anywhere") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val df = graft.llmops.Curation.ledger(
      docs, "doc_id", "text", "source",
      docs.limit(3).select("doc_id", "text"),
      Seq("srcX").toDF("source"), quota = 50)
    val p = plan(df)
    // r16: the blocklist broadcast join runs inside the cascade's
    // checkpointed stage, so the FINAL plan holds only the three
    // doc-keyed marker joins — equi-joins (AQE turns the small marker
    // sides into broadcasts at runtime), never a nested loop/cartesian.
    assert(!p.contains("CartesianProduct"), s"cartesian in ledger plan:\n$p")
    assert(!p.contains("NestedLoop"), s"nested loop in ledger plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"expected equi-joins:\n$p")
  }

  test("importance scoring: weight table broadcast, corpus aggregates map-side") {
    val docs = Tables.documents(spark, dir)
    val w = graft.llmops.Selection.importanceWeights(
      docs, docs.limit(5), "doc_id", "text", n = 2, nBuckets = 256)
    val p = plan(graft.llmops.Selection.importanceScores(
      docs, "doc_id", "text", w, n = 2, nBuckets = 256))
    assert(p.contains("BroadcastHashJoin"), s"weights not broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc agg must partial-aggregate map-side:\n$p")
  }

  test("interval join: binned equi-join, never a nested loop") {
    val iv = SparkEntry.queries("q_t_interval_join")(spark, dir)
    val p = plan(iv)
    assert(!p.contains("NestedLoop"), s"interval join must be an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected hash/merge equi-join:\n$p")
  }

  test("kmeans round: centroids broadcast, corpus aggregates map-side, no cartesian") {
    import graft.llmops.Similarity
    val emb = Tables.embeddings(spark, dir)
    val qv = Similarity.kmeansQuantize(emb)
    val cent = qv.orderBy("cid").limit(4)
      .select(col("cid").as("cent_id"), col("q").as("c"))
    val p = plan(Similarity.kmeansRound(qv, cent))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_min") ||
      p.contains("partial_sum"), s"assignment must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in kmeans round plan:\n$p")
  }

  test("mineTripletsIvf: candidates equi-join on cell, never an anchors x corpus product") {
    import graft.llmops.Similarity
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Similarity.mineTripletsIvf(emb, emb.filter(col("vec_id") < 3),
      nlist = 8, nprobe = 2, poolPerCell = 4))
    // the only products are the broadcast anchor x centroid probes
    // (|A| x nlist — bounded by the quantizer, not the corpus).
    assert(!p.contains("CartesianProduct"), s"unbounded product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"probed-cell candidates must come from an equi-join on cell:\n$p")
  }

  test("cellStats: centroid join broadcasts, per-cell stats partial-aggregate map-side") {
    import graft.llmops.Similarity
    val emb = Tables.embeddings(spark, dir)
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val p = plan(Similarity.cellStats(Similarity.assignCells(emb, cent), cent))
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      s"per-cell stats must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in cellStats:\n$p")
  }

  test("psiDrift: both snapshots aggregate map-side, totals broadcast, no data-row shuffle join") {
    import graft.llmops.Corpus
    val docs = Tables.documents(spark, dir)
    val nt = size(split(trim(col("text")), "\\s+")).cast("long")
    val p = plan(Corpus.psiDrift(
      docs.filter(col("doc_id") % 2 === 0).select(nt.as("v")),
      docs.filter(col("doc_id") % 2 === 1).select(nt.as("v")), "v"))
    assert(p.contains("partial_count"), s"binning must partial-aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row totals must broadcast:\n$p")
  }

  test("unigramLogProb: reference freqs broadcast, corpus never shuffles to score") {
    import graft.llmops.TextAnalysis
    val docs = Tables.documents(spark, dir)
    val p = plan(TextAnalysis.unigramLogProb(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"reference freqs must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      s"per-doc NLL must partial-aggregate:\n$p")
  }

  /** MEASURED input cardinality of every UNPARTITIONED window in a plan —
    * not the narrated bound, the executed one: run the frame, walk the
    * finalized adaptive plan, and for each WindowExec with an empty
    * partitionSpec read numOutputRows off the nearest descendant that
    * reports it (its Sort child doesn't; the aggregate/exchange below
    * does). Returns one count per unpartitioned window; fails the test
    * if a window reports no metric (better loud than unpinned).
    */
  private def unpartitionedWindowInputs(df: DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    df.collect() // finalize AQE + populate metrics
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec        => q +: expand(q.plan)
      case other                    => other +: other.children.flatMap(expand)
    }
    def firstRowMetric(p: SparkPlan): Option[Long] =
      expand(p).flatMap(n => n.metrics.get("numOutputRows").map(_.value))
        .headOption
    expand(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        firstRowMetric(w.child).getOrElse(
          fail(s"unpartitioned window without a readable input metric:\n$w"))
    }
  }

  test("unpartitioned windows run over BOUNDED frames only — measured, not narrated") {
    val docs = Tables.documents(spark, dir)

    // zipfFit: the global rank window sees exactly the top-k term cut.
    val k = 37
    val zf = graft.llmops.TextAnalysis.zipfFit(docs, "doc_id", "text", k = k)
    val zfIn = unpartitionedWindowInputs(zf)
    assert(zfIn.nonEmpty && zfIn.forall(_ <= k),
      s"zipfFit window input exceeded k=$k: $zfIn")

    // tokenShards / packSequences prefix-sum spine: the running-offset
    // window sees one row per coarse order-group, never the corpus.
    val groupSize = 64L
    val nGroups = docs.select((floor(col("doc_id") / groupSize)).cast("long"))
      .distinct().count()
    val ts = graft.llmops.Corpus.tokenShards(docs, col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long"), budget = 5000L,
      groupSize = groupSize)
    val tsIn = unpartitionedWindowInputs(ts)
    assert(tsIn.nonEmpty && tsIn.forall(_ <= nGroups),
      s"prefix-sum window input exceeded $nGroups groups: $tsIn")

    // trainingOrder: the only unpartitioned window is the per-bucket
    // offsets table — ≤ nBuckets rows regardless of corpus size.
    val to = graft.llmops.Corpus.trainingOrder(docs, col("doc_id"),
      nBuckets = 32)
    val toIn = unpartitionedWindowInputs(to)
    assert(toIn.nonEmpty && toIn.forall(_ <= 32L),
      s"trainingOrder window input exceeded nBuckets=32: $toIn")

    // sortedNeighborhood: its offsets window runs INSIDE the operator's
    // eager localCheckpoint (the __pid determinism discipline), so the
    // serving plan must contain NO unpartitioned window at all — and the
    // internal window's input is an aggregate keyed on
    // spark_partition_id(), whose cardinality is the staged frame's
    // partition count by construction; pin that premise directly.
    import spark.implicits._
    val names = (0 until 300).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    val sn = graft.llmops.FuzzyMatch.sortedNeighborhood(names, "id", "name",
      identity, window = 2, maxDist = 3)
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    assert(unpartitionedWindowInputs(sn).isEmpty,
      "sortedNeighborhood serving plan must carry no unpartitioned window")
    val stagedParts = names
      .select(col("id"), col("name"), col("name").as("__sk"))
      .repartitionByRange(col("__sk"), col("id"))
      .rdd.getNumPartitions.toLong
    assert(stagedParts <= maxParts,
      s"staged range partitioning exceeded $maxParts: $stagedParts")

    // curriculumPhases: the cumulative window runs over the score
    // HISTOGRAM (≤ distinct-bin rows), never the corpus.
    val scoredDocs = docs.select(col("doc_id").as("doc"),
      (length(col("text")) / lit(1000.0)).as("s"))
    val nBins = scoredDocs
      .select(least(greatest(floor(col("s") * 1024), lit(0L)), lit(32768L)))
      .distinct().count()
    val cp = graft.llmops.Corpus.curriculumPhases(scoredDocs, "doc", "s", phases = 3)
    val cpIn = unpartitionedWindowInputs(cp)
    assert(cpIn.nonEmpty && cpIn.forall(_ <= nBins),
      s"curriculum window input exceeded $nBins bins: $cpIn")

    // preferencePairs / bestOfN: every window PARTITIONS by prompt —
    // the unpartitioned set must be empty at any corpus size.
    val resp = docs.select(expr("doc_id div 4").as("prompt_id"),
      lit("p").as("prompt"), col("doc_id").as("resp_id"),
      col("text").as("resp"), (col("doc_id") % 97).as("score"))
    assert(unpartitionedWindowInputs(graft.llmops.Corpus.preferencePairs(
      resp, "prompt_id", "prompt", "resp_id", "resp", "score")).isEmpty,
      "preferencePairs must carry no unpartitioned window")
    assert(unpartitionedWindowInputs(graft.llmops.Corpus.bestOfN(
      resp, "prompt_id", "prompt", "resp_id", "resp", "score",
      n = 2, minScore = 0.0)).isEmpty,
      "bestOfN must carry no unpartitioned window")

    // unigram trainer: its only windowless global state is the broadcast
    // smoothing scalar; the prune is a TakeOrdered, never a window.
    assert(unpartitionedWindowInputs(graft.llmops.Unigram.unigramVocab(
      docs, "doc_id", "text", vocabSize = 16, rounds = 1)).isEmpty,
      "unigramVocab must carry no unpartitioned window")

    // robotsFilter: the decision is a max-struct aggregation — no window
    // at all (robotsRules' grouping windows partition by host).
    val rulesDf = graft.llmops.TextAnalysis.robotsRules(
      docs.select(concat(lit("h"), (col("doc_id") % 5).cast("string"))
          .as("host"),
        lit("User-agent: *\nDisallow: /a\nAllow: /a/b").as("txt")).distinct(),
      "host", "txt")
    assert(unpartitionedWindowInputs(graft.llmops.TextAnalysis.robotsFilter(
      docs.select(concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
        lit(".x/a/page")).as("url")), "url", rulesDf)).isEmpty,
      "robotsFilter must carry no unpartitioned window")

    // crawlWaves: the per-host rank runs bucketed — EVERY window is
    // partitioned (the rank by (host, slice), the offsets by host over
    // slice-count rows), so a hot host can never funnel its frontier
    // through one window partition.
    val frontier = docs.select(
      concat(lit("https://hot.x/p"), col("doc_id").cast("string")).as("url"),
      lit("hot.x").as("host"), (col("doc_id") % 7).as("pr"))
    assert(unpartitionedWindowInputs(graft.llmops.TextAnalysis.crawlWaves(
      frontier, "url", "host", "pr", perHostPerWave = 5, buckets = 8)).isEmpty,
      "crawlWaves must carry no unpartitioned window")

    // curriculumPhases triggers ZERO jobs at construction: the corpus
    // total rides a broadcast scalar, not a driver-side .first(). A
    // score column that THROWS on evaluation proves laziness — the old
    // eager total would have evaluated it right here.
    val boom = udf((s: Double) =>
      { if (s < Double.MaxValue) throw new IllegalStateException("evaluated at construction"); s })
    val lazyIn = scoredDocs.select(col("doc"), boom(col("s")).as("s"))
    val lazyOut = graft.llmops.Corpus.curriculumPhases(lazyIn, "doc", "s", phases = 3)
    intercept[Exception](lazyOut.collect()) // evaluation DOES reach the score

    // packedLossMask: same prefix-sum spine as tokenShards — the only
    // unpartitioned window is the coarse-group offsets table.
    val plm = graft.llmops.Corpus.packedLossMask(docs, "doc_id", "text",
      seqLen = 128, groupSize = groupSize)
    val plmIn = unpartitionedWindowInputs(plm)
    assert(plmIn.nonEmpty && plmIn.forall(_ <= nGroups),
      s"packedLossMask window input exceeded $nGroups groups: $plmIn")

    // chatSftTokens / mineBitext / repetitionGauges / epochsPlan: every
    // window is PARTITIONED (conv / side ids / none at all) — the
    // unpartitioned-window set must be empty.
    val turns = docs.select(expr("doc_id div 4").as("conv"),
      (col("doc_id") % 4).as("turn_idx"), lit("user").as("role"),
      substring(col("text"), 1, 40).as("content"))
    assert(unpartitionedWindowInputs(graft.llmops.Corpus.chatSftTokens(
      turns, "conv", "turn_idx", "role", "content")).isEmpty,
      "chatSftTokens must carry no unpartitioned window")
    val emb = Tables.embeddings(spark, dir)
    assert(unpartitionedWindowInputs(graft.llmops.Similarity.mineBitext(
      emb.filter(col("vec_id") % 2 === 0).limit(40),
      emb.filter(col("vec_id") % 2 === 1).limit(40), k = 3)).isEmpty,
      "mineBitext windows are side-partitioned")
    assert(unpartitionedWindowInputs(graft.llmops.TextAnalysis
      .repetitionGauges(docs, "doc_id", "text")).isEmpty,
      "repetitionGauges must carry no unpartitioned window")
    val mixPlan = graft.llmops.Corpus.temperatureMixPlan(docs,
      col("lang"), budget = 3000L)
    assert(unpartitionedWindowInputs(graft.llmops.Corpus.epochsPlan(
      mixPlan)).isEmpty,
      "epochsPlan carries zero windows (shortfall is a broadcast scalar)")

    // packTokens: the offsets spine is the only unpartitioned window and
    // it sees one row per coarse order-group of the UNIT table.
    val perTok = docs.select(col("doc_id").as("unit"),
      posexplode(split(col("text"), "\\s+")).as(Seq("p", "tok")))
    val pkIn = unpartitionedWindowInputs(graft.llmops.Corpus.packTokens(
      perTok, "unit", "p", seqLen = 128, groupSize = groupSize))
    assert(pkIn.nonEmpty && pkIn.forall(_ <= nGroups),
      s"packTokens window input exceeded $nGroups groups: $pkIn")

    // vocabulary: the stable-id window runs over the ≤ size-row top cut,
    // never the term universe.
    val vocabSize = 41
    val vb = graft.llmops.TextAnalysis.vocabulary(docs, "doc_id", "text",
      size = vocabSize, minDf = 2)
    val vbIn = unpartitionedWindowInputs(vb)
    assert(vbIn.nonEmpty && vbIn.forall(_ <= vocabSize.toLong),
      s"vocabulary id window input exceeded size=$vocabSize: $vbIn")

    // workbook ingest: the cross-file offset window sees one row per FILE.
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowno_pin").toString
    spark.range(500).selectExpr(
        "cast(id as string) as `VI SDK UUID`",
        "cast(id as string) as `VI SDK Server`",
        "concat('c', id) as `Name`")
      .repartition(3).write.parquet(s"$tmp/vCluster.parquet")
    val sheet = graft.ingest.Workbook.loadParquetDir(spark, tmp)("vCluster")
    val wbIn = unpartitionedWindowInputs(sheet)
    assert(wbIn.nonEmpty && wbIn.forall(_ <= 3L),
      s"workbook offset window input exceeded 3 files: $wbIn")
  }

  test("arpaScore: unigram/bow tables broadcast, the bigram join shuffles (never forced broadcast), per-doc sums partial") {
    import graft.llmops.LmArtifact
    val docs = Tables.documents(spark, dir)
    val lm = LmArtifact.arpaTable(docs.filter(col("doc_id") % 2 === 0), "text")
      .localCheckpoint(true)
    val p = plan(LmArtifact.arpaScore(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-bounded unigram/bow joins must broadcast:\n$p")
    // the gram join must be a shuffle join: the bigram table grows with
    // the model's training corpus (the tfidf lesson)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"bigram join must shuffle, not force-broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc score must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in score plan:\n$p")
  }

  test("groupAdvantages: no window anywhere — one keyed agg + one equi-join back") {
    import spark.implicits._
    val resp = Tables.documents(spark, dir).select(
      (col("doc_id") % 11).as("prompt_id"), col("doc_id").as("resp_id"),
      (col("doc_id") % 97).as("r"))
    val p = plan(graft.llmops.Corpus.groupAdvantages(
      resp, "prompt_id", "resp_id", "r"))
    assert(!p.contains("Window"), s"groupAdvantages must not window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"group moments must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("termBlocklist: terms broadcast, shingles never materialize past their join, no cartesian") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val p = plan(graft.llmops.TextAnalysis.termBlocklist(docs, "doc_id",
      "text", Seq("hash", "table scan").toDF("term")))
    assert(p.contains("BroadcastHashJoin"), s"terms must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_count"), s"hit counts must partial-agg:\n$p")
  }

  test("coherentOrder: centroids broadcast, rank windows are slice-partitioned, offsets bounded by bucket count") {
    val emb = Tables.embeddings(spark, dir)
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val co = graft.llmops.Corpus.coherentOrder(emb, cent, buckets = 7)
    val p = plan(co)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"centroid assignment must broadcast:\n$p")
    // the only unpartitioned window is the offsets cumulative sum,
    // bounded by the bucket count — measured, not narrated
    val ins = unpartitionedWindowInputs(co)
    assert(ins.forall(_ <= 7L),
      s"offsets window input exceeded bucket count: $ins")
  }

  test("extractMainContent is ONE codegen stage off the scan: no shuffle, no UDF") {
    val docs = Tables.documents(spark, dir)
    val p = plan(graft.llmops.TextAnalysis.extractMainContent(
      docs.selectExpr("doc_id", "text as html"), "doc_id", "html"))
    assert(!p.contains("Exchange"), s"main-content must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"must stay codegen'd:\n$p")
  }

  test("frontierStep: rules and bloom state broadcast, collapse partial-aggregates, no cartesian") {
    import spark.implicits._
    val links = Tables.documents(spark, dir).select(
      concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
        lit(".example/p"), col("doc_id").cast("string")).as("url"),
      (col("doc_id") % 7).as("prio"))
    val rules = Seq(("h1.example", "disallow", "/p1")).toDF("host", "rule", "path")
    val state = graft.functions.Bloom.build(
      Seq("https://seen.example/x").toDF("url"), "url", 4096L, 4)
      .localCheckpoint(true)
    val (enq, _) = graft.streaming.EventStream.frontierStep(
      links, "url", "prio", rules, state, 4096L, 4)
    val p = plan(enq)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"rules/bloom must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"canonical collapse must partial-aggregate:\n$p")
  }

  test("decontaminateSpans: fp probe is an equi-join, no cartesian, reassembly partial-aggregates") {
    val docs = Tables.documents(spark, dir)
    val p = plan(graft.llmops.Dedup.decontaminateSpans(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span decon must never pair-explode:\n$p")
    assert(p.contains("partial_count"),
      s"reassembly must partial-aggregate:\n$p")
  }

  test("fellegiSunterScore is a PURE projection: zero exchanges, zero joins, no UDF") {
    import spark.implicits._
    val labeled = Seq((true, true), (false, false)).toDF("is_match", "ag")
    val w = graft.llmops.FuzzyMatch.fellegiSunterWeights(labeled, "is_match", Seq("ag"))
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id").as("pid"), (col("doc_id") % 2 === 0).as("ag"))
    val p = plan(graft.llmops.FuzzyMatch.fellegiSunterScore(
      pairs, w, Seq("ag"), 1L, -1L))
    assert(!p.contains("Exchange"), s"FS scoring must not shuffle:\n$p")
    assert(!p.contains("Join"), s"FS scoring must not join (driver literals):\n$p")
    assert(!p.contains("ScalaUDF"), s"must stay codegen'd:\n$p")
  }

  test("scoreNaiveBayes: model tables broadcast, per-doc window input bounded by classes") {
    import spark.implicits._
    import graft.llmops.Classify
    val docs = Tables.documents(spark, dir)
    val feats = Classify.hashedFeatures(docs, "doc_id", "text")
    val labels = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
    val model = Classify.trainNaiveBayes(feats, labels, "doc_id", "lang")
    val out = Classify.scoreNaiveBayes(docs, feats, model, "doc_id")
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"model tables must broadcast:\n$p")
    // the argmax window partitions by doc: its per-partition input is
    // <= the class count — measured, not narrated
    val nClasses = model.classes.count()
    val maxPerDoc = out.sparkSession.sparkContext.longAccumulator
    val counted = docs.select(col("doc_id"))
      .join(out.groupBy(col("doc_id")).count(), Seq("doc_id"), "left")
    val worst = counted.agg(max("count")).collect().head.getLong(0)
    assert(worst <= 1L, "argmax must emit exactly one row per doc")
    assert(nClasses >= 2L) // the fixture exercises a real multiclass argmax
  }

  test("detectKindCol rides the scan: pure codegen CASE, no UDF, " +
      "partial agg before the one exchange") {
    val q = SparkEntry.queries("q_x_detect_kind")
    val p = plan(q(spark, dir))
    assert(!p.contains("BatchEvalPython") && !p.contains("SerializeFromObject"),
      s"kind detection must not leave codegen:\n$p")
    assert(!p.contains("Window"), s"no window in kind detection:\n$p")
    assert(p.contains("HashAggregate"), s"expected partial aggregation:\n$p")
  }

  test("mmrTopK: one shuffle to group candidates, the greedy fold adds none") {
    import spark.implicits._
    val cand = Tables.documents(spark, dir)
      .select((col("doc_id") % 7).as("qid"), col("doc_id").as("doc"),
        (col("doc_id") % 100).as("rel_micro"))
      .filter(col("doc") < 50)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val p = plan(graft.llmops.Retrieval.mmrTopK(
      cand.filter(col("doc") < 500), vecs, "vec_id", "embedding", k = 3))
    // exchanges: the candidate/vector join + the per-qid grouping — the
    // fold itself is a projection over the grouped arrays (no window,
    // no extra shuffle)
    assert(!p.contains("Window"), s"MMR must not use a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  /** Every executed physical plan of the queries `body` runs, captured
    * with a QueryExecutionListener (eager checkpoints and table writes
    * report too) once the listener bus is quiet.
    */
  private def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      var prev = -1
      var rounds = 0
      while (prev != plans.size && rounds < 20) {
        prev = plans.size; Thread.sleep(200); rounds += 1
      }
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The plans `p` runs directly: its children, subqueries, AQE's final
    * plan, a query stage's plan, a reused exchange's original and the
    * plan that builds a cached relation.
    */
  private def runs(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p.children ++ p.subqueries ++ inner
  }

  /** A plan and everything it runs, transitively ([[runs]]). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: runs(p).flatMap(allNodes)

  test("curation lanes and ingest run no interpreted HOF and no ICU case mapping") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, InitCap, Lower, Upper}
    import graft.fixtures.SyntheticWorkbook
    // A higher-order function (transform, filter, aggregate, zip_with,
    // map_filter, ...) is evaluated by the interpreter and takes its
    // whole projection out of whole-stage codegen; Spark 4.1's
    // lower/upper/initcap take the ICU path, whose first call in a JVM
    // costs about 1 s of table set-up.
    val runs: Seq[(String, () => Unit)] =
      Seq("q_x_dedup_minhash_weighted", "q_x_dedup_clusters", "q_x_curation_stream")
        .map(q => q -> (() => { SparkEntry.queries(q)(spark, dir).collect(); () })) :+
        ("Ingest.run" -> (() => {
          val seeded = SyntheticWorkbook.seededStore(spark)
          graft.ingest.Ingest.run(SyntheticWorkbook.golden(spark), seeded.nodes, seeded.edges)
          ()
        }))
    val offences = runs.flatMap { case (name, run) =>
      val plans = executedPlans(run())
      assert(plans.nonEmpty, s"$name: no executed plan was captured")
      plans.flatMap(allNodes).flatMap(_.expressions).flatMap(_.collect {
        case e: HigherOrderFunction =>
          s"$name: higher-order function ${e.prettyName}: ${e.sql.take(300)}"
        case e @ (_: Lower | _: Upper | _: InitCap) =>
          s"$name: ICU case mapping: ${e.sql.take(300)}"
      }).distinct
    }
    assert(offences.isEmpty, offences.mkString("\n"))
  }

  test("bloom probe: no exchange between the shingle explode and the exact verify") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.llmops.Dedup
    val docs = Tables.documents(spark, dir)
    // built state, as the stream's tables and the replay's checkpoints hold it
    val benchSh = Dedup.xxShingleRows(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 5)
      .select("s").distinct().localCheckpoint(true)
    val words = Dedup.bloomWordTable(benchSh, 1 << 16, 4).localCheckpoint(true)
    val df = Dedup.decontaminateBloomWith(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", benchSh, words, 5, 1 << 16, 4)
    assert(df.collect().exists(_.getBoolean(2)), "no hit: the verify was never exercised")
    val root = df.queryExecution.executedPlan
    val nodes = allNodes(root)
    val verify = nodes.collect { case j: BaseJoinExec if j.joinType == LeftSemi => j }
    assert(verify.size == 1, s"expected one exact verify:\n$root")
    // the streamed side's chain from the verify down to the explode
    def pathToExplode(p: SparkPlan): Option[Seq[SparkPlan]] = p match {
      case g: GenerateExec => Some(Seq(g))
      case _ => runs(p).iterator.map(pathToExplode).collectFirst { case Some(x) => p +: x }
    }
    val path = pathToExplode(verify.head.left)
    assert(path.isDefined, s"the verify's streamed side does not reach the explode:\n$root")
    val exchanges = path.get.filter {
      case _: ShuffleExchangeLike | _: ShuffleQueryStageExec => true
      case _ => false
    }
    assert(exchanges.isEmpty, s"shuffle between explode and verify:\n${path.get.mkString("\n")}")
    // the k chained probes share one broadcast of the word table
    val wordStages = nodes.collect {
      case b: BroadcastQueryStageExec if b.output.exists(_.name == "__w") => b }
    assert(wordStages.size == 4 &&
      wordStages.count(!_.plan.isInstanceOf[ReusedExchangeExec]) == 1,
      s"word table not broadcast exactly once for its 4 probes:\n$root")
  }

  test("q_x_curation_stream over sf0.001 runs at most 60 jobs") {
    // 55 when near-dup and decontamination read the stage-3 checkpoint
    // side by side and the accepted documents are not shingled again;
    // 72 when decontamination's input nested the near-dup result and
    // the replay re-shingled day 1's accepted documents.
    val (_, jobs) = countJobs(SparkEntry.queries("q_x_curation_stream")(spark, dir).collect())
    info(s"jobs=$jobs")
    assert(jobs <= 60, s"q_x_curation_stream ran $jobs jobs")
  }
}
