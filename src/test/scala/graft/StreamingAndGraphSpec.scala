package graft

import graft.analytics.GraphAnalytics
import graft.fixtures.SyntheticWorkbook
import graft.ingest.Refresh
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming parity + GraphX analytics over the fixture graph. */
class StreamingAndGraphSpec extends SparkTestBase {

  test("streaming tumbling counts match the batch computation (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val streamDf = mem.toDF()
      .select(expr("timestamp_micros(_1 * 1000000)").as("ts"), col("_2").as("event_type"),
        col("_3").as("value"))
    val agg = EventStream.tumblingCounts(streamDf, window = "10 seconds", lateness = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    val base = 1700000000L
    mem.addData((base, "a", 1.0), (base + 3, "a", 2.0), (base + 11, "b", 3.0),
      (base + 12, "a", 4.0), (base + 25, "b", 5.0), (base + 100, "a", 6.0))
    query.processAllAvailable()
    // watermark 0s + append mode: windows close once the watermark (max ts)
    // passes window end → first three windows emitted, the base+100 window
    // still open.
    val rows = spark.table("tumbling")
      .select(col("window_start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    query.stop()
    val expected = Set(
      (base, "a", 2L), ((base / 10 * 10) + 10, "b", 1L), ((base / 10 * 10) + 10, "a", 1L),
      ((base / 10 * 10) + 20, "b", 1L))
    assert(rows == expected, s"got $rows")
  }

  test("streaming session windows (MemoryStream) match gap semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val streamDf = mem.toDF()
      .select(expr("timestamp_micros(_1 * 1000000)").as("ts"), col("_2").as("user_id"),
        col("_3").as("value"))
    val agg = EventStream.sessionCounts(streamDf, gap = "10 seconds", lateness = "0 seconds")
    val query = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    val base = 1700000000L
    // user 1: two sessions (gap 30s > 10s); user 2: one session whose second
    // event lands EXACTLY at the first session's end — Spark merges at the
    // boundary (inclusive), same as the q_st4 oracle; a final far-future
    // event advances the watermark so earlier sessions close.
    mem.addData((base, 1L, 1.0), (base + 5, 1L, 2.0), (base + 40, 1L, 3.0),
      (base + 2, 2L, 4.0), (base + 12, 2L, 5.0), (base + 500, 9L, 0.0))
    query.processAllAvailable()
    val rows = spark.table("sessions")
      .select(col("session_start").cast("long"), col("session_end").cast("long"),
        col("user_id"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    query.stop()
    val expected = Set(
      (base, base + 15, 1L, 2L, 3.0),          // events at base, base+5 merge
      (base + 40, base + 50, 1L, 1L, 3.0),     // second session after the gap
      (base + 2, base + 22, 2L, 2L, 9.0))      // exact-boundary event merged
    assert(rows == expected, s"got $rows")
  }

  test("bucketed incremental upsert: ≥3 micro-batches, state side joins without Exchange") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the upsert join sits above an __ex_* rename Project, which hides the
    // join from DisableUnnecessaryBucketedScan's benefit check — force the
    // bucketed scan; alias-aware output partitioning does the rest.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val streamDf = mem.toDF()
        .select(col("_1").as("k"), col("_2").as("v"), col("_3").as("seq"))
      val initial = Seq((1L, "init", 0L)).toDF("k", "v", "seq")
      var plans = List.empty[String]
      var last: org.apache.spark.sql.DataFrame = null
      val ckpt = java.nio.file.Files.createTempDirectory("inc_bkt_ckpt").toString
      val writer = EventStream.incrementalUpsertBucketed(streamDf, Seq("k"), "seq",
        initial, "inc_bkt_test", buckets = 4,
        apply = (st, qe) => { last = st; plans ::= qe.executedPlan.toString })
        .option("checkpointLocation", ckpt)
      // AvailableNow + checkpoint = the production incremental-batch shape:
      // each run picks up only the data added since the last one.
      def runOnce(): Unit = {
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData((1L, "x", 1L)); runOnce()
      mem.addData((2L, "y", 2L)); runOnce()
      mem.addData((2L, "z", 3L), (3L, "w", 4L)); runOnce()
      assert(plans.size >= 3, s"expected ≥3 micro-batches, got ${plans.size}")
      plans.foreach { p =>
        // the state side reads its bucket partitioning straight off the
        // table — if it shuffled, 'Bucketed: true' would not appear and a
        // second Exchange would.
        assert(p.contains("Bucketed: true"), s"state scan not bucketed:\n$p")
        val exchanges = "Exchange".r.findAllIn(p).size
        assert(exchanges <= 2,
          s"state side of the upsert join must not shuffle ($exchanges Exchanges):\n$p")
      }
      val state = last.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(state == Seq((1L, "x"), (2L, "z"), (3L, "w")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      spark.sql("DROP TABLE IF EXISTS inc_bkt_test_state")
    }
  }

  test("bucketed incremental upsert rewrites ONLY the touched partitions (O(delta) writes)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val partitions = 8
    // derive each key's partition id with the SAME expression the operator
    // uses — never hardcode hash values.
    def bucketOf(k: Long): Int = Seq(k).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(partitions.toLong)).cast("int"))
      .collect().head.getInt(0)
    // two keys in DIFFERENT partitions: batch 2 updates only kB, so kA's
    // partition must come through byte-identical.
    val kA = 1L
    val kB = (2L to 64L).find(bucketOf(_) != bucketOf(kA)).get
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val streamDf = mem.toDF()
        .select(col("_1").as("k"), col("_2").as("v"), col("_3").as("seq"))
      val initial = Seq((kA, "initA", 0L), (kB, "initB", 0L)).toDF("k", "v", "seq")
      var last: org.apache.spark.sql.DataFrame = null
      val ckpt = java.nio.file.Files.createTempDirectory("inc_prune_ckpt").toString
      val writer = EventStream.incrementalUpsertBucketed(streamDf, Seq("k"), "seq",
        initial, "inc_prune_test", buckets = 2, partitions = partitions,
        apply = (st, _) => last = st)
        .option("checkpointLocation", ckpt)
      def runOnce(): Unit = { val q = writer.start(); q.processAllAvailable(); q.stop() }

      // data-file fingerprints per partition directory: path → content hash.
      val loc = java.nio.file.Paths.get(java.net.URI.create(
        spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("inc_prune_test_state"))
          .location.toString))
      def fingerprint(): Map[String, Map[String, String]] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.startsWith("part-"))
          .toList.groupBy(_.getParent.getFileName.toString)
          .map { case (dir, files) =>
            dir -> files.map { f =>
              val md = java.security.MessageDigest.getInstance("MD5")
              f.toString -> md.digest(java.nio.file.Files.readAllBytes(f))
                .map("%02x".format(_)).mkString
            }.toMap
          }
      }

      mem.addData((kA, "x", 1L), (kB, "y", 2L)); runOnce()
      val before = fingerprint()
      val dirA = s"__bucket=${bucketOf(kA)}"
      val dirB = s"__bucket=${bucketOf(kB)}"
      assert(before.contains(dirA) && before.contains(dirB))

      mem.addData((kB, "z", 3L)); runOnce() // touches ONLY kB's partition
      val after = fingerprint()
      // untouched partition: same files, same bytes — never rewritten.
      assert(after(dirA) == before(dirA),
        s"untouched partition $dirA was rewritten:\nbefore=${before(dirA)}\nafter=${after(dirA)}")
      // touched partition: rewritten (file set or content differs).
      assert(after(dirB) != before(dirB), s"touched partition $dirB was not rewritten")
      // and per-batch write volume = the touched partition only.
      assert((after.keySet - dirB).forall(d => after(d) == before(d)),
        "a partition outside the touched set was rewritten")
      // convergence: the table equals the batch-upsert answer.
      val state = last.select("k", "v").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(state == Seq((kA, "x"), (kB, "z")).sortBy(_._1))
    } finally {
      spark.sql("DROP TABLE IF EXISTS inc_prune_test_state")
    }
  }

  test("bucketed incremental upsert: a restart resumes committed state, not `initial`") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val streamDf = mem.toDF()
        .select(col("_1").as("k"), col("_2").as("v"), col("_3").as("seq"))
      val ckpt = java.nio.file.Files.createTempDirectory("inc_restart_ckpt").toString
      var last: org.apache.spark.sql.DataFrame = null
      def mkWriter(initial: org.apache.spark.sql.DataFrame) =
        EventStream.incrementalUpsertBucketed(streamDf, Seq("k"), "seq",
          initial, "inc_restart_test", buckets = 2,
          apply = (st, _) => last = st)
          .option("checkpointLocation", ckpt)
      def runOnce(w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
        val q = w.start(); q.processAllAvailable(); q.stop()
      }
      // run 1: fresh table, upsert lands.
      mem.addData((1L, "x", 1L))
      runOnce(mkWriter(Seq((1L, "init", 0L)).toDF("k", "v", "seq")))
      // "crash + restart": a NEW writer on the same prefix + checkpoint,
      // with a DIFFERENT initial. The checkpoint skips batch 0, so if the
      // builder overwrote the table with this initial, (1,"x") would be
      // lost. Create-if-absent must resume the committed table instead.
      mem.addData((2L, "y", 2L))
      runOnce(mkWriter(Seq((1L, "WRONG", 0L)).toDF("k", "v", "seq")))
      val state = last.select("k", "v").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(state == Seq((1L, "x"), (2L, "y")),
        s"restart clobbered committed state: $state")
    } finally {
      spark.sql("DROP TABLE IF EXISTS inc_restart_test_state")
    }
  }

  test("dedupStream: greedy cross-batch near-dup dedup over the persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    val uniqueB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val uniqueC = "red orange yellow green blue indigo violet maroon cyan teal"
    try {
      val mem = MemoryStream[(Long, String)]
      val streamDf = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      var lastDocs: org.apache.spark.sql.DataFrame = null
      val ckpt = java.nio.file.Files.createTempDirectory("dedup_stream_ckpt").toString
      // fresh writer per run: the index lives entirely in the prefix
      // tables, so each batch boundary doubles as a restart proof.
      def runOnce(): Unit = {
        val writer = EventStream.dedupStream(streamDf, "doc_id", "text",
            "dedup_stream_test", apply = st => lastDocs = st)
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      // batch 1: 2 near-dups 1 (last token differs), 3 is unique.
      mem.addData((1L, base + " twenty"), (2L, base + " twentyone"),
        (3L, uniqueB))
      runOnce()
      assert(lastDocs.select("doc").as[Long].collect().toSet == Set(1L, 3L))
      // batch 2: 4 near-dups the ACCEPTED 1 (cross probe), 7 near-dups 6
      // within the batch; only 6 survives.
      mem.addData((4L, base + " twentytwo"), (6L, uniqueC),
        (7L, uniqueC.replace("teal", "navy")))
      runOnce()
      assert(lastDocs.select("doc").as[Long].collect().toSet == Set(1L, 3L, 6L))
      // the index grew only by the survivors: 3 docs × 5 bands.
      assert(spark.table("dedup_stream_test_bands").count() == 15L)
      assert(spark.table("dedup_stream_test_shingles").select("doc")
        .distinct().as[Long].collect().toSet == Set(1L, 3L, 6L))
      // layout pin: the bands state table (created by batch 1, appended by
      // batch 2) is bucketed by the probe's join keys — a band-key probe
      // scans it "Bucketed: true" and shuffles ONLY the probe side.
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val batchBands = Seq((100L, 0, 42L), (100L, 1, 7L))
          .toDF("doc", "band", "sig")
          .select(col("doc").as("batch_id"), col("band"), col("sig"))
        val probe = batchBands.join(
          spark.table("dedup_stream_test_bands")
            .select(col("doc").as("corpus_id"), col("band"), col("sig")),
          Seq("band", "sig"))
        val p = probe.queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"bands scan not bucketed:\n$p")
        assert("Exchange".r.findAllIn(p).size <= 1,
          s"state side of the probe join must not shuffle:\n$p")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      }
    } finally {
      Seq("docs", "shingles", "bands").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS dedup_stream_test_$t"))
    }
  }

  test("selfHeal wiring: dedupStream state files stay bounded across ≥3 compaction cycles, results unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tableFiles(t: String): Int = {
      val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location").select("data_type").head().getString(0))
      Option(new java.io.File(loc.getPath).listFiles())
        .map(_.count(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))).getOrElse(0)
    }
    try {
      val memA = MemoryStream[(Long, String)]
      val memB = MemoryStream[(Long, String)]
      val dfA = memA.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val dfB = memB.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val ckptA = java.nio.file.Files.createTempDirectory("heal_a_ckpt").toString
      val ckptB = java.nio.file.Files.createTempDirectory("heal_b_ckpt").toString
      // post-batch (= post-heal) file counts of the bucketed bands table
      // and the plain shingles table, recorded through the wired tail.
      val bandFiles = scala.collection.mutable.ArrayBuffer[Int]()
      val shFiles = scala.collection.mutable.ArrayBuffer[Int]()
      def runHealed(): Unit = {
        val w = EventStream.dedupStream(dfA, "doc_id", "text", "heal_test",
            stateBuckets = 2, maxStateFiles = 3, apply = _ => {
              bandFiles += tableFiles("heal_test_bands")
              shFiles += tableFiles("heal_test_shingles")
            })
          .option("checkpointLocation", ckptA)
        val q = w.start(); q.processAllAvailable(); q.stop()
      }
      def runRef(): Unit = {
        val w = EventStream.dedupStream(dfB, "doc_id", "text", "heal_ref",
            stateBuckets = 2, maxStateFiles = Int.MaxValue)
          .option("checkpointLocation", ckptB)
        val q = w.start(); q.processAllAvailable(); q.stop()
      }
      // 12 one-doc batches of mutually-unique docs: the index grows every
      // batch, so appends accrue files until the wired policy (maxFiles 3)
      // compacts — several full decline→trigger cycles across the run.
      (0 until 12).foreach { i =>
        val text = (0 until 10).map(j => s"tok${i}x$j").mkString(" ")
        memA.addData((i.toLong, text)); runHealed()
        memB.addData((i.toLong, text)); runRef()
      }
      // bounded: a post-heal count is ≤ maxFiles right after a trigger
      // (compaction leaves ≤ buckets files) and ≤ maxFiles + one batch's
      // appends otherwise — never the monotone growth of the ref run.
      assert(bandFiles.max <= 8 && shFiles.max <= 8,
        s"file counts not bounded: bands=$bandFiles shingles=$shFiles")
      assert(tableFiles("heal_ref_bands") > bandFiles.last &&
        tableFiles("heal_ref_shingles") > shFiles.last,
        "the unhealed reference run should have strictly more files")
      // ≥ 3 compaction cycles actually ran: each trigger collapses the
      // count, visible as a strict decrease in the post-batch series.
      def cycles(xs: Seq[Int]) = xs.sliding(2).count(p => p(1) < p(0))
      assert(cycles(bandFiles.toSeq) + cycles(shFiles.toSeq) >= 3,
        s"expected ≥3 compaction cycles: bands=$bandFiles shingles=$shFiles")
      // results identical to the never-compacted run, table by table.
      def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
      assert(rows("heal_test_docs") == rows("heal_ref_docs"))
      assert(rows("heal_test_shingles") == rows("heal_ref_shingles"))
      assert(rows("heal_test_bands") == rows("heal_ref_bands"))
      // after multiple compactions the probe plan is still the bucketed
      // no-Exchange join.
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val probe = Seq((100L, 0, 42L)).toDF("batch_id", "band", "sig")
          .join(spark.table("heal_test_bands")
            .select(col("doc").as("corpus_id"), col("band"), col("sig")),
            Seq("band", "sig"))
        val p = probe.queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"healed scan not bucketed:\n$p")
        assert("Exchange".r.findAllIn(p).size <= 1,
          s"state side must still join without an Exchange:\n$p")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      }
    } finally {
      Seq("docs", "shingles", "bands").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS heal_test_$t")
        spark.sql(s"DROP TABLE IF EXISTS heal_ref_$t")
      }
    }
  }

  test("compactStateTable: rows and bucketed no-Exchange probe survive, files collapse") {
    import spark.implicits._
    def tableFiles(t: String): Seq[java.io.File] = {
      val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location").select("data_type").head().getString(0))
      new java.io.File(loc.getPath).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    }
    try {
      // 6 bucketed appends → ≥ 6 file groups; rows planted across buckets.
      (0 until 6).foreach { i =>
        (0 until 10).map(j => (i * 10L + j, j % 3, i * 100L + j))
          .toDF("doc", "band", "sig")
          .write.mode("append").format("parquet")
          .bucketBy(4, "band", "sig").sortBy("band", "sig")
          .saveAsTable("compact_test_bands")
      }
      val before = spark.table("compact_test_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(tableFiles("compact_test_bands").size >= 6)
      EventStream.compactStateTable(spark, "compact_test_bands",
        bucketCols = Seq("band", "sig"), buckets = 4)
      val after = spark.table("compact_test_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(after == before, "compaction must preserve rows exactly")
      assert(tableFiles("compact_test_bands").size <= 4,
        "bucketed compaction must leave at most one file per bucket")
      // the probe plan is unchanged: bucketed scan, only the probe side
      // shuffles.
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val probe = Seq((1L, 0, 1L)).toDF("batch_id", "band", "sig")
          .join(spark.table("compact_test_bands"), Seq("band", "sig"))
        val p = probe.queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"compacted scan not bucketed:\n$p")
        assert("Exchange".r.findAllIn(p).size <= 1,
          s"state side must still join without an Exchange:\n$p")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      }
      // unbucketed table → a single file.
      (0 until 5).foreach { i =>
        Seq((i.toLong, s"t$i")).toDF("doc", "text")
          .write.mode("append").format("parquet").saveAsTable("compact_test_docs")
      }
      val docsBefore = spark.table("compact_test_docs")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      // the policy wrapper: below the threshold it declines, above it runs.
      assert(!EventStream.compactIfFragmented(spark, "compact_test_docs",
        maxFiles = 100))
      assert(tableFiles("compact_test_docs").size >= 5, "decline must not rewrite")
      assert(EventStream.compactIfFragmented(spark, "compact_test_docs",
        maxFiles = 2))
      assert(spark.table("compact_test_docs")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == docsBefore)
      assert(tableFiles("compact_test_docs").size == 1)
    } finally {
      Seq("compact_test_bands", "compact_test_docs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  private def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
  // two 4-cliques {1..4} and {10..13} joined by one bridge 4–10
  private val twoCliques =
    clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 10L))
  // a 4-clique (every vertex degree 3) with a pendant chain 4–20–21
  private val cliqueWithTendril = clique(Seq(1L, 2L, 3L, 4L)) ++ Seq((4L, 20L), (20L, 21L))
  /** The same undirected graph written the untidy way edge feeds do:
    * every edge also reversed, some twice, plus a self-loop per vertex. */
  private def untidy(edges: Seq[(Long, Long)]) =
    edges ++ edges.map(_.swap) ++ edges.take(2) ++
      edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(v => (v, v))

  test("labelPropagation: two cliques resolve to their min labels; bipartite 2-cycle pinned") {
    import spark.implicits._
    // after a few rounds each clique carries its minimum label, and the
    // bridge does not merge them (each endpoint's clique majority wins 3:1).
    val edges = twoCliques.toDF("a", "b")
    val out = GraphAnalytics.labelPropagation(edges, "a", "b", iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L), s"clique 1 labels: $out")
    assert(Seq(10L, 11L, 12L, 13L).forall(out(_) == 10L), s"clique 2 labels: $out")
    // the documented synchronous-LPA oscillation: an isolated pair swaps
    // labels every round — odd iters → swapped, even iters → back.
    val pair = Seq((7L, 8L)).toDF("a", "b")
    val odd = GraphAnalytics.labelPropagation(pair, "a", "b", iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(odd == Map(7L -> 8L, 8L -> 7L))
    val even = GraphAnalytics.labelPropagation(pair, "a", "b", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(even == Map(7L -> 7L, 8L -> 8L))
  }

  test("kCore: tendrils peel, the dense core survives with in-core degrees") {
    import spark.implicits._
    // the 3-core of the clique with a pendant chain is exactly the
    // clique: 20 (degree 2) and 21 (degree 1) peel away.
    val edges = cliqueWithTendril.toDF("a", "b")
    val core3 = GraphAnalytics.kCore(edges, "a", "b", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must be the clique with degree 3: $core3")
    // k above the densest core → empty, not an error.
    assert(GraphAnalytics.kCore(edges, "a", "b", k = 4).count() == 0L)
    // k = 1 keeps everything (every vertex has an edge).
    assert(GraphAnalytics.kCore(edges, "a", "b", k = 1).count() == 6L)
  }

  test("kCore and labelPropagation ignore self-loops, duplicate and reversed edges") {
    import spark.implicits._
    def core(e: Seq[(Long, Long)], k: Int) =
      GraphAnalytics.kCore(e.toDF("a", "b"), "a", "b", k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    def lpa(e: Seq[(Long, Long)], iters: Int) =
      GraphAnalytics.labelPropagation(e.toDF("a", "b"), "a", "b", iters).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    for (k <- 1 to 3)
      assert(core(untidy(cliqueWithTendril), k) == core(cliqueWithTendril, k), s"k = $k")
    for (iters <- Seq(1, 4))
      assert(lpa(untidy(twoCliques), iters) == lpa(twoCliques, iters), s"iters = $iters")
    // the id type of the endpoint columns carries through to the output
    val intEdges = cliqueWithTendril.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b")
    assert(GraphAnalytics.kCore(intEdges, "a", "b", k = 3).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(GraphAnalytics.labelPropagation(intEdges, "a", "b", iters = 1)
      .schema.map(_.dataType).distinct == Seq(org.apache.spark.sql.types.IntegerType))
  }

  test("kCore and labelPropagation issue about one Spark job per round") {
    import spark.implicits._
    // A round planned as its own Catalyst query costs several jobs (AQE
    // stages, checkpoints); a GraphX superstep costs one. The bound is
    // rounds + 4: building the graph, the first materialization and the
    // result's collect.
    val (lpa, lpaJobs) = countJobs(
      GraphAnalytics.labelPropagation(twoCliques.toDF("a", "b"), "a", "b", iters = 5).collect())
    assert(lpa.length == 8)
    assert(lpaJobs <= 5 + 4, s"labelPropagation(iters = 5) ran $lpaJobs jobs")
    // the tendril peels in one round and a second finds the fixpoint
    val (core, coreJobs) = countJobs(
      GraphAnalytics.kCore(cliqueWithTendril.toDF("a", "b"), "a", "b", k = 3).collect())
    assert(core.length == 4)
    assert(coreJobs <= 2 + 4, s"kCore(k = 3) ran $coreJobs jobs")
  }

  test("dataCardStream: card is batch-split-invariant, restart-safe, exact below k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "a b c", "s1"), // dup content
      (4L, "w x y z", "s2"), (5L, "p q", "s2"))
    def runSplit(batches: Seq[Seq[(Long, String, String)]],
        prefix: String): Map[String, (Long, Long, Long, Double, Long, Long)] = try {
      val mem = MemoryStream[(Long, String, String)]
      val streamDf = mem.toDF()
        .select(col("_1").as("doc_id"), col("_2").as("text"), col("_3").as("source"))
      var last: org.apache.spark.sql.DataFrame = null
      val ckpt = java.nio.file.Files.createTempDirectory("card_ckpt").toString
      batches.foreach { b =>
        mem.addData(b: _*)
        // a FRESH writer per batch: nothing survives in driver memory
        // between runs — only the persisted {prefix}_card table and the
        // streaming checkpoint, i.e. every batch boundary IS a restart.
        val writer = EventStream.dataCardStream(streamDf, "doc_id", "text",
            "source", prefix, k = 64, histBuckets = 32, histGranularity = 1L,
            apply = st => last = st)
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      last.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5),
          r.getLong(6))).toMap
    } finally spark.sql(s"DROP TABLE IF EXISTS ${prefix}_card")
    val oneShot = runSplit(Seq(rows), "card_one")
    val threeWay = runSplit(Seq(rows.take(2), rows.slice(2, 4), rows.drop(4)), "card_three")
    assert(oneShot == threeWay, s"card not batch/restart-invariant:\n$oneShot\n$threeWay")
    // exact values below k: s1 = 3 docs, 8 tokens, 2 distinct contents,
    // distinct token-lengths {2, 3} -> distinct p50 (lower rank) = 2, but
    // OCCURRENCE lengths [3, 2, 3] -> rank 2 of the sorted multiset = 3
    // (the histogram path at g = 1 distinguishes the two semantics).
    assert(oneShot("s1") == ((3L, 8L, 2L, 2.0, 2L, 3L)))
    assert(oneShot("s2") == ((2L, 6L, 3L, 2.0, 2L, 2L)))
  }

  test("dataCardDrift: zero against itself, fires on a shifted live card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[(Long, String, String)]
      val streamDf = mem.toDF()
        .select(col("_1").as("doc_id"), col("_2").as("text"), col("_3").as("source"))
      val ckpt = java.nio.file.Files.createTempDirectory("drift_ckpt").toString
      def runOnce(): Unit = {
        val w = EventStream.dataCardStream(streamDf, "doc_id", "text",
            "source", "drift_test", k = 64, histBuckets = 32,
            histGranularity = 1L)
          .option("checkpointLocation", ckpt)
        val q = w.start(); q.processAllAvailable(); q.stop()
      }
      // calibration batch: long docs.
      mem.addData((1L, "a b c d e f g h", "s1"), (2L, "i j k l m n o p", "s1"))
      runOnce()
      // freeze the reference AS OF calibration (localCheckpoint: the live
      // table will be overwritten by the next batch).
      val reference = spark.table("drift_test_card").localCheckpoint(true)
      // self-comparison: identical histograms → PSI exactly 0.
      val self = EventStream.dataCardDrift(spark, "drift_test", reference)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      assert(self("s1") == 0.0, s"self drift: $self")
      // drifted batch: a flood of short docs shifts the length histogram.
      mem.addData((3L, "x", "s1"), (4L, "y", "s1"), (5L, "z", "s1"),
        (6L, "w", "s1"), (7L, "v", "s1"), (8L, "u", "s1"))
      runOnce()
      val drift = EventStream.dataCardDrift(spark, "drift_test", reference)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .head
      // live card now holds all 8 docs; reference froze at 2.
      assert(drift._2 == 8L && drift._3 == 2L, s"counts: $drift")
      assert(drift._4 > 0.25, s"planted shift must cross the act threshold: $drift")
    } finally spark.sql("DROP TABLE IF EXISTS drift_test_card")
  }

  test("Jsonl.readStream: landed files absorb per batch, torn lines route, restart resumes") {
    import graft.ingest.Jsonl
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonl_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("jsonl_stream_ckpt").toString
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val good = scala.collection.mutable.ArrayBuffer[Long]()
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    // a FRESH writer per run — the checkpoint alone decides what is new.
    def runOnce(): Unit = {
      val q = Jsonl.readStream(spark, dir, schema).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          good ++= b.filter(col("corrupt_line").isNull)
            .select("doc_id").as[Long].collect()
          bad ++= b.filter(col("corrupt_line").isNotNull)
            .select("corrupt_line").as[String].collect()
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    drop("day1.json", Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "be""", // torn mid-object
      """{"doc_id": 3, "text": "gamma"}"""))
    runOnce()
    assert(good.sorted.toSeq == Seq(1L, 3L))
    assert(bad.length == 1 && bad.head.contains("be"))
    // a new file lands; a restarted reader absorbs ONLY it.
    drop("day2.json", Seq("""{"doc_id": 4, "text": "delta"}"""))
    runOnce()
    assert(good.sorted.toSeq == Seq(1L, 3L, 4L), s"got $good")
    assert(bad.length == 1)
  }

  test("indexStream: streamed postings serve searches ≡ one-shot searchTopK") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, "spark shuffle join spark"), (2L, "spark scan filter"))
    val b2 = Seq((3L, "join shuffle shuffle"), (4L, "unique term here"))
    val queries = Seq((10L, "spark shuffle")).toDF("qid", "qtext")
    try {
      val mem = MemoryStream[(Long, String)]
      val streamDf = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val ckpt = java.nio.file.Files.createTempDirectory("idx_stream_ckpt").toString
      // fresh writer per run — each batch boundary is a restart proof.
      def runOnce(): Unit = {
        val writer = EventStream.indexStream(streamDf, "doc_id", "text", "idx_stream_test")
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData(b1: _*); runOnce()
      mem.addData(b2: _*); runOnce()
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      val streamed = rows(EventStream.searchIndexState(queries, "qid", "qtext",
        "idx_stream_test"))
      val oneShot = rows(graft.llmops.Retrieval.searchTopK(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
        queries, "qid", "qtext"))
      assert(streamed == oneShot && streamed.nonEmpty,
        s"streamed index diverges:\n$streamed\n$oneShot")
      // the per-term summary from the table matches the batch index.
      val idxT = graft.llmops.Retrieval.indexFromPostings(
        spark.table("idx_stream_test_postings"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSet
      val idxB = graft.llmops.Retrieval.invertedIndex(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3))).toSet
      assert(idxT == idxB)
      // layout pin: the postings table (created batch 1, appended batch 2)
      // is bucketed by term — the per-term summary aggregates straight off
      // the scan's HashPartitioning(term), with NO Exchange anywhere.
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val p = graft.llmops.Retrieval.indexFromPostings(
          spark.table("idx_stream_test_postings"))
          .queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"postings scan not bucketed:\n$p")
        assert(!p.contains("Exchange"),
          s"per-term summary over bucketed postings must not shuffle:\n$p")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      spark.sql("DROP TABLE IF EXISTS idx_stream_test_postings")
    }
  }

  test("annIndexStream: streamed cells serve ANN ≡ one-shot ivfTopK; bucketed probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 12 vectors in 3 rough directions; centroids = the first 3.
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val all = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0), 3L -> v(0, 0, 1, 0),
      4L -> v(0.9f, 0.1f, 0, 0), 5L -> v(0.1f, 0.9f, 0, 0), 6L -> v(0, 0.1f, 0.9f, 0),
      7L -> v(0.8f, 0.2f, 0, 0), 8L -> v(0.2f, 0.8f, 0.1f, 0), 9L -> v(0, 0, 0.8f, 0.2f),
      10L -> v(0.7f, 0, 0.3f, 0), 11L -> v(0.3f, 0.7f, 0, 0), 12L -> v(0, 0.3f, 0.7f, 0))
    val corpus = all.toDF("vec_id", "embedding")
    val cent = corpus.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val queries = corpus.filter(col("vec_id") isin (4L, 9L))
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val streamDf = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val ckpt = java.nio.file.Files.createTempDirectory("ann_stream_ckpt").toString
      // fresh writer per run — each batch boundary is a restart proof
      // (the frozen centroid table must also survive and not re-create).
      def runOnce(): Unit = {
        val writer = EventStream.annIndexStream(streamDf, "vec_id", "embedding",
            cent, "ann_stream_test")
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData(all.take(6): _*); runOnce()
      mem.addData(all.drop(6): _*); runOnce()
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("qid", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val streamed = rows(EventStream.annIndexState(queries, "ann_stream_test",
        k = 3, nprobe = 2))
      val oneShot = rows(graft.llmops.Similarity.ivfTopK(corpus, queries,
        k = 3, nprobe = 2, centroids = Some(cent)))
      assert(streamed == oneShot && streamed.nonEmpty,
        s"streamed ANN diverges:\n$streamed\n$oneShot")
      // layout pin: the cells table (created empty, appended twice) is
      // bucketed by cell — the probe joins without shuffling the state.
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val p = EventStream.annIndexState(queries, "ann_stream_test", k = 3, nprobe = 2)
          .queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"cells scan not bucketed:\n$p")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      Seq("centroids", "cells").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ann_stream_test_$t"))
    }
  }

  test("rebuildQuantizer: drifted stream re-trains, swaps state atomically, keeps serving") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    // data spans 3 directions but the stream starts with a BAD 2-centroid
    // quantizer (both centroids in the x/y plane): the z-direction
    // vectors pile into whichever cell is least-wrong — drift by
    // construction, visible in cellStats.
    val all = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0), 3L -> v(0, 0, 1, 0),
      4L -> v(0.9f, 0.1f, 0, 0), 5L -> v(0.1f, 0.9f, 0, 0), 6L -> v(0, 0.1f, 0.9f, 0),
      7L -> v(0.8f, 0.2f, 0, 0), 8L -> v(0.2f, 0.8f, 0.1f, 0), 9L -> v(0, 0, 0.8f, 0.2f),
      10L -> v(0.7f, 0, 0.3f, 0), 11L -> v(0.3f, 0.7f, 0, 0), 12L -> v(0, 0.3f, 0.7f, 0))
    val corpus = all.toDF("vec_id", "embedding")
    val cent0 = corpus.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val queries = corpus.filter(col("vec_id") isin (4L, 9L))
    val prefix = "ann_rebuild_test"
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def weightedCdist(prefix: String): Double = {
      val st = graft.llmops.Similarity.cellStats(
        spark.table(s"${prefix}_cells"), spark.table(s"${prefix}_centroids"))
        .na.fill(0.0, Seq("mean_cdist")).collect()
      val tot = st.map(_.getAs[Long]("n")).sum.toDouble
      st.map(r => r.getAs[Long]("n") * r.getAs[Double]("mean_cdist")).sum / tot
    }
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val streamDf = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val ckpt = java.nio.file.Files.createTempDirectory("ann_rebuild_ckpt").toString
      def runOnce(): Unit = {
        val writer = EventStream.annIndexStream(streamDf, "vec_id", "embedding",
            cent0, prefix)
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData(all.take(6): _*); runOnce()
      mem.addData(all.drop(6).take(5): _*); runOnce()
      val cdistBefore = weightedCdist(prefix)
      // REBUILD: 3 centroids, 2 Lloyd rounds, trained on the 11 streamed
      val newCent = EventStream.rebuildQuantizer(spark, prefix, nlist = 3, iters = 2)
      // 1) training parity: table centroids ≡ a direct kmeansQuantized
      //    over the same vectors (same seeds-by-lowest-id, same rounds)
      val direct = graft.llmops.Similarity.centroidsToFloat(
        graft.llmops.Similarity.kmeansQuantized(
          corpus.filter(col("vec_id") <= 11), nlist = 3, iters = 2))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
      val fromTable = newCent.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
      assert(fromTable == direct, s"rebuilt centroids diverge:\n$fromTable\n$direct")
      // 2) serving parity: state probe ≡ one-shot ivfTopK with the new
      //    quantizer over every vector streamed so far
      val served = rows(EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2))
      val oneShot = rows(graft.llmops.Similarity.ivfTopK(
        corpus.filter(col("vec_id") <= 11), queries, k = 3, nprobe = 2,
        centroids = Some(spark.table(s"${prefix}_centroids"))))
      assert(served == oneShot && served.nonEmpty,
        s"post-rebuild state diverges:\n$served\n$oneShot")
      // 3) the rebuild actually remediated the drift
      assert(weightedCdist(prefix) < cdistBefore,
        s"rebuild did not reduce weighted mean_cdist ($cdistBefore)")
      // 4) layout preserved: the swapped-in cells table still bucketed —
      //    the probe's no-shuffle plan survives the rebuild
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val p = EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2)
          .queryExecution.executedPlan.toString
        assert(p.contains("Bucketed: true"), s"rebuilt cells scan not bucketed:\n$p")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      // 5) the stream keeps going WITHOUT restart ceremony: the next
      //    batch assigns against the NEW centroids (annIndexStream reads
      //    the centroid table per batch), parity still exact
      mem.addData(all.drop(11): _*); runOnce()
      val served2 = rows(EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2))
      val oneShot2 = rows(graft.llmops.Similarity.ivfTopK(corpus, queries,
        k = 3, nprobe = 2, centroids = Some(spark.table(s"${prefix}_centroids"))))
      assert(served2 == oneShot2 && served2.nonEmpty,
        s"post-rebuild append diverges:\n$served2\n$oneShot2")
    } finally {
      Seq("centroids", "cells", "centroids__rebuild", "cells__rebuild").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
  }

  test("rebuildQuantizer: a swap cut short by a crash heals on the next contact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StateTable.twin
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val all = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0), 3L -> v(0, 0, 1, 0),
      4L -> v(0.9f, 0.1f, 0, 0), 5L -> v(0.1f, 0.9f, 0, 0), 6L -> v(0, 0.1f, 0.9f, 0),
      7L -> v(0.8f, 0.2f, 0, 0), 8L -> v(0.2f, 0.8f, 0.1f, 0), 9L -> v(0, 0, 0.8f, 0.2f),
      10L -> v(0.7f, 0, 0.3f, 0), 11L -> v(0.3f, 0.7f, 0, 0), 12L -> v(0, 0.3f, 0.7f, 0))
    val corpus = all.toDF("vec_id", "embedding")
    val cent0 = corpus.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val queries = corpus.filter(col("vec_id") isin (4L, 9L))
    val prefix = "ann_heal_test"
    val (centT, cellT) = (s"${prefix}_centroids", s"${prefix}_cells")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def centroids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val streamDf = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val ckpt = java.nio.file.Files.createTempDirectory("ann_heal_ckpt").toString
      def runOnce(): Unit = {
        val q = EventStream.annIndexStream(streamDf, "vec_id", "embedding", cent0, prefix)
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable(); q.stop()
      }
      mem.addData(all.take(6): _*); runOnce()
      mem.addData(all.drop(6): _*); runOnce()
      EventStream.rebuildQuantizer(spark, prefix, nlist = 3, iters = 2)
      // Stage the next rebuild's twins as a crash inside the swap leaves
      // them: (1) centroids swapped, cells DROPPED before its RENAME;
      // (2) centroids DROPPED before its RENAME, both twins complete.
      for ((dropped, nlist) <- Seq(cellT -> 4, centT -> 2)) {
        val (cent, cells) = graft.llmops.Similarity.rebuildQuantizer(
          spark.table(cellT), nlist, iters = 2)
        val staged = centroids(cent)
        if (dropped == cellT) {
          spark.sql(s"DROP TABLE $centT")
          cent.write.format("parquet").saveAsTable(centT)
        } else cent.write.format("parquet").saveAsTable(twin(centT))
        cells.repartition(8, col("cell")).write.format("parquet")
          .bucketBy(8, "cell").sortBy("cell").saveAsTable(twin(cellT))
        spark.sql(s"DROP TABLE $dropped")
        // a reader only reads: it refuses the torn pair and heals nothing
        intercept[org.apache.spark.sql.AnalysisException] {
          EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2)
        }
        assert(spark.catalog.tableExists(twin(cellT)) && !spark.catalog.tableExists(dropped))
        // the next stream start completes the swap: the new quantizer
        // serves every streamed vector, no twin is left
        runOnce()
        assert(centroids(spark.table(centT)) == staged, s"$dropped: old quantizer")
        val served = rows(EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2))
        val oneShot = rows(graft.llmops.Similarity.ivfTopK(corpus, queries,
          k = 3, nprobe = 2, centroids = Some(spark.table(centT))))
        assert(served == oneShot && served.nonEmpty,
          s"$dropped: healed state diverges:\n$served\n$oneShot")
        assert(!spark.catalog.tableExists(twin(centT)) &&
          !spark.catalog.tableExists(twin(cellT)))
      }
    } finally {
      Seq(centT, cellT, twin(centT), twin(cellT)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("maybeRebuild: seeds calibration, stays quiet while stable, fires exactly on drift") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val aligned = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0),
      3L -> v(0.95f, 0.05f, 0, 0), 4L -> v(0.05f, 0.95f, 0, 0),
      5L -> v(0.9f, 0.1f, 0, 0), 6L -> v(0.1f, 0.9f, 0, 0))
    val drifted = Seq(
      7L -> v(0, 0.05f, 0.95f, 0), 8L -> v(0, 0, 0.9f, 0.1f),
      9L -> v(0.05f, 0, 0.95f, 0), 10L -> v(0, 0.1f, 0.9f, 0))
    val corpus = (aligned ++ drifted).toDF("vec_id", "embedding")
    val cent0 = corpus.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centvec"))
    val prefix = "ann_auto_test"
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val streamDf = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val ckpt = java.nio.file.Files.createTempDirectory("ann_auto_ckpt").toString
      def runOnce(): Unit = {
        val w = EventStream.annIndexStream(streamDf, "vec_id", "embedding", cent0, prefix)
          .option("checkpointLocation", ckpt)
        val q = w.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData(aligned: _*); runOnce()
      // first call SEEDS — never rebuilds, meta row appears
      assert(!EventStream.maybeRebuild(spark, prefix, nlist = 3, iters = 2))
      assert(spark.catalog.tableExists(s"${prefix}_quantizer_meta"))
      val calib0 = spark.table(s"${prefix}_quantizer_meta").head().getDouble(0)
      // stable state: quiet
      assert(!EventStream.maybeRebuild(spark, prefix, nlist = 3, iters = 2))
      // drift arrives: the z-direction batch inflates weighted mean_cdist
      mem.addData(drifted: _*); runOnce()
      assert(EventStream.maybeRebuild(spark, prefix, nlist = 3, iters = 2),
        "drifted state must trigger the rebuild")
      // rebuild really ran: 3 centroids now, serving parity holds
      assert(spark.table(s"${prefix}_centroids").count() === 3L)
      val queries = corpus.filter(col("vec_id") isin (5L, 8L))
      val served = EventStream.annIndexState(queries, prefix, k = 3, nprobe = 2)
        .orderBy("qid", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val oneShot = graft.llmops.Similarity.ivfTopK(corpus, queries, k = 3,
          nprobe = 2, centroids = Some(spark.table(s"${prefix}_centroids")))
        .orderBy("qid", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(served == oneShot && served.nonEmpty)
      // calibration re-seeded from the rebuilt (healthy) state: quiet again
      val calib1 = spark.table(s"${prefix}_quantizer_meta").head().getDouble(0)
      assert(calib1 !== calib0)
      assert(!EventStream.maybeRebuild(spark, prefix, nlist = 3, iters = 2),
        "freshly rebuilt state must not re-trigger")
    } finally {
      Seq("centroids", "cells", "centroids__rebuild", "cells__rebuild",
        "quantizer_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
  }

  test("curationStream: continuous cascade with cross-batch dedup, decon state, lifetime quota") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    val prefix = "cur_stream_test"
    try {
      // pre-stream one benchmark suite into the SAME prefix's decon state.
      val benchMem = MemoryStream[(Long, String)]
      val benchDf = benchMem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val benchCkpt = java.nio.file.Files.createTempDirectory("cur_bench_ckpt").toString
      val benchWriter = EventStream.decontaminationStream(benchDf, "doc_id", "text",
          prefix, mBits = 1 << 16)
        .option("checkpointLocation", benchCkpt)
      benchMem.addData((900L, "prefix gamma delta epsilon zeta ends suffix tokens"))
      locally { val q = benchWriter.start(); q.processAllAvailable(); q.stop() }

      val mem = MemoryStream[(Long, String, String)]
      val streamDf = mem.toDF().select(col("_1").as("doc_id"),
        col("_2").as("text"), col("_3").as("source"))
      var ledger: org.apache.spark.sql.DataFrame = null
      val ckpt = java.nio.file.Files.createTempDirectory("cur_stream_ckpt").toString
      // a FRESH writer per run: every state the cascade needs (corpus,
      // index, counts, decon, ledger) lives in the prefix tables, so each
      // batch boundary doubles as a RESTART proof — nothing survives in
      // driver memory between runs except the checkpoint offsets.
      def runOnce(): Unit = {
        val writer = EventStream.curationStream(streamDf, "doc_id", "text", "source",
            blockedSources = Seq("badsrc"), quota = 2, tablePrefix = prefix,
            mBits = 1 << 16, apply = l => ledger = l)
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      // batch 1: kept / quality / blocked / exact-dup.
      mem.addData(
        (1L, base + " twenty", "s1"),
        (2L, "tiny doc", "s1"),
        (3L, "whatever content this is here", "badsrc"),
        (4L, base + " twenty", "s1"))
      runOnce()
      // batch 2: near-dup vs ACCEPTED corpus / contaminated / quota
      // (lifetime count: doc 1 already holds one of s1's 2 slots).
      mem.addData(
        (5L, base + " twentyone", "s1"),
        (6L, "warmup words then gamma delta epsilon zeta ends here okay", "s2"),
        (7L, "alpha bravo charlie delta echo foxtrot golf", "s1"),
        (8L, "red orange yellow green blue indigo violet", "s1"))
      runOnce()
      val led = ledger.collect()
        .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(4))).toMap
      assert(led(1L) == (("kept", true)))
      assert(led(2L) == (("quality", false)))
      assert(led(3L) == (("blocked_source", false)))
      assert(led(4L) == (("exact_dup", false)))
      assert(led(5L) == (("near_dup", false)), s"got ${led(5L)}")
      assert(led(6L) == (("contaminated", false)))
      assert(led(7L) == (("kept", true)))
      assert(led(8L) == (("quota", false)), s"got ${led(8L)}")
      assert(led.size == 8)
      // corpus tables hold exactly the kept docs + their index rows.
      assert(spark.table(s"${prefix}_docs").select("doc").as[Long]
        .collect().toSet == Set(1L, 7L))
      assert(spark.table(s"${prefix}_source_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("s1" -> 2L))
    } finally {
      Seq("docs", "shingles", "bands", "ledger", "source_counts",
        "bench_shingles", "bloom").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
  }

  test("StateTable.open: a stale state layout is refused before the stream starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prefix = "stale_state_test"
    val tables = Seq("docs", "shingles", "bands", "ledger", "source_counts",
      "bench_shingles", "bloom").map(t => s"${prefix}_$t")
    def stateRows(): Long =
      tables.filter(spark.catalog.tableExists).map(spark.table(_).count()).sum
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((1L, "one two three four five six seven eight", "s1"))
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    def curation() = EventStream.curationStream(docs, "doc_id", "text", "source",
      blockedSources = Nil, quota = 10, tablePrefix = prefix, mBits = 1 << 16)
    def dropAll(): Unit = tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      for (start <- Seq[() => Any](
          () => EventStream.dedupStream(docs.select("doc_id", "text"), "doc_id",
            "text", prefix),
          () => curation())) {
        // the pre-r16 index layout: one (doc, s) row per shingle hash
        dropAll()
        Seq((7L, 42L)).toDF("doc", "s").write.format("parquet")
          .saveAsTable(s"${prefix}_shingles")
        val e = intercept[IllegalStateException](start())
        assert(e.getMessage.contains(s"${prefix}_shingles has layout " +
          "(doc bigint, s bigint)") &&
          e.getMessage.contains("expects (doc bigint, hs array<bigint>)"), e.getMessage)
        assert(stateRows() == 1L, "a refused start must not write state")
      }
      // a ledger the stream would only append to is refused up front too,
      // not after the batch has appended to docs, shingles and bands
      dropAll()
      Seq.empty[(Long, String, String, String)]
        .toDF("doc", "source", "stage", "quality_reason")
        .write.format("parquet").saveAsTable(s"${prefix}_ledger")
      val e = intercept[IllegalStateException](curation())
      assert(e.getMessage.contains(s"${prefix}_ledger") &&
        e.getMessage.contains("kept boolean"), e.getMessage)
      assert(stateRows() == 0L, "a refused start must not write state")
    } finally dropAll()
  }

  test("StateTable: crashed builds are never adopted, interrupted swaps complete") {
    import spark.implicits._
    import graft.streaming.StateTable
    import graft.streaming.StateTable.twin
    val (a, b) = ("state_toy_a", "state_toy_b")
    val tables = Seq(a, twin(a), b, twin(b))
    def put(t: String, v: Long): Unit =
      Seq(v).toDF("v").write.mode("overwrite").format("parquet").saveAsTable(t)
    def drop(t: String): Unit = spark.sql(s"DROP TABLE $t")
    def heal(): Unit = StateTable.heal(spark, Seq(a, b))
    // (a, a's twin, b, b's twin), None where absent
    def state(): Seq[Option[Long]] = tables.map(t =>
      if (!spark.catalog.tableExists(t)) None
      else { spark.catalog.refreshTable(t); Some(spark.table(t).head().getLong(0)) })
    try {
      put(a, 1); put(b, 1)
      // a crashed build: the twins present are a prefix of (a, b)
      put(twin(a), 2); heal()
      assert(state() == Seq(Some(1), Some(2), Some(1), None))
      put(twin(b), 2); heal()
      assert(state() == Seq(Some(1), Some(2), Some(1), Some(2)))
      // a reclaim cut short after dropping b's twin (it drops last table
      // first) leaves a's alone: still a prefix, still not adopted
      drop(twin(b)); heal()
      assert(state() == Seq(Some(1), Some(2), Some(1), None))
      // a prefix is not adopted even with a live table missing
      drop(b); heal()
      assert(state() == Seq(Some(1), Some(2), None, None))
      put(b, 1)
      // the next swap reclaims the leftovers and lands its own build
      StateTable.swap(spark, Seq(a, b)) { case Seq(sa, sb) => put(sa, 3); put(sb, 3) }
      assert(state() == Seq(Some(3), None, Some(3), None))
      // crashes inside the swap complete it: a dropped before its rename…
      put(twin(a), 4); put(twin(b), 4); drop(a); heal()
      assert(state() == Seq(Some(4), None, Some(4), None))
      // …a swapped, b's swap not begun…
      put(a, 5); put(twin(b), 5); heal()
      assert(state() == Seq(Some(5), None, Some(5), None))
      // …and b dropped before its rename
      put(a, 6); put(twin(b), 6); drop(b); heal()
      assert(state() == Seq(Some(6), None, Some(6), None))
      // a swap over a missing live table is refused before staging
      drop(b)
      intercept[IllegalArgumentException] {
        StateTable.swap(spark, Seq(a, b)) { case Seq(sa, sb) => put(sa, 7); put(sb, 7) }
      }
      assert(state() == Seq(Some(6), None, None, None))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("decontaminationStream: streamed state ≡ from-scratch bloom decontamination") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench1 = Seq((101L, "alpha beta gamma delta epsilon zeta"))
    val bench2 = Seq((102L, "one two three four five six seven"))
    val train = Seq(
      (1L, "warmup alpha beta gamma delta epsilon end"), // hits suite 1
      (2L, "lead in one two three four five out"),       // hits suite 2
      (3L, "totally unrelated training content here")
    ).toDF("doc_id", "text")
    try {
      val mem = MemoryStream[(Long, String)]
      val streamDf = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val ckpt = java.nio.file.Files.createTempDirectory("decon_stream_ckpt").toString
      // fresh writer per run — each batch boundary is a restart proof.
      def runOnce(): Unit = {
        val writer = EventStream.decontaminationStream(streamDf, "doc_id", "text",
            "decon_stream_test", mBits = 1 << 16)
          .option("checkpointLocation", ckpt)
        val q = writer.start(); q.processAllAvailable(); q.stop()
      }
      mem.addData(bench1: _*); runOnce()
      mem.addData(bench2: _*); runOnce()
      val streamed = EventStream.decontaminateAgainstState(train, "doc_id", "text",
          "decon_stream_test", mBits = 1 << 16)
        .orderBy("doc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val oneShot = graft.llmops.Dedup.decontaminateBloom(train,
          (bench1 ++ bench2).toDF("doc_id", "text"), "doc_id", "text",
          mBits = 1 << 16)
        .orderBy("doc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(streamed == oneShot, s"streamed state diverges:\n$streamed\n$oneShot")
      assert(streamed.map(_._3) == Seq(true, true, false))
      // the bloom table stays bounded; re-streaming suite 1 adds nothing.
      assert(spark.table("decon_stream_test_bloom").count() <= (1L << 16) / 64)
      val before = spark.table("decon_stream_test_bench_shingles").count()
      mem.addData(bench1: _*); runOnce()
      assert(spark.table("decon_stream_test_bench_shingles").count() == before)
    } finally {
      Seq("bench_shingles", "bloom").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS decon_stream_test_$t"))
    }
  }

  test("foreachBatch incremental upsert converges to the batch upsert result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val streamDf = mem.toDF().select(col("_1").as("k"), col("_2").as("v"), col("_3").as("seq"))
    val initial = Seq((1L, "init", 0L)).toDF("k", "v", "seq")
    var last: org.apache.spark.sql.DataFrame = initial
    val writer = EventStream.incrementalUpsert(streamDf, Seq("k"), "seq", initial,
      st => last = st)
    mem.addData((1L, "x", 1L), (2L, "y", 2L))
    mem.addData((2L, "z", 3L), (3L, "w", 4L))
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
    val state = last.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state == Seq((1L, "x"), (2L, "z"), (3L, "w")))
  }

  test("incremental upsert keeps cached state bounded across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val streamDf = mem.toDF().select(col("_1").as("k"), col("_2").as("v"), col("_3").as("seq"))
    val initial = Seq((1L, "init", 0L)).toDF("k", "v", "seq")
    val before = spark.sparkContext.getPersistentRDDs.size
    var cachedSeen = List.empty[Int]
    val writer = EventStream.incrementalUpsert(streamDf, Seq("k"), "seq", initial,
      _ => cachedSeen ::= (spark.sparkContext.getPersistentRDDs.size - before))
    // three micro-batches: without the unpersist, each batch would add one
    // cached plan and the count would climb 1, 2, 3.
    mem.addData((1L, "a", 1L))
    mem.addData((2L, "b", 2L))
    mem.addData((3L, "c", 3L))
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
    assert(cachedSeen.nonEmpty && cachedSeen.forall(_ <= 2),
      s"cached state per batch should stay bounded (prev+current), got ${cachedSeen.reverse}")
  }

  test("streaming incremental aggregate equals the from-scratch batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val streamDf = mem.toDF().select(col("_1").as("k"), col("_2").as("v"))
    val initial = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("k", "cnt", "sum", "min", "max")
    var last = initial
    val writer = EventStream.incrementalAggregate(streamDf, Seq("k"), "v",
      initial, st => last = st)
    // three micro-batches with overlapping keys
    mem.addData((1L, 10L), (2L, 5L))
    mem.addData((1L, 1L), (3L, 7L))
    mem.addData((2L, 20L), (1L, 4L))
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
    val got = last.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // from-scratch over the union of all batches:
    assert(got == Seq((1L, 3L, 15L, 1L, 10L), (2L, 2L, 25L, 5L, 20L),
      (3L, 1L, 7L, 7L, 7L)))
  }

  test("streaming sketch-state fold equals the from-scratch batch sketches (array-exact)") {
    import graft.operators.IncrementalAgg
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (k, d, w) = (8, 4, 16)
    val mem = MemoryStream[(Long, Long)]
    val streamDf = mem.toDF().select(col("_1").as("key"), col("_2").as("v"))
    val initial = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      IncrementalAgg.partialsWithSketches(
        Seq.empty[(Long, Long)].toDF("key", "v"), Seq("key"), "v", k, d, w).schema)
    var last = initial
    val writer = EventStream.incrementalAggregateWithSketches(streamDf, Seq("key"), "v",
      initial, st => last = st, k, d, w)
    val batches = Seq(
      Seq((1L, 10L), (2L, 5L), (1L, 10L)),
      Seq((1L, 7L), (3L, 2L)),
      Seq((2L, 5L), (1L, 11L), (3L, 9L)))
    batches.foreach(b => mem.addData(b: _*))
    val q = writer.start(); q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("cnt"), col("kmv"), col("cms")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq, r.getSeq[Long](3).toSeq))
        .sortBy(_._1).toSeq
    val scratch = IncrementalAgg.partialsWithSketches(
      batches.flatten.toDF("key", "v"), Seq("key"), "v", k, d, w)
    assert(canon(last) == canon(scratch))
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val streamDf = mem.toDF().select(col("_1").as("user_id"), col("_2").as("value"))
    val totals = EventStream.runningUserTotals(streamDf)
    val query = totals.writeStream.format("memory").queryName("running_totals")
      .outputMode("update").start()
    mem.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
    query.processAllAvailable()
    mem.addData((1L, 4.0), (3L, 7.0))
    query.processAllAvailable()
    // update mode: latest row per user reflects the cross-batch running state.
    val rows = spark.table("running_totals")
      .groupBy("user_id").agg(max("n_events").as("n"), max("sum_value").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    query.stop()
    assert(rows == Set((1L, 3L, 7.0), (2L, 1L, 10.0), (3L, 1L, 7.0)), s"got $rows")
  }

  test("flatMapGroupsWithState sessionization closes by gap and by timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val streamDf = mem.toDF()
      .select(expr("timestamp_micros(_1 * 1000000)").as("ts"), col("_2").as("user_id"),
        col("_3").as("value"))
    val sessions = EventStream.sessionizeWithTimeout(streamDf, gapSeconds = 10,
      lateness = "0 seconds")
    val query = sessions.writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode("append").start()
    val base = 1700000000L
    mem.addData((base, 1L, 1.0), (base + 5, 1L, 2.0)) // open session for user 1
    query.processAllAvailable()
    mem.addData((base + 40, 1L, 3.0)) // 35s > gap → closes [base, base+5] in-batch
    query.processAllAvailable()
    mem.addData((base + 500, 9L, 0.0)) // advances watermark far past base+50
    query.processAllAvailable()
    mem.addData((base + 600, 9L, 1.0)) // next trigger: user 1 times out; user 9 gap-closes
    query.processAllAvailable()
    val rows = spark.table("fmgws_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    query.stop()
    val ms = base * 1000L
    val expected = Set(
      (1L, ms, ms + 5000L, 2L, 3.0),               // gap-closed
      (1L, ms + 40000L, ms + 40000L, 1L, 3.0),     // timeout-closed (watermark eviction)
      (9L, ms + 500000L, ms + 500000L, 1L, 0.0))   // gap-closed; base+600 session stays open
    assert(rows == expected, s"got $rows")
  }

  test("stream-stream join correlates events within the time bound (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val purchases = MemoryStream[(Long, Long)]
    val base = 1700000000L
    def toEv(m: MemoryStream[(Long, Long)], idCol: String) = m.toDF()
      .select(expr("timestamp_micros(_1 * 1000000)").as("ts"), col("_2").as("user_id"))
      .withColumn(idCol, col("user_id") * 1000 + unix_timestamp(col("ts")) % 1000)
    val joined = EventStream.correlate(
      toEv(clicks, "click_id"), toEv(purchases, "purchase_id"),
      key = "user_id", within = "10 seconds", lateness = "0 seconds")
      .select(col("l.user_id").as("user_id"), col("click_id"), col("purchase_id"))
    val query = joined.writeStream.format("memory").queryName("correlated")
      .outputMode("append").start()
    clicks.addData((base, 1L), (base + 100, 2L))
    purchases.addData((base + 5, 1L), (base + 20, 1L), (base + 105, 2L))
    query.processAllAvailable()
    val rows = spark.table("correlated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    query.stop()
    // user 1: purchase at +5 is inside [0, 10); +20 is not. user 2: +105
    // inside [100, 110). Purchases never match other users' clicks.
    val expected = Set(
      (1L, 1L * 1000 + base % 1000, 1L * 1000 + (base + 5) % 1000),
      (2L, 2L * 1000 + (base + 100) % 1000, 2L * 1000 + (base + 105) % 1000))
    assert(rows == expected, s"got $rows")
  }

  test("GraphX blast radius: VMs transitively on the shared datastore") {
    val store = Refresh.refresh(
      SyntheticWorkbook.seededStore(spark), SyntheticWorkbook.golden(spark))
    val ds = store.nodes
      .filter(col("label") === "Vdatastore" && col("props")("name") === "ds-shared-01")
      .select("id")
    val radius = GraphAnalytics.blastRadius(store, ds,
      Set("CONNECTED_DATASTORE", "ON_DATASTORE", "VDISK_FOR_VM"), maxHops = 3)
    val vms = radius.filter(col("label") === "Virtualmachine")
      .select("key").collect().map(_.getString(0)).toSet
    // both disks on ds-shared-01 belong to vm1 and vm2; vm3 is not affected.
    assert(vms.map(_.split(graft.model.Graph.KeySep).head) == Set("vm-uuid-01", "vm-uuid-02"))
    // hosts connected to the datastore are in the radius too.
    val hosts = radius.filter(col("label") === "Vspherehost").count()
    assert(hosts == 2)
  }

  test("blastRadius: minimal hops, capped at maxHops; an edgeless start is hop 0 alone") {
    import spark.implicits._
    val nodes = (1L to 9L).map(id => (id, "N", s"n$id")).toDF("id", "label", "key")
    // chain 1–2–3–4–5–7 along R, with a shortcut 1–4 (stored reversed and
    // twice) that puts 4 at hop 1, not 3; 8 touches only an S edge and 9
    // no edge at all.
    val edges = Seq((1L, 2L, "R"), (3L, 2L, "R"), (3L, 4L, "R"), (4L, 5L, "R"),
      (5L, 7L, "R"), (4L, 1L, "R"), (4L, 1L, "R"), (8L, 1L, "S"))
      .toDF("src", "dst", "relType")
    val store = Refresh.GraphStore(nodes, edges)
    def radius(start: Seq[Long], maxHops: Int) =
      GraphAnalytics.blastRadius(store, start.toDF("id"), Set("R"), maxHops)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("hops"))).toMap
    assert(radius(Seq(1L), 4) == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2, 7L -> 3))
    assert(radius(Seq(1L), 2) == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    assert(radius(Seq(1L), 0) == Map(1L -> 0))
    assert(radius(Seq(8L), 4) == Map(8L -> 0))
    assert(radius(Seq(9L), 4) == Map(9L -> 0))
    assert(radius(Seq(9L, 7L, 7L), 1) == Map(9L -> 0, 7L -> 0, 5L -> 1))
  }

  test("GraphX triangle count finds the host-cluster-vcenter triangles") {
    val store = Refresh.refresh(
      SyntheticWorkbook.seededStore(spark), SyntheticWorkbook.golden(spark))
    val g = GraphAnalytics.toGraphX(store)
    // host—MEMBER_OF_CLUSTER→cluster, host—CONTROLLED_BY_VC—vc,
    // cluster—CONTROLLED_BY_VC—vc close a triangle per host.
    val total = GraphAnalytics.triangleCount(spark, g)
      .agg(sum("triangles")).collect().head.getLong(0)
    assert(total > 0, "expected host-cluster-vc triangles in the fixture graph")
    val stats = GraphAnalytics.degreeStats(spark, g).collect().head
    assert(stats.getAs[Long]("n_vertices") > 0)
    assert(stats.getAs[Long]("max_degree") >= 10L) // the vCenter hub
  }

  test("bloom seen-set stream: probe-before-merge routing + state ≡ one-shot batch filter") {
    import spark.implicits._
    import graft.functions.Bloom
    import graft.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[String]
      val probed = scala.collection.mutable.ArrayBuffer[Map[String, Boolean]]()
      val ckpt = java.nio.file.Files.createTempDirectory("bloom_ckpt").toString
      def runOnce(): Unit = {
        val q = EventStream.bloomSeenStream(mem.toDF().toDF("url"), "url",
            tablePrefix = "bloom_stream_test", mBits = 1L << 16, k = 4,
            apply = df => probed += df.collect()
              .map(r => r.getString(0) -> r.getBoolean(1)).toMap)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable(); q.stop()
      }
      // drop 1: three fresh URLs — all definitely-new
      mem.addData("https://a.example/1", "https://a.example/2", "https://b.example/3")
      runOnce()
      // drop 2: one re-crawl of drop 1, two fresh (restart resumes state)
      mem.addData("https://a.example/2", "https://c.example/4", "https://c.example/5")
      runOnce()
      assert(probed.size === 2)
      assert(probed(0).values.forall(_ == false), s"first drop must be all-new: ${probed(0)}")
      // mBits 2^16 over 6 keys: FP probability ~0 — exact routing expected
      assert(probed(1) === Map("https://a.example/2" -> true,
        "https://c.example/4" -> false, "https://c.example/5" -> false))
      // state parity: streamed state ≡ one-shot filter over everything seen
      spark.catalog.refreshTable("bloom_stream_test_seen_bloom")
      val state = spark.table("bloom_stream_test_seen_bloom")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShot = Bloom.build(
          Seq("https://a.example/1", "https://a.example/2", "https://b.example/3",
            "https://c.example/4", "https://c.example/5").toDF("url"),
          "url", mBits = 1L << 16, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(state === oneShot)
      // the state is SELF-DESCRIBING: (mBits, k) stamped in the meta table
      spark.catalog.refreshTable("bloom_stream_test_seen_bloom_meta")
      val meta = spark.table("bloom_stream_test_seen_bloom_meta").head()
      assert(meta.getAs[Long]("m_bits") === (1L << 16) && meta.getAs[Int]("k") === 4)
      // a reader-side probe takes its parameters FROM the stamp — no way
      // to mismatch — and routes exactly like mightContain with them
      val viaProbe = EventStream.bloomSeenProbe(spark, "bloom_stream_test",
          Seq("https://a.example/2", "https://new.example/9").toDF("url"), "url")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(viaProbe === Map("https://a.example/2" -> true,
        "https://new.example/9" -> false))
      // a restart with DIFFERENT parameters must throw, not silently
      // produce false negatives from mismatched bit positions
      val ckpt2 = java.nio.file.Files.createTempDirectory("bloom_ckpt2").toString
      mem.addData("https://d.example/6")
      val bad = EventStream.bloomSeenStream(mem.toDF().toDF("url"), "url",
          tablePrefix = "bloom_stream_test", mBits = 1L << 12, k = 4)
        .option("checkpointLocation", ckpt2)
        .start()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        bad.processAllAvailable()
      }
      bad.stop()
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("bloom parameter mismatch"), chain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bloom_stream_test_seen_bloom")
      spark.sql("DROP TABLE IF EXISTS bloom_stream_test_seen_bloom_meta")
    }
  }

  test("bloom seen-set: an unstamped LEGACY state refuses to stream (no silent parameter blessing)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    try {
      // a pre-self-description state table with NO meta stamp
      Seq((0L, 5L)).toDF("word_idx", "word")
        .write.format("parquet").saveAsTable("bloom_legacy_seen_bloom")
      val mem = MemoryStream[String]
      mem.addData("https://x.example/1")
      val ckpt = java.nio.file.Files.createTempDirectory("bloom_legacy").toString
      val q = EventStream.bloomSeenStream(mem.toDF().toDF("url"), "url",
          tablePrefix = "bloom_legacy", mBits = 1L << 12, k = 4)
        .option("checkpointLocation", ckpt)
        .start()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("legacy"), chain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bloom_legacy_seen_bloom")
      spark.sql("DROP TABLE IF EXISTS bloom_legacy_seen_bloom_meta")
    }
  }

  test("crawl frontier stream: canonical collapse, robots, seen-set skip, waves + dequeue, adjudicated-once") {
    import spark.implicits._
    import graft.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[(String, Long)]
      val rules = Seq(("h1.example", "disallow", "/blocked"))
        .toDF("host", "rule", "path")
      val ckpt = java.nio.file.Files.createTempDirectory("frontier_ckpt").toString
      def runOnce(): Unit = {
        val q = EventStream.frontierStream(mem.toDF().toDF("url", "prio"),
            "url", "prio", "frontier_test", rules, mBits = 1L << 16, k = 4)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable(); q.stop()
      }
      def frontier(): Set[(String, String, Long)] = {
        spark.catalog.refreshTable("frontier_test_frontier")
        spark.table("frontier_test_frontier").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      }
      // batch 1: two spellings of one page collapse (max priority wins),
      // a robots-denied URL drops, a clean one enqueues
      mem.addData(
        ("https://h0.example/a?utm_source=x", 5L),
        ("HTTPS://H0.example/a#frag", 9L),
        ("https://h1.example/blocked/p", 7L),
        ("https://h1.example/ok", 3L))
      runOnce()
      assert(frontier() === Set(
        ("https://h0.example/a", "h0.example", 9L),
        ("https://h1.example/ok", "h1.example", 3L)))
      // batch 2 (restart resumes state): re-discoveries skip — INCLUDING
      // the denied URL (adjudicated-once) — a fresh URL enqueues
      mem.addData(
        ("https://h0.example/a", 99L),
        ("https://h1.example/blocked/p", 99L),
        ("https://h0.example/b", 1L))
      runOnce()
      assert(frontier() === Set(
        ("https://h0.example/a", "h0.example", 9L),
        ("https://h1.example/ok", "h1.example", 3L),
        ("https://h0.example/b", "h0.example", 1L)))
      // fetch plan: perHostPerWave = 1 — h0's high-priority /a beats /b
      val waves = EventStream.frontierWaves(spark, "frontier_test", 1)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      assert(waves === Map(
        "https://h0.example/a" -> 0L, "https://h0.example/b" -> 1L,
        "https://h1.example/ok" -> 0L))
      // dequeue wave 0; the fetched URLs stay in the Bloom, so a LATER
      // re-discovery of a fetched URL still skips
      val wave0 = EventStream.frontierWaves(spark, "frontier_test", 1,
        maxWave = 0).select("url")
      assert(EventStream.frontierDequeue(spark, "frontier_test", wave0,
        "url") === 1L)
      assert(frontier() === Set(("https://h0.example/b", "h0.example", 1L)))
      mem.addData(("https://h0.example/a", 50L))
      runOnce()
      assert(frontier() === Set(("https://h0.example/b", "h0.example", 1L)))
      // authority refresh: a new host rank table re-prioritizes queued
      // urls in place; unlisted hosts keep their stored priority
      mem.addData(("https://h9.example/z", 2L))
      runOnce()
      val n = EventStream.frontierReprioritize(spark, "frontier_test",
        Seq(("h0.example", 77L)).toDF("host", "priority"))
      assert(n === 2L)
      assert(frontier() === Set(
        ("https://h0.example/b", "h0.example", 77L),
        ("https://h9.example/z", "h9.example", 2L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS frontier_test_frontier")
      spark.sql("DROP TABLE IF EXISTS frontier_test_seen_bloom")
      spark.sql("DROP TABLE IF EXISTS frontier_test_seen_bloom_meta")
    }
  }

  test("frontier generations: rotation re-opens fetched and denied urls, " +
      "keeps the queue deduplicated, survives restart") {
    import spark.implicits._
    import graft.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[(String, Long)]
      val rules = Seq(("h1.example", "disallow", "/blocked"))
        .toDF("host", "rule", "path")
      val ckpt = java.nio.file.Files.createTempDirectory("fgen_ckpt").toString
      def runOnce(): Unit = {
        val q = EventStream.frontierStream(mem.toDF().toDF("url", "prio"),
            "url", "prio", "frontier_gen", rules, mBits = 1L << 16, k = 4)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable(); q.stop()
      }
      def frontier(): Set[(String, Long)] = {
        spark.catalog.refreshTable("frontier_gen_frontier")
        spark.table("frontier_gen_frontier").collect()
          .map(r => (r.getString(0), r.getLong(2))).toSet
      }
      // generation 0: two clean urls enqueue, one is denied
      mem.addData(("https://h0.example/a", 9L), ("https://h0.example/b", 1L),
        ("https://h1.example/blocked/p", 7L))
      runOnce()
      assert(EventStream.bloomGeneration(spark, "frontier_gen") === 0L)
      assert(frontier() === Set(("https://h0.example/a", 9L),
        ("https://h0.example/b", 1L)))
      // fetch /a (wave 0 of h0 under perHostPerWave=1), dequeue it
      val wave0 = EventStream.frontierWaves(spark, "frontier_gen", 1,
        maxWave = 0).select("url").filter(col("url").endsWith("/a"))
      EventStream.frontierDequeue(spark, "frontier_gen", wave0, "url")
      assert(frontier() === Set(("https://h0.example/b", 1L)))
      // rotate: generation 1; the seen-set reseeds from the queue {b}
      assert(EventStream.frontierNewGeneration(spark, "frontier_gen",
        mBits = 1L << 16, k = 4) === 1L)
      assert(EventStream.bloomGeneration(spark, "frontier_gen") === 1L)
      // generation 1: the FETCHED /a re-enqueues (no longer seen), the
      // QUEUED /b skips (reseeded), the denied url re-adjudicates under
      // the rules and stays out, a fresh /c enqueues
      mem.addData(("https://h0.example/a", 42L), ("https://h0.example/b", 99L),
        ("https://h1.example/blocked/p", 99L), ("https://h0.example/c", 2L))
      runOnce()
      assert(frontier() === Set(("https://h0.example/b", 1L),
        ("https://h0.example/a", 42L), ("https://h0.example/c", 2L)))
      // restart-resume across the rotation: another batch under the SAME
      // generation still dedups within-generation discoveries
      mem.addData(("https://h0.example/a", 77L), ("https://h0.example/d", 3L))
      runOnce()
      assert(EventStream.bloomGeneration(spark, "frontier_gen") === 1L)
      assert(frontier() === Set(("https://h0.example/b", 1L),
        ("https://h0.example/a", 42L), ("https://h0.example/c", 2L),
        ("https://h0.example/d", 3L)))
      // parameter law survives rotation: a mismatched caller still throws
      val e = intercept[IllegalArgumentException] {
        EventStream.frontierNewGeneration(spark, "frontier_gen",
          mBits = 1L << 10, k = 4)
      }
      assert(e.getMessage.contains("bloom parameter mismatch"))
      // CRASH STAGING: a rotation that dies during the expensive work
      // leaves only __rebuild leftovers — the live bloom and its
      // generation stamp stay untouched and mutually consistent, and
      // the next rotation reclaims the leftovers and completes.
      val liveBloom = spark.table("frontier_gen_seen_bloom").collect().toSet
      // simulate the crashed run: both staged tables fully written
      // (the widest crash window), live pair untouched
      spark.table("frontier_gen_seen_bloom").limit(0)
        .write.format("parquet").saveAsTable("frontier_gen_seen_bloom__rebuild")
      Seq((1L << 16, 4, 99L)).toDF("m_bits", "k", "generation")
        .write.format("parquet")
        .saveAsTable("frontier_gen_seen_bloom_meta__rebuild")
      assert(EventStream.bloomGeneration(spark, "frontier_gen") === 1L,
        "a crashed rotation must not move the live generation")
      assert(spark.table("frontier_gen_seen_bloom").collect().toSet ===
        liveBloom, "a crashed rotation must not touch the live bloom")
      // the next rotation reclaims the stale staging and lands gen 2
      // (NOT the crashed run's 99 — staging never leaks forward)
      assert(EventStream.frontierNewGeneration(spark, "frontier_gen",
        mBits = 1L << 16, k = 4) === 2L)
      assert(!spark.catalog.tableExists("frontier_gen_seen_bloom__rebuild"))
      assert(!spark.catalog.tableExists("frontier_gen_seen_bloom_meta__rebuild"))
      // MID-SWAP crash window (a): live bloom already DROPPED, staged
      // pair complete — the next contact must ADOPT the staged pair
      // (completing the swap), never rebuild from a live pair that no
      // longer exists. Adopting lands generation 7; the rotation on top
      // returns 8 (a rebuild from the live stamp would have said 3).
      spark.table("frontier_gen_seen_bloom")
        .write.format("parquet").saveAsTable("frontier_gen_seen_bloom__rebuild")
      Seq((1L << 16, 4, 7L)).toDF("m_bits", "k", "generation")
        .write.format("parquet")
        .saveAsTable("frontier_gen_seen_bloom_meta__rebuild")
      spark.sql("DROP TABLE frontier_gen_seen_bloom")
      assert(EventStream.frontierNewGeneration(spark, "frontier_gen",
        mBits = 1L << 16, k = 4) === 8L)
      assert(EventStream.bloomGeneration(spark, "frontier_gen") === 8L)
      // MID-SWAP crash window (b): bloom pair swapped, meta pair not —
      // the live bloom is the new one under the old stamp; the staged
      // meta (gen 41) adopts, then the rotation lands 42.
      Seq((1L << 16, 4, 41L)).toDF("m_bits", "k", "generation")
        .write.format("parquet")
        .saveAsTable("frontier_gen_seen_bloom_meta__rebuild")
      assert(EventStream.frontierNewGeneration(spark, "frontier_gen",
        mBits = 1L << 16, k = 4) === 42L)
      assert(!spark.catalog.tableExists("frontier_gen_seen_bloom__rebuild"))
      assert(!spark.catalog.tableExists("frontier_gen_seen_bloom_meta__rebuild"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS frontier_gen_frontier")
      spark.sql("DROP TABLE IF EXISTS frontier_gen_seen_bloom")
      spark.sql("DROP TABLE IF EXISTS frontier_gen_seen_bloom_meta")
      spark.sql("DROP TABLE IF EXISTS frontier_gen_seen_bloom__rebuild")
      spark.sql("DROP TABLE IF EXISTS frontier_gen_seen_bloom_meta__rebuild")
    }
  }

  test("revisit scheduling: lastmodKey laws, adaptive-TTL fold, and the " +
      "changed-vs-unchanged re-enqueue through the live frontier") {
    import spark.implicits._
    import graft.llmops.TextAnalysis
    import graft.streaming.EventStream
    // lastmodKey: date-only, T-form with/without seconds, space form,
    // leap day, ignored offsets/fractions, unparseable -> null
    def key(s: String): Option[Long] =
      Seq(s).toDF("lm").select(TextAnalysis.lastmodKey(col("lm")))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        .head
    assert(key("1970-01-01") === Some(0L))
    assert(key("1970-01-02T00:00:01") === Some(86401L))
    assert(key("2024-01-01T00:00:00Z") === Some(1704067200L))
    assert(key("2024-02-29T12:00") === Some(1709208000L)) // leap day
    assert(key("2026-08-16 07:30:00") === Some(1786865400L))
    // fractional seconds and numeric offsets ignored by stated scope
    assert(key("2024-01-01T00:00:00.500+05:30") === Some(1704067200L))
    assert(key("not a date") === None)
    assert(key("2024-13-01") === None) // month out of range
    // recordFetches: first contact -> initTtl; changed halves (clamped
    // to minTtl), unchanged doubles (clamped to maxTtl); absent rows
    // carry over; counters fold
    val h0 = TextAnalysis.emptyFetchHistory(spark)
    val h1 = TextAnalysis.recordFetches(h0,
      Seq(("a", 1000L, false), ("b", 1000L, true), ("c", 1000L, false))
        .toDF("url", "at", "chg"),
      "url", "at", "chg", initTtl = 8000L, minTtl = 3000L, maxTtl = 20000L)
    val m1 = h1.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // first contact ignores the changed flag entirely (no baseline):
    // both start at initTtl with zero observed changes
    assert(m1("a") === ((1000L, 8000L, 1L, 0L)))
    assert(m1("b") === ((1000L, 8000L, 1L, 0L)))
    val h2 = TextAnalysis.recordFetches(h1,
      Seq(("a", 2000L, true), ("b", 2000L, false)).toDF("url", "at", "chg"),
      "url", "at", "chg", initTtl = 8000L, minTtl = 3000L, maxTtl = 20000L)
    val m2 = h2.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m2("a") === ((2000L, 4000L, 2L, 1L))) // changed: 8000/2
    assert(m2("b") === ((2000L, 16000L, 2L, 0L))) // unchanged: 8000*2
    assert(m2("c") === ((1000L, 8000L, 1L, 0L))) // absent: carried
    val h3 = TextAnalysis.recordFetches(h2,
      Seq(("a", 3000L, true), ("b", 3000L, false)).toDF("url", "at", "chg"),
      "url", "at", "chg", initTtl = 8000L, minTtl = 3000L, maxTtl = 20000L)
    val m3 = h3.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(m3("a") === ((3000L, 3000L))) // 4000/2 clamps to minTtl
    assert(m3("b") === ((3000L, 20000L))) // 16000*2 clamps to maxTtl
    // revisitPlan + frontierReenqueue: a changed-lastmod URL re-enqueues
    // while an unchanged one stays retired; the bloom stays intact so
    // ORGANIC re-discoveries still skip
    try {
      val hist = Seq(
        ("https://h0.example/changed", 1704067200L, 86400L, 1L, 0L),
        ("https://h0.example/stale", 1704067200L, 86400L, 1L, 0L),
        ("https://h0.example/fresh", 1704326400L, 864000L, 1L, 0L))
        .toDF("url", "last_fetch", "ttl_secs", "n_fetches", "n_changes")
      val sm = Seq(
        ("https://h0.example/changed", "2024-01-05T00:00:00Z"),
        ("https://h0.example/fresh", "2023-12-01"))
        .toDF("loc", "lastmod")
        .select(lit("https://h0.example/sm.xml").as("sitemap_url"),
          lit("url").as("kind"), col("loc"), col("lastmod"))
      // now = 2024-01-04: /changed is lastmod-due (Jan 5 > Jan 1 fetch);
      // /stale is TTL-due (fetched Jan 1, ttl 1 day); /fresh is neither
      // (fetched Jan 4, ttl 10 days, lastmod older than the fetch)
      val plan = TextAnalysis.revisitPlan(hist, sm, nowEpoch = 1704326400L)
        .localCheckpoint(true)
      val got = plan.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got.map(_._1) === Set("https://h0.example/changed",
        "https://h0.example/stale"))
      assert(got.forall(_._2 == "h0.example"))
      // lastmod-due carries the boost over the overdue bps
      val pri = got.map(t => t._1 -> t._3).toMap
      assert(pri("https://h0.example/changed") === 1000000L + 30000L)
      assert(pri("https://h0.example/stale") === 30000L)
      // live frontier: /queued is already in the queue; the plan rows
      // append, the queued row dedupes, the bloom is untouched
      Seq(("https://h0.example/queued", "h0.example", 5L))
        .toDF("url", "host", "priority")
        .write.format("parquet").saveAsTable("revisit_t_frontier")
      import graft.functions.Bloom
      Bloom.build(hist.select("url"), "url", 1L << 16, 4)
        .write.format("parquet").saveAsTable("revisit_t_seen_bloom")
      val bloomBefore =
        spark.table("revisit_t_seen_bloom").collect().toSet
      val planPlusQueued = plan.unionByName(
        Seq(("https://h0.example/queued", "h0.example", 9L))
          .toDF("url", "host", "priority"))
      assert(EventStream.frontierReenqueue(spark, "revisit_t",
        planPlusQueued) === 2L)
      val q = spark.table("revisit_t_frontier").collect()
        .map(_.getString(0)).toSet
      assert(q === Set("https://h0.example/queued",
        "https://h0.example/changed", "https://h0.example/stale"))
      assert(spark.table("revisit_t_seen_bloom").collect().toSet ===
        bloomBefore, "re-enqueue must not touch the seen-set")
      // the organic path still skips: every historical url is still
      // "seen" by the bloom
      val probe = Bloom.mightContain(spark.table("revisit_t_seen_bloom"),
        hist.select("url"), "url", 1L << 16, 4)
      assert(probe.filter(!col("might_contain")).count() === 0L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS revisit_t_frontier")
      spark.sql("DROP TABLE IF EXISTS revisit_t_seen_bloom")
    }
  }

  test("pageRankKeys: string-keyed authority — hub outranks leaves, parallel links collapse, deterministic") {
    import spark.implicits._
    val edges = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"),
      ("hub", "leaf"), ("a", "leaf")).toDF("s", "d")
    val r = GraphAnalytics.pageRankKeys(edges, "s", "d", iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.size === 5)
    assert(r("hub") > r("a") && r("hub") > r("b"), s"hub must lead: $r")
    // parallel links collapse: a page repeating its anchor farms no rank
    val spammed = edges.unionAll(Seq.fill(50)(("a", "hub")).toDF("s", "d"))
    val r2 = GraphAnalytics.pageRankKeys(spammed, "s", "d", iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r2 === r, "repeated anchors must not change authority")
  }

  test("GraphX pagerank: region hubs outrank leaf nations") {
    val store = Refresh.refresh(
      SyntheticWorkbook.seededStore(spark), SyntheticWorkbook.golden(spark))
    val g = GraphAnalytics.toGraphX(store)
    val pr = GraphAnalytics.pageRank(spark, g, iters = 5)
    assert(pr.count() == store.nodes.count())
    // deterministic across runs
    val a = pr.orderBy("id").collect().map(_.getDouble(1)).toSeq
    val b = GraphAnalytics.pageRank(spark, GraphAnalytics.toGraphX(store), iters = 5)
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(a == b)
  }
}
