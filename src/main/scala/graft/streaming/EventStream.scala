package graft.streaming

import graft.operators.Upsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType.fromDDL

/** Keyed state carried by [[EventStream.runningUserTotals]] across
  * micro-batches. Top-level so Spark can derive a product `Encoder` for
  * `mapGroupsWithState` (method-local case classes have no derivable
  * encoder — the compiler cannot summon a `TypeTag` for them).
  */
final case class RunningTotals(n: Long, sum: Double)

/** Open-session state for [[EventStream.sessionizeWithTimeout]]: bounds of
  * the in-progress session plus its running aggregates. Epoch millis, not
  * Timestamp, so the state encoder stays a flat product of primitives.
  */
final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

/** Structured Streaming surface (SURVEY §2.10): windowed aggregates with
  * watermarks over an event stream, plus foreachBatch feeding the engine's
  * upsert kernel so the reference's batch mark-and-sweep becomes an
  * incremental MERGE per micro-batch.
  *
  * The same transformations run in batch mode in StreamingQueries (that's
  * the DuckDB-checked surface); Spark guarantees batch/stream parity for
  * time-window aggregates, and EventStreamSpec pins it with MemoryStream.
  */
object EventStream {

  /** Tumbling-window counts per event type with a watermark: late events
    * beyond `lateness` are dropped, state is bounded (the 100 TB/continuous
    * operation requirement — unbounded state is the streaming OOM).
    */
  def tumblingCounts(events: DataFrame, window: String = "5 minutes",
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Per-user session windows (gap-based) with a watermark — the streaming
    * sessionization operator. State per (user, open session) is bounded by
    * the watermark: sessions older than `lateness` finalize and evict.
    */
  def sessionCounts(events: DataFrame, gap: String = "5 minutes",
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Custom keyed state via mapGroupsWithState: per-user running totals
    * (event count + value sum) maintained across micro-batches — the
    * escalation path for stateful logic the built-in window aggregates
    * can't express. Update output mode; state is explicit and typed.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[RunningTotals, (Long, Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[RunningTotals]) =>
          val prev = state.getOption.getOrElse(RunningTotals(0L, 0.0))
          var n = prev.n
          var s = prev.sum
          rows.foreach { r => n += 1; s += r._2 }
          state.update(RunningTotals(n, s))
          (user, n, s)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Stream-stream inner join: right events landing within `[l.ts,
    * l.ts + within)` of a left event with the same `key`. Both sides carry
    * watermarks AND the join condition carries the time-range bound — the
    * two things Spark needs to EVICT join state; an unbounded stream-stream
    * join buffers both sides forever. Works identically in batch mode
    * (watermarks are no-ops there), which is what the DuckDB oracle checks
    * (q_st5_stream_join); the MemoryStream test covers the streaming path.
    * Both inputs need `ts`; keep other column names disjoint and select
    * with `l.`/`r.` qualifiers for the shared ones.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String = "user_id",
      within: String = "10 minutes", lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", lateness).alias("l")
    val r = right.withWatermark("ts", lateness).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") < col("l.ts") + expr(s"interval $within"))
  }

  /** Custom sessionization via flatMapGroupsWithState with event-time
    * timeouts — the escalation path beyond the built-in `session_window`
    * (which [[sessionCounts]] uses) for session logic the built-ins can't
    * express (per-session running aggregates, custom close rules). A
    * session closes two ways: a new event lands more than `gapSeconds`
    * after the open session's end (gap close, emitted in-batch), or the
    * watermark passes end + gap with no new event (timeout close — the
    * eviction that keeps state bounded on a continuous stream; without it
    * an idle user's open session would pin state forever). Append mode:
    * each session is emitted exactly once, when it closes. Sessions still
    * open when the stream ends are never emitted — by design, they aren't
    * final. Emits (user_id, session start/end epoch ms of the FIRST/LAST
    * EVENT, event count, value sum).
    */
  def sessionizeWithTimeout(events: DataFrame, gapSeconds: Long = 300,
      lateness: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapMs = gapSeconds * 1000L
    events.withWatermark("ts", lateness)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[OpenSession]) =>
          def close(s: OpenSession) = (user, s.start, s.end, s.n, s.sum)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            // events within a micro-batch arrive unordered — sort before
            // folding into sessions (bounded: one group, one batch).
            val sorted = rows.map(r => (r._2.getTime, r._3)).toArray.sortBy(_._1)
            var open = state.getOption
            val closed = List.newBuilder[(Long, Long, Long, Long, Double)]
            sorted.foreach { case (t, v) =>
              open match {
                case Some(s) if t - s.end > gapMs =>
                  closed += close(s)
                  open = Some(OpenSession(t, t, 1L, v))
                case Some(s) =>
                  open = Some(OpenSession(s.start, math.max(s.end, t), s.n + 1, s.sum + v))
                case None =>
                  open = Some(OpenSession(t, t, 1L, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              // timeout must sit strictly above the current watermark or
              // Spark rejects it; the max() covers a session already older
              // than the watermark (it then times out on the next trigger).
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.result().iterator
          }
      }
      .toDF("user_id", "session_start_ms", "session_end_ms", "n_events", "sum_value")
  }

  /** Incremental refresh: each micro-batch upserts into the keyed state
    * table via the same kernel the batch refresh uses (M1/M4). `apply`
    * receives the post-upsert state so callers own persistence (parquet
    * overwrite-by-partition in production; in-memory in tests).
    */
  def incrementalUpsert(
      events: DataFrame, keys: Seq[String], orderCol: String,
      initial: DataFrame, apply: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    var state = initial
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = Upsert.dedupeLastWriter(
          batch.select(initial.columns.map(col).toSeq: _*), keys, Seq(orderCol))
        // localCheckpoint (not cache+count): it materializes AND truncates
        // lineage, so an evicted state block can never trigger recomputation
        // through prior micro-batches' DataFrames (which are no longer
        // valid once their batch ends). Superseded checkpoint blocks are
        // released by the ContextCleaner when the old frame is unreachable —
        // no per-batch unpersist bookkeeping.
        state = Upsert.upsertNodes(state, deduped, keys).localCheckpoint(eager = true)
        apply(state)
      }
  }

  /** Streaming aggregate maintenance: each micro-batch collapses to
    * per-key partials and folds into the running state via
    * [[graft.operators.IncrementalAgg.merge]] — the same mergeable
    * count/sum/min/max algebra the batch operator proves
    * (`merge(partials(A), partials(B)) ≡ partials(A ∪ B)`), so after any
    * number of micro-batches the state EQUALS the from-scratch batch
    * aggregate (spec-asserted over ≥ 3 batches). State volume is one row
    * per key; history never re-shuffles. Cache discipline mirrors
    * [[incrementalUpsert]].
    */
  def incrementalAggregate(
      events: DataFrame, keys: Seq[String], valCol: String,
      initial: DataFrame, apply: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.IncrementalAgg
    var state = initial
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // localCheckpoint truncates lineage per batch (see
        // incrementalUpsert's comment): eviction of a cached-only state
        // block would otherwise recompute through prior micro-batch frames.
        state = IncrementalAgg.merge(
          state, IncrementalAgg.partials(batch, keys, valCol), keys)
          .localCheckpoint(eager = true)
        apply(state)
      }
  }

  /** [[incrementalAggregate]] with SKETCH state columns: each micro-batch
    * folds KMV distinct-count and per-key CMS frequency sketches alongside
    * the scalar partials via
    * [[graft.operators.IncrementalAgg.mergeWithSketches]] — the merge law
    * (`merge(partials(A), partials(B)) ≡ partials(A ∪ B)`, array-exact,
    * IncrementalAggSpec) extends to streams, so after any number of
    * micro-batches the state EQUALS the from-scratch batch sketch
    * (spec-asserted). State stays one bounded row per key
    * (≤ k + d·w longs of sketch per key).
    */
  def incrementalAggregateWithSketches(
      events: DataFrame, keys: Seq[String], valCol: String,
      initial: DataFrame, apply: DataFrame => Unit,
      k: Int = 256, d: Int = 4, w: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.IncrementalAgg
    var state = initial
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = IncrementalAgg.mergeWithSketches(
          state, IncrementalAgg.partialsWithSketches(batch, keys, valCol, k, d, w),
          keys, k, d, w)
          .localCheckpoint(eager = true)
        apply(state)
      }
  }

  /** [[incrementalUpsert]] with the state living in a PARTITIONED +
    * BUCKETED parquet table instead of a cached in-memory frame — the
    * production shape, with per-batch I/O proportional to the DELTA, not
    * the state:
    *
    *   - `bucketBy(buckets, keys)` makes the per-batch upsert join
    *     shuffle-free on the state side (only the micro-batch — tiny by
    *     definition — shuffles to match the bucket layout);
    *   - `partitionBy(__bucket)` with `__bucket = pmod(xxhash64(keys),
    *     partitions)` makes the per-batch WRITE prunable: the micro-batch's
    *     touched partition ids are a tiny distinct (≤ `partitions` values),
    *     only those partitions are read for the upsert (partition pruning)
    *     and only those are rewritten (dynamic partition overwrite).
    *     Untouched partitions' files are never opened and never rewritten —
    *     at a 100 TB state table a micro-batch touching 1% of partitions
    *     reads and writes ~1 TB, not 100 TB. Size `partitions` so one
    *     partition ≈ the I/O unit you accept re-writing per touched key
    *     group (e.g. 4096 partitions at 100 TB ≈ 25 GB each); `buckets`
    *     splits each partition into parallel tasks.
    *
    * Bucketed scans group same-bucket files ACROSS selected partitions, so
    * the scan's HashPartitioning(keys, buckets) — and with it the
    * no-Exchange join — survives partition pruning.
    *
    * The upserted slice is `localCheckpoint`ed before the overwrite: the
    * write must not re-scan the very partitions it is replacing, and the
    * checkpoint also cuts per-batch lineage. Keys must be NON-NULL: the
    * bucketed join uses plain key equality so Catalyst can match the
    * bucket partitioning — see `Upsert.upsertNodes(nullSafeKeys = false)`.
    * The state table is created from `initial` only when ABSENT. When it
    * already exists (a restart after a crash, or the next incremental run)
    * the committed table IS the resumed state and `initial` is ignored —
    * paired with the streaming checkpoint (which skips already-processed
    * batches), a restart neither replays nor clobbers committed upserts.
    * Drop the table to start fresh.
    *
    * `apply` receives (post-upsert state, the upsert's plan) — the plan
    * ride-along lets tests assert the no-Exchange property on the real
    * join.
    */
  def incrementalUpsertBucketed(
      events: DataFrame, keys: Seq[String], orderCol: String,
      initial: DataFrame, tablePrefix: String, buckets: Int = 8,
      partitions: Int = 16,
      apply: (DataFrame, org.apache.spark.sql.execution.QueryExecution) => Unit =
        (_, _) => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = initial.sparkSession
    val cols = initial.columns.toSeq
    val table = s"${tablePrefix}_state"
    def bucketId(df: DataFrame): DataFrame =
      df.withColumn("__bucket",
        pmod(xxhash64(keys.map(col): _*), lit(partitions.toLong)).cast("int"))
    // Create-if-absent: an existing table is committed state from a prior
    // run — overwriting it with `initial` while the checkpoint skips the
    // already-processed batches would silently lose their upserts.
    if (!spark.catalog.tableExists(table)) {
      bucketId(initial.select(cols.map(col): _*))
        .write.format("parquet")
        .partitionBy("__bucket")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(table)
    }
    val stateCols = spark.table(table).columns.toSeq // data cols, __bucket last
    events.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = bucketId(Upsert.dedupeLastWriter(
          batch.select(cols.map(col): _*), keys, Seq(orderCol)))
          .select(stateCols.map(col): _*)
          .localCheckpoint(eager = true) // reused: touched-bucket scan + upsert
        // tiny by construction: ≤ `partitions` distinct ids, from the
        // already-materialized micro-batch — not a data collect.
        val touched = deduped.select("__bucket").distinct()
          .collect().map(_.getInt(0)).sorted
        val slice = spark.table(table)
          .where(col("__bucket").isin(touched.map(Int.box): _*))
        val next = Upsert.upsertNodes(slice, deduped, keys, nullSafeKeys = false)
        val plan = next.queryExecution
        // materialize BEFORE the overwrite: the insert must not re-scan the
        // partitions it is about to replace.
        // dynamic mode: only partitions PRESENT in `materialized` — exactly
        // the touched ids (upsert never drops a slice row) — are replaced.
        // The conf must be set on the session that OWNS the written frame:
        // foreachBatch executes on a CLONED session whose conf snapshot
        // predates any set() on the outer session, and insertInto ignores
        // the per-write partitionOverwriteMode option (verified empirically
        // — a static overwrite here silently drops every untouched
        // partition, i.e. loses state).
        val materialized = next.localCheckpoint(eager = true)
        val writeSession = materialized.sparkSession
        val prevMode = writeSession.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          writeSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          materialized.select(stateCols.map(col): _*)
            .write.mode("overwrite").insertInto(table)
        } finally {
          writeSession.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        }
        spark.catalog.refreshTable(table)
        apply(spark.table(table), plan)
      }
  }

  /** Streaming per-source data card: the [[graft.llmops.Corpus.dataCard]]
    * report maintained incrementally across micro-batches of documents.
    * State is ONE bounded row per source — exact doc/token counts ride
    * the scalar delta-fold algebra, the distinct-CONTENT estimate is a
    * mergeable KMV sketch over the text hash (exact below k distinct),
    * and doc-length p50 comes in BOTH mergeable forms: the bottom-k
    * DISTINCT-VALUE sample ([[graft.functions.BottomKSample]] semantics)
    * and the `histGranularity`-granular EXACT OCCURRENCE quantile from a
    * bounded count histogram ([[graft.functions.LongHistogram]] — the
    * batch card's per-occurrence semantics, exact to within g−1 for
    * lengths under histBuckets·g). `apply` receives the derived card
    * after every batch: (source, n_docs, n_tokens, avg_tokens,
    * est_distinct, p50_distinct_est, p50_tokens).
    *
    * Scale: per-batch work is one groupBy over the delta; the fold
    * touches sources-sized state only. The same merge law as
    * [[incrementalAggregate]] — `merge(partials(A), partials(B)) ≡
    * partials(A ∪ B)` — makes the card identical however the stream is
    * batched (spec-asserted against the one-batch card).
    *
    * RESTART-SAFE: the per-source partials persist to a
    * `{prefix}_card` table (created by the first batch, resumed when
    * present), so a crash between
    * batches loses nothing: the streaming checkpoint skips the
    * already-processed batches AND their counts are already in the
    * table. The table is bounded at one row per source (scalars +
    * two ≤ k-length sketch arrays), so the per-batch overwrite is
    * sources-sized I/O — the merged frame is `localCheckpoint`ed
    * before the overwrite because it reads the very table it
    * replaces (the [[decontaminationStream]] bloom-table
    * discipline). Drop the table to start a fresh card.
    */
  def dataCardStream(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, tablePrefix: String, k: Int = 256,
      histBuckets: Int = 256, histGranularity: Long = 16,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.{BottomKSample, KMinValues, LongHistogram}
    import graft.llmops.PortableHash
    val table = s"${tablePrefix}_card"
    def partials(batch: DataFrame): DataFrame =
      batch.select(col(sourceCol).as("source"),
          size(split(trim(col(textCol)), "\\s+")).cast("long").as("__nt"),
          PortableHash.hash52(col(textCol)).as("__h"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
          KMinValues.sketch(col("__h"), k).as("kmv"),
          BottomKSample.sample(col("__nt"), k).as("qs"),
          LongHistogram.sketch(col("__nt"), histBuckets, histGranularity).as("hist"))
    def mergeCards(a: DataFrame, b: DataFrame): DataFrame =
      a.unionAll(b).groupBy("source").agg(
        sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        KMinValues.mergeSketch(col("kmv"), k).as("kmv"),
        BottomKSample.mergeSample(col("qs"), k).as("qs"),
        LongHistogram.mergeSketch(col("hist"), histBuckets).as("hist"))
    docs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        val p = partials(batch)
        // one row per source → one file per overwrite: the card table is
        // bounded and replaced whole each batch, so it never fragments —
        // coalesce(1) keeps it from scattering its handful of rows across
        // shuffle-partition-many tiny files instead.
        if (!sess.catalog.tableExists(table)) {
          p.coalesce(1).write.format("parquet").saveAsTable(table)
        } else {
          val merged = mergeCards(sess.table(table), p)
            .localCheckpoint(eager = true)
          merged.coalesce(1).write.mode("overwrite").saveAsTable(table)
        }
        sess.catalog.refreshTable(table)
        apply(sess.table(table)
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("n_tokens DIV n_docs").as("avg_tokens"),
            KMinValues.estimate(col("kmv"), k).as("est_distinct"),
            BottomKSample.distinctQuantile(col("qs"), 50).as("p50_distinct_est"),
            graft.functions.LongHistogram.quantileCol(
              col("hist"), col("n_docs"), 50, histGranularity).as("p50_tokens")))
      }
  }

  /** Continuous crawl SEEN-SET maintenance — the streaming home of
    * [[graft.functions.Bloom]] (the sixth maintained state alongside
    * keyword / near-dup / decontamination / ANN / data-card): each
    * micro-batch of arriving URLs is first PROBED against the current
    * filter (`apply` receives (url, might_contain) — `false` is a
    * definitely-new URL the frontier should fetch; `true` is maybe-seen,
    * skip or verify), then OR-merged into the persisted
    * `{prefix}_seen_bloom` word table. Probe-before-merge is the
    * contract: a URL appearing twice WITHIN one batch is not flagged
    * (within-batch exact dedup is a separate, cheaper step); a URL from
    * any PRIOR batch always is (the filter has no false negatives).
    *
    * Scale: the state table is ≤ mBits/32 rows however many URLs ever
    * arrive — it broadcasts in the probe and overwrites WHOLE per batch
    * (the [[dataCardStream]] bounded-state discipline: coalesce(1), no
    * fragmentation, no compaction needed, restart resumes
    * create-if-absent). Merge ≡ build-of-union exactly (OR commutes), so
    * the stream state equals the one-shot batch filter at every point —
    * the parity the spec pins.
    */
  def bloomSeenStream(urls: DataFrame, urlCol: String, tablePrefix: String,
      mBits: Long = 1L << 20, k: Int = 4,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.Bloom
    val table = s"${tablePrefix}_seen_bloom"
    urls.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        // SELF-DESCRIBING state: a filter's bit positions are a function
        // of (mBits, k) — probing or merging with different parameters
        // yields silent FALSE NEGATIVES (wrong bit positions), violating
        // the filter's one law with no detection. The state stamps its
        // parameters in `{prefix}_seen_bloom_meta` (the quantizer_meta
        // precedent); every later batch and every probe verifies first.
        // Seeding is legal only while the STATE table doesn't exist
        // either — stamping the caller's parameters over a pre-existing
        // unstamped (legacy) state would bless exactly the mismatch the
        // stamp prevents; a legacy state must be migrated explicitly.
        verifyBloomMeta(sess, tablePrefix, mBits, k,
          seedIfAbsent = !sess.catalog.tableExists(table))
        val delta = Bloom.build(batch, urlCol, mBits, k)
        val state =
          if (sess.catalog.tableExists(table)) sess.table(table)
          else delta.limit(0) // empty filter: everything probes new
        apply(Bloom.mightContain(state, batch, urlCol, mBits, k))
        val merged = Bloom.merge(state, delta).localCheckpoint(eager = true)
        merged.coalesce(1).write.mode("overwrite").format("parquet")
          .saveAsTable(table)
        sess.catalog.refreshTable(table)
      }
  }

  /** Probe the [[bloomSeenStream]] state WITHOUT re-supplying (mBits, k):
    * the parameters come from the state's own meta table, so a reader
    * cannot mismatch them (the foot-gun a bare [[graft.functions.Bloom
    * .mightContain]] call with default parameters would be — different
    * bit positions, silent false negatives). Throws if the state has no
    * meta stamp (pre-self-description state or wrong prefix).
    */
  def bloomSeenProbe(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, probes: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.Bloom
    val metaT = s"${tablePrefix}_seen_bloom_meta"
    require(spark.catalog.tableExists(metaT),
      s"no bloom meta table $metaT — the seen-set state is unstamped or the prefix is wrong")
    spark.catalog.refreshTable(metaT)
    spark.catalog.refreshTable(s"${tablePrefix}_seen_bloom")
    val m = spark.table(metaT).head()
    Bloom.mightContain(spark.table(s"${tablePrefix}_seen_bloom"), probes,
      keyCol, m.getAs[Long]("m_bits"), m.getAs[Int]("k"))
  }

  /** Require the stamped (mBits, k) to equal the caller's; seed the stamp
    * on first contact when asked. A mismatch THROWS — wrong parameters
    * must never reach a probe or merge. Runs [[StateTable.heal]] first,
    * so every writer of the pair completes an interrupted rotation before use.
    */
  private def verifyBloomMeta(sess: org.apache.spark.sql.SparkSession,
      tablePrefix: String, mBits: Long, k: Int, seedIfAbsent: Boolean): Unit = {
    import sess.implicits._
    val metaT = s"${tablePrefix}_seen_bloom_meta"
    StateTable.heal(sess, Seq(s"${tablePrefix}_seen_bloom", metaT))
    if (sess.catalog.tableExists(metaT)) {
      sess.catalog.refreshTable(metaT)
      val m = sess.table(metaT).head()
      val (sm, sk) = (m.getAs[Long]("m_bits"), m.getAs[Int]("k"))
      require(sm == mBits && sk == k,
        s"bloom parameter mismatch for $tablePrefix: state is (mBits=$sm, k=$sk), " +
          s"caller passed (mBits=$mBits, k=$k) — probing/merging across parameters " +
          "produces silent false negatives")
    } else if (seedIfAbsent) {
      // generation 0 — rotated forward by [[frontierNewGeneration]];
      // pre-generation metas (no column) read as 0 via bloomGeneration.
      Seq((mBits, k, 0L)).toDF("m_bits", "k", "generation")
        .coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(metaT)
      sess.catalog.refreshTable(metaT)
    } else {
      // state exists but carries no stamp: stamping the CALLER'S
      // parameters over it would bless exactly the mismatch the stamp
      // prevents — migration must be explicit.
      throw new IllegalStateException(
        s"${tablePrefix}_seen_bloom exists without a meta stamp (legacy " +
          "state) — write the (m_bits, k) it was built with into " +
          s"$metaT before streaming into it")
    }
  }

  /** The seen-set's generation: 0 until the first rotation;
    * pre-generation meta stamps (r12 state) read as 0.
    */
  def bloomGeneration(sess: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Long = {
    val metaT = s"${tablePrefix}_seen_bloom_meta"
    require(sess.catalog.tableExists(metaT), s"no meta stamp at $metaT")
    sess.catalog.refreshTable(metaT)
    val m = sess.table(metaT).head()
    if (m.schema.fieldNames.contains("generation"))
      m.getAs[Long]("generation") else 0L
  }

  /** Rotate the frontier's seen-set to a NEW CRAWL GENERATION — the
    * freshness mechanism the adjudicated-once law needs to coexist
    * with a standing crawl: within a generation every canonical URL is
    * adjudicated exactly once (fetched or denied, it never re-enters);
    * rotating starts the next cycle, and URLs fetched in PRIOR
    * generations become eligible for re-discovery and re-fetch.
    *
    * Mechanics: the Bloom seen-set REBUILDS from the still-QUEUED
    * frontier urls (they are pending work — without the reseed a
    * re-discovery would duplicate them in the queue), the meta stamp's
    * `generation` increments, and everything else (queue contents,
    * bloom parameters) carries over. One queue-sized Bloom build +
    * two bounded writes, staged and swapped in with [[StateTable.swap]]:
    * a crash while building leaves the live bloom and its generation
    * stamp untouched and mutually consistent, and a crash inside the
    * swap is completed on the next contact with the state
    * (verifyBloomMeta → [[StateTable.heal]]). So either the old pair
    * serves, or the new pair does after one self-heal — never a
    * half-rotated mix that persists. Run at re-crawl cadence (days),
    * never per batch. Returns the new generation number.
    *
    * The adjudicated-once stance for DENIED urls is preserved per
    * generation and only per generation — a robots-denied URL is
    * reconsidered after rotation under the CURRENT rules, which is the
    * correct freshness semantic (policies change between cycles; the
    * r12 answer "a new prefix = a new cycle" forced a full re-crawl to
    * get it).
    */
  def frontierNewGeneration(sess: org.apache.spark.sql.SparkSession,
      tablePrefix: String, mBits: Long = 1L << 20, k: Int = 4): Long = {
    import sess.implicits._
    import graft.functions.Bloom
    verifyBloomMeta(sess, tablePrefix, mBits, k, seedIfAbsent = false)
    val frontierT = s"${tablePrefix}_frontier"
    val gen = bloomGeneration(sess, tablePrefix) + 1L
    StateTable.swap(sess,
        Seq(s"${tablePrefix}_seen_bloom", s"${tablePrefix}_seen_bloom_meta")) {
      case Seq(bloomS, metaS) =>
        val queued =
          if (sess.catalog.tableExists(frontierT)) {
            sess.catalog.refreshTable(frontierT)
            sess.table(frontierT).select("url")
          } else sess.emptyDataset[String].toDF("url")
        Bloom.build(queued, "url", mBits, k).localCheckpoint(eager = true)
          .coalesce(1).write.format("parquet").saveAsTable(bloomS)
        Seq((mBits, k, gen)).toDF("m_bits", "k", "generation")
          .coalesce(1).write.format("parquet").saveAsTable(metaS)
    }
    gen
  }

  /** Continuous crawl FRONTIER — the SEVENTH maintained state, closing
    * the crawl loop as ingest the way [[curationStream]] closed the
    * curation cascade: micro-batches of DISCOVERED LINKS (from
    * [[graft.llmops.TextAnalysis.extractLinks]] /
    * [[graft.llmops.TextAnalysis.parseSitemaps]]) flow through
    * canonicalize → within-batch collapse → robots policy → seen-set
    * probe, and the survivors enqueue. Per batch:
    *
    *   1. URLs canonicalize ([[graft.llmops.TextAnalysis.canonicalUrl]])
    *      and collapse per canonical form (max priority wins — two
    *      spellings of one page are one frontier entry);
    *   2. [[graft.llmops.TextAnalysis.robotsFilter]] adjudicates against
    *      the caller's compiled `rules` (broadcast, hosts × a-few-rows);
    *   3. the shared Bloom seen-set (the [[bloomSeenStream]] state —
    *      same tables, same self-describing meta stamp, same
    *      mismatch-throws) drops every URL adjudicated by ANY prior
    *      batch;
    *   4. allowed, definitely-new URLs append to `{prefix}_frontier`
    *      (url, host, priority); ALL canonical batch URLs — allowed or
    *      not — merge into the Bloom. Adjudicated-once semantics,
    *      stated: WITHIN A GENERATION a robots-denied URL is never
    *      reconsidered even if the policy later changes. Freshness
    *      lives one level up: [[frontierNewGeneration]] rotates the
    *      seen-set for the next crawl cycle — fetched and denied URLs
    *      become re-discoverable under the then-current rules, while
    *      still-queued URLs stay deduplicated (the Bloom reseeds from
    *      the queue).
    *
    * Serve the fetch plan with [[frontierWaves]]; retire fetched URLs
    * with [[frontierDequeue]]. Restarts resume create-if-absent; the
    * frontier table self-heals fragmentation like every appending state.
    *
    * Scale: rules broadcast; the Bloom state is ≤ mBits/32 rows whatever
    * arrives; the batch pipeline is batch-sized (canonicalize is a
    * codegen'd projection, the collapse one keyed agg); the frontier
    * append is survivor-sized. Nothing corpus-global shuffles.
    */
  def frontierStream(links: DataFrame, urlCol: String, priorityCol: String,
      tablePrefix: String, rules: DataFrame,
      mBits: Long = 1L << 20, k: Int = 4,
      maxStateFiles: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.Bloom
    import graft.llmops.TextAnalysis
    val frontierT = s"${tablePrefix}_frontier"
    val bloomT = s"${tablePrefix}_seen_bloom"
    links.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        verifyBloomMeta(sess, tablePrefix, mBits, k,
          seedIfAbsent = !sess.catalog.tableExists(bloomT))
        val state =
          if (sess.catalog.tableExists(bloomT)) sess.table(bloomT)
          else Bloom.build(batch.limit(0)
            .select(lit("").as("url")), "url", mBits, k).limit(0)
        val (enqueue, merged) = frontierStep(batch, urlCol, priorityCol,
          rules, state, mBits, k)
        enqueue.write.mode("append").format("parquet").saveAsTable(frontierT)
        merged.localCheckpoint(eager = true)
          .coalesce(1).write.mode("overwrite").format("parquet")
          .saveAsTable(bloomT)
        sess.catalog.refreshTable(bloomT)
        sess.catalog.refreshTable(frontierT)
        selfHeal(sess, maxStateFiles, 8, Nil, Seq(frontierT))
      }
  }

  /** One frontier adjudication pass — extracted so the stream's
    * foreachBatch and the batch-mode oracle replay share it VERBATIM
    * (the [[curationStream]]/curationStep rule): canonical collapse
    * (max priority), robots policy, seen-set probe. Returns (enqueue
    * rows (url, host, priority), merged bloom state).
    */
  def frontierStep(batch: DataFrame, urlCol: String, priorityCol: String,
      rules: DataFrame, state: DataFrame,
      mBits: Long, k: Int): (DataFrame, DataFrame) = {
    import graft.functions.Bloom
    import graft.llmops.TextAnalysis
    // the canonical collapse feeds the robots join, the probe AND the
    // bloom delta — one materialization (the two-consumer rule)
    val cand = batch
      .select(TextAnalysis.canonicalUrl(col(urlCol)).as("url"),
        col(priorityCol).as("priority"))
      .groupBy("url").agg(max("priority").as("priority"))
      .withColumn("host", TextAnalysis.urlHost(col("url")))
      .localCheckpoint(eager = true)
    val fresh = Bloom.mightContain(state, cand.select("url"), "url",
      mBits, k).filter(!col("might_contain")).select("url")
    val allowed = TextAnalysis.robotsFilter(cand, "url", rules)
      .filter(col("allowed")).select("url")
    val enqueue = cand.join(fresh, Seq("url"), "left_semi")
      .join(allowed, Seq("url"), "left_semi")
      .select("url", "host", "priority")
    (enqueue, Bloom.merge(state, Bloom.build(cand, "url", mBits, k)))
  }

  /** The current fetch plan over the live [[frontierStream]] state:
    * [[graft.llmops.TextAnalysis.crawlWaves]] politeness waves over the
    * frontier table (authority-or-whatever priority the stream stored),
    * optionally only the first `maxWave + 1` waves. The hot-host-proof
    * bucketed rank spine applies unchanged.
    */
  def frontierWaves(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, perHostPerWave: Int,
      maxWave: Long = Long.MaxValue): DataFrame = {
    val t = s"${tablePrefix}_frontier"
    spark.catalog.refreshTable(t)
    graft.llmops.TextAnalysis.crawlWaves(spark.table(t), "url", "host",
        "priority", perHostPerWave)
      .filter(col("wave") <= maxWave)
  }

  /** Retire fetched URLs from the frontier (they stay in the Bloom, so
    * re-discoveries still skip): one anti-join + whole-table rewrite —
    * the [[compactStateTable]] checkpoint-then-overwrite shape, O(table)
    * per call, so dequeue per WAVE, not per URL. Returns rows remaining.
    */
  def frontierDequeue(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, fetched: DataFrame, urlCol: String): Long = {
    val t = s"${tablePrefix}_frontier"
    spark.catalog.refreshTable(t)
    val remaining = spark.table(t)
      .join(fetched.select(col(urlCol).as("url")).distinct(),
        Seq("url"), "left_anti")
      .localCheckpoint(eager = true)
    remaining.coalesce(8).write.mode("overwrite").format("parquet")
      .saveAsTable(t)
    spark.catalog.refreshTable(t)
    remaining.count()
  }

  /** Deliberately RE-ENQUEUE adjudicated URLs into the live frontier
    * WITHOUT touching the seen-set — the per-URL freshness path
    * ([[graft.llmops.TextAnalysis.revisitPlan]] output) between
    * "adjudicated once" (the stream's bloom probe drops every organic
    * re-discovery) and "rotate everything" ([[frontierNewGeneration]]).
    * The bloom stays intact, so organic re-discoveries of these URLs
    * still skip; only the scheduler's explicit plan re-queues them, and
    * URLs already in the queue dedupe (one anti-join). Run at revisit
    * cadence, plan-sized append. Returns rows appended.
    */
  def frontierReenqueue(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, plan: DataFrame): Long = {
    val t = s"${tablePrefix}_frontier"
    spark.catalog.refreshTable(t)
    val fresh = plan
      .groupBy("url")
      .agg(max("host").as("host"), max("priority").as("priority"))
      .join(spark.table(t), Seq("url"), "left_anti")
      .select("url", "host", "priority")
      .localCheckpoint(eager = true)
    fresh.write.mode("append").format("parquet").saveAsTable(t)
    spark.catalog.refreshTable(t)
    fresh.count()
  }

  /** Refresh queued-URL priorities from a new authority table — the
    * [[graft.analytics.GraphAnalytics.pageRankKeys]] detect→act loop
    * closed for the LIVE frontier (the IVF-rebuild discipline): ranks
    * recompute periodically as the link graph grows, and the queue's
    * yet-unfetched URLs should dispatch under the NEW ranks, not the
    * ones they arrived with. `hostPriorities` is (host, priority),
    * host-cardinality → broadcast; hosts absent from it keep their
    * stored priority. One join + whole-table rewrite (the
    * [[frontierDequeue]] cost shape — run it at rank-refresh cadence,
    * not per batch). Returns rows updated (= table size).
    */
  def frontierReprioritize(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, hostPriorities: DataFrame): Long = {
    val t = s"${tablePrefix}_frontier"
    spark.catalog.refreshTable(t)
    val updated = spark.table(t)
      .join(broadcast(hostPriorities
        .select(col("host"), col("priority").as("__np"))), Seq("host"), "left")
      .withColumn("priority", coalesce(col("__np"), col("priority")))
      .drop("__np")
      .select("url", "host", "priority")
      .localCheckpoint(eager = true)
    updated.coalesce(8).write.mode("overwrite").format("parquet")
      .saveAsTable(t)
    spark.catalog.refreshTable(t)
    updated.count()
  }

  /** Drift probe over the LIVE [[dataCardStream]] state: PSI of each
    * source's current doc-length histogram against a frozen REFERENCE
    * card snapshot (persist `spark.table("{prefix}_card")` at
    * calibration time — the quality gate's thresholds, the mixture
    * weights and the quota sizes were all fit to THAT distribution).
    * One bounded-state join ([[graft.llmops.Corpus.psiFromHistograms]]),
    * no corpus rescan: the histograms were paid for incrementally by the
    * stream. Read it on a monitoring cadence; a source crossing the
    * PSI 0.25 threshold is the "act" signal — re-fit the gate
    * ([[graft.llmops.TextAnalysis.gateThresholds]]) and re-check the
    * mixture for that source.
    */
  def dataCardDrift(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, reference: DataFrame): DataFrame = {
    // the stream overwrites the card per micro-batch on ITS session —
    // drop any stale file listing this (monitoring) session cached.
    spark.catalog.refreshTable(s"${tablePrefix}_card")
    graft.llmops.Corpus.psiFromHistograms(
        spark.table(s"${tablePrefix}_card"), reference, "source")
      .withColumnRenamed("key", "source")
  }

  /** The FULL curation cascade as a continuous-ingest stream — the
    * production shape of [[graft.llmops.Curation.ledger]]: every
    * micro-batch of new documents runs blocklist → quality gate →
    * within-batch exact dedup → near-dup (within batch AND against the
    * accepted corpus index, the [[dedupStream]] probe) → decontamination
    * against the [[decontaminationStream]] state → incremental per-source
    * quota, appends the accepted documents (plus their dedup index rows)
    * to the corpus tables, and appends one verdict row per input document
    * to `{prefix}_ledger` — the governance trail accumulates with the
    * corpus.
    *
    * Stage semantics vs the batch ledger, stated where they differ:
    *   - `near_dup` covers both within-batch cluster losers and
    *     accepted-corpus near-dups (one label — the batch operator
    *     separates exact/near only within one corpus snapshot);
    *   - `quota` is ARRIVAL-ORDER greedy (first `quota` accepted docs per
    *     source across the stream's lifetime, doc-id order within a
    *     batch), not the batch operator's smallest-hash sample — a stream
    *     cannot un-accept yesterday's documents; counts persist in
    *     `{prefix}_source_counts`;
    *   - decontamination state is whatever the companion
    *     [[decontaminationStream]] (same prefix) has absorbed so far —
    *     absent/empty state degrades the stage to a no-op.
    *
    * Per-batch work: the gate + md5 + minhash on the DELTA, one bands
    * probe, one bloom probe, all writes append-only except the bounded
    * source-counts and bloom tables. Restart resumes every table through
    * [[StateTable.open]]. The per-batch cascade itself is
    * [[graft.llmops.Curation.curationStep]] — shared with the
    * `q_x_curation_stream` batch-replay oracle, so the stream's stage
    * semantics are DuckDB-checked end to end. The bands table is
    * bucketed by (band, sig) like [[dedupStream]]'s, so the probe never
    * shuffles the accumulated index.
    */
  def curationStream(newDocs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, blockedSources: Seq[String], quota: Int,
      tablePrefix: String,
      minTokens: Long = 5, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      minTypeToken: Double = 0.2, maxDupGramFrac: Double = 0.75,
      maxJaccardDist: Double = 0.3, numHashTables: Int = 5, n: Int = 3,
      contamN: Int = 5, mBits: Int = 1 << 20, kProbes: Int = 4,
      stateBuckets: Int = 8, maxStateFiles: Int = 64,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.llmops.Dedup
    val spark = newDocs.sparkSession
    val id = newDocs.schema(idCol).dataType.sql
    val (docsT, shT, bandT) =
      (s"${tablePrefix}_docs", s"${tablePrefix}_shingles", s"${tablePrefix}_bands")
    val (ledgerT, countsT) = (s"${tablePrefix}_ledger", s"${tablePrefix}_source_counts")
    val (benchShT, bloomT) = (s"${tablePrefix}_bench_shingles", s"${tablePrefix}_bloom")
    StateTable.open(spark, docsT, fromDDL(s"doc $id, text string, source string"))
    openDedupIndex(spark, tablePrefix, id, stateBuckets)
    StateTable.open(spark, ledgerT, fromDDL(
      s"doc $id, source string, stage string, quality_reason string, kept boolean"))
    StateTable.open(spark, countsT, fromDDL("source string, n bigint"))
    openDecontaminationState(spark, tablePrefix)
    newDocs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        val b0 = batch.select(col(idCol).as("doc"), col(textCol).as("text"),
          col(sourceCol).cast("string").as("source")).localCheckpoint(true)
        val (accepted, ledger) = graft.llmops.Curation.curationStep(b0,
          sess.table(shT), sess.table(bandT), sess.table(countsT),
          sess.table(benchShT), sess.table(bloomT),
          blockedSources, quota, minTokens, maxTokens, minAvgTokenLen,
          maxAvgTokenLen, minTypeToken, maxDupGramFrac, maxJaccardDist,
          numHashTables, n, contamN, mBits, kProbes)
        // state updates: corpus + index append, counts merge, ledger append.
        accepted.select("doc", "text", "source").write.mode("append").saveAsTable(docsT)
        // index rows in the shingleIndexRows shape: per-doc hash array
        // (the verify side) + banded sigs (the probe side), the columns
        // the step built for its own near-dup probe — the accepted
        // documents are not shingled again and the state is never
        // re-aggregated per batch.
        accepted.select("doc", "hs").write.mode("append").saveAsTable(shT)
        Dedup.indexBandRows(accepted)
          .write.mode("append")
          .bucketBy(stateBuckets, "band", "sig").sortBy("band", "sig")
          .saveAsTable(bandT)
        val newCounts = sess.table(countsT)
          .unionAll(accepted.groupBy("source").agg(count(lit(1)).as("n")))
          .groupBy("source").agg(sum("n").as("n")).localCheckpoint(true)
        newCounts.write.mode("overwrite").saveAsTable(countsT)
        ledger.write.mode("append").saveAsTable(ledgerT)
        Seq(docsT, shT, bandT, countsT, ledgerT).foreach(sess.catalog.refreshTable)
        // counts/bloom are bounded overwrite-per-batch tables — they never
        // fragment; bench_shingles is the decontaminationStream's to heal.
        selfHeal(sess, maxStateFiles, stateBuckets,
          Seq(bandT -> Seq("band", "sig")), Seq(docsT, shT, ledgerT))
        apply(sess.table(ledgerT))
      }
  }

  /** Streaming inverted-index maintenance: each micro-batch of NEW
    * documents appends its (term, doc, tf) posting rows to
    * `{prefix}_postings` — term frequencies are per-document facts, so
    * index maintenance for arriving documents is pure APPEND, O(batch
    * tokens) per batch, no read-modify-write of existing postings.
    * Serve queries any time with [[searchIndexState]] (identical to
    * [[graft.llmops.Retrieval.searchTopK]] over every document streamed
    * so far — spec-asserted) or materialize the per-term summary with
    * `Retrieval.indexFromPostings(spark.table(...))`. Restarts resume
    * through [[StateTable.open]]; document ids must be new each batch.
    *
    * The postings table is BUCKETED by term (`stateBuckets`): the scan
    * carries HashPartitioning(term), so the per-term summary
    * ([[graft.llmops.Retrieval.indexFromPostings]]) aggregates with NO
    * Exchange (PlanSpec pins it), and a term-keyed probe co-locates
    * with the state without shuffling it. Appends carry the same bucket
    * spec — the layout survives any number of micro-batches.
    */
  def indexStream(docs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, stateBuckets: Int = 8, maxStateFiles: Int = 64,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val table = s"${tablePrefix}_postings"
    StateTable.open(docs.sparkSession, table, fromDDL(
      s"term string, doc ${docs.schema(idCol).dataType.sql}, tf bigint"),
      Seq("term"), stateBuckets)
    docs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        graft.llmops.Retrieval.termFreqs(batch, idCol, textCol)
          .select("term", "doc", "tf")
          .write.mode("append")
          .bucketBy(stateBuckets, "term").sortBy("term")
          .saveAsTable(table)
        sess.catalog.refreshTable(table)
        selfHeal(sess, maxStateFiles, stateBuckets,
          Seq(table -> Seq("term")), Nil)
        apply(sess.table(table))
      }
  }

  /** Query the [[indexStream]] state: identical results to a one-shot
    * `searchTopK` over every document streamed so far. `maxDf` threads
    * through to [[graft.llmops.Retrieval.searchPostings]]'s stop-term
    * guard: query terms above the df cap are dropped against the per-term
    * summary BEFORE the probe, so a stop-term query never drags its
    * O(corpus) posting rows through the candidate join.
    */
  def searchIndexState(queries: DataFrame, qidCol: String, qtextCol: String,
      tablePrefix: String, k: Int = 5, minMatch: Int = 1,
      maxDf: Long = Long.MaxValue): DataFrame = {
    // the stream appends on ITS session — drop any stale file listing
    // this (reader) session cached between batches (the dataCardDrift
    // discipline; a reader that touched the table once would otherwise
    // serve the old snapshot forever).
    queries.sparkSession.catalog.refreshTable(s"${tablePrefix}_postings")
    graft.llmops.Retrieval.searchPostings(
      queries.sparkSession.table(s"${tablePrefix}_postings"),
      queries, qidCol, qtextCol, k, minMatch, maxDf)
  }

  /** Streaming vector (IVF) index — the fourth streaming index alongside
    * the keyword ([[indexStream]]), near-dup ([[dedupStream]]) and
    * decontamination ([[decontaminationStream]]) state: embeddings ARRIVE
    * over time and the ANN serving index has to absorb them without a
    * corpus rebuild. Nearest-centroid cell assignment is per-vector and
    * deterministic ([[graft.llmops.Similarity.assignCells]] — batch-
    * invariant by construction), so index maintenance is pure APPEND of
    * the batch's (cell, cid, cvec, cn) rows; the quantizer itself is
    * FROZEN at stream creation (`{prefix}_centroids`, created from
    * `centroids` only when absent — re-training the quantizer is a
    * rebuild, not a stream operation, exactly like production IVF
    * deployments). Serve any time with [[annIndexState]] ≡ a one-shot
    * [[graft.llmops.Similarity.ivfTopK]] with the same centroids over
    * every vector streamed so far (spec-asserted).
    *
    * The cells table is BUCKETED by cell: the probe's equi-join reads
    * HashPartitioning(cell) straight off the scan, so queries never
    * shuffle the accumulated index (only the broadcast-sized probe list
    * moves; plan-pinned). Restarts resume through [[StateTable.open]]
    * after completing an interrupted [[rebuildQuantizer]] swap (so never
    * during a rebuild); vector ids must be new each batch.
    */
  def annIndexStream(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, tablePrefix: String, stateBuckets: Int = 8,
      maxStateFiles: Int = 64,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = vecs.sparkSession
    val (centT, cellT) = healQuantizer(spark, tablePrefix)
    val seed = centroids.select(col("cent_id"), col("centvec"))
    StateTable.open(spark, centT, seed.schema, seed = Some(seed))
    StateTable.open(spark, cellT, graft.llmops.Similarity.assignCells(
      vecs, seed, idCol, vecCol).schema, Seq("cell"), stateBuckets)
    vecs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        graft.llmops.Similarity.assignCells(batch, sess.table(centT), idCol, vecCol)
          .write.mode("append")
          .bucketBy(stateBuckets, "cell").sortBy("cell")
          .saveAsTable(cellT)
        sess.catalog.refreshTable(cellT)
        selfHeal(sess, maxStateFiles, stateBuckets,
          Seq(cellT -> Seq("cell")), Nil)
        apply(sess.table(cellT))
      }
  }

  /** The AUTOMATED rebuild trigger — [[graft.llmops.Similarity.cellStats]]'
    * documented heuristic, executed instead of narrated: reads the live
    * cell/centroid state, computes max occupancy skew and the occupancy-
    * weighted mean cosine distance, compares against the CALIBRATION
    * snapshot stored in `{prefix}_quantizer_meta`, and — when
    * `max(occ_ratio) ≥ maxSkew` or `weighted mean_cdist ≥ cdistFactor ×
    * calibration` — runs [[rebuildQuantizer]] and re-seeds the
    * calibration row from the rebuilt state. The first call seeds the
    * meta table and never rebuilds (there is no baseline to drift
    * from). Returns whether a rebuild ran. Run it on the same
    * monitoring cadence as [[dataCardDrift]]; cost when nothing fires
    * is one cellStats pass (broadcast join + bounded aggs).
    */
  def maybeRebuild(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, nlist: Int, iters: Int, stateBuckets: Int = 8,
      maxSkew: Double = 4.0, cdistFactor: Double = 2.0): Boolean = {
    import spark.implicits._
    val metaT = s"${tablePrefix}_quantizer_meta"
    val (centT, cellT) = healQuantizer(spark, tablePrefix)
    def gauges(): (Double, Double) = {
      Seq(cellT, centT).foreach(spark.catalog.refreshTable)
      val st = graft.llmops.Similarity.cellStats(spark.table(cellT), spark.table(centT))
        .na.fill(0.0, Seq("mean_cdist")).collect()
      val tot = math.max(1L, st.map(_.getAs[Long]("n")).sum).toDouble
      (st.map(_.getAs[Double]("occ_ratio")).foldLeft(0.0)(math.max),
        st.map(r => r.getAs[Long]("n") * r.getAs[Double]("mean_cdist")).sum / tot)
    }
    def seed(wCdist: Double): Unit =
      Seq(wCdist).toDF("calib_w_cdist")
        .write.mode("overwrite").format("parquet").saveAsTable(metaT)
    val (skew, wCdist) = gauges()
    if (!spark.catalog.tableExists(metaT)) {
      seed(wCdist)
      false
    } else {
      spark.catalog.refreshTable(metaT)
      val calib = spark.table(metaT).head().getDouble(0)
      // a zero calibration (perfect initial assignment) drifts at the
      // first nonzero distance — the epsilon floor keeps the ratio form.
      val fire = skew >= maxSkew ||
        wCdist >= cdistFactor * math.max(calib, 1e-12)
      if (fire) {
        rebuildQuantizer(spark, tablePrefix, nlist, iters, stateBuckets)
        seed(gauges()._2)
      }
      fire
    }
  }

  /** REBUILD the [[annIndexStream]] quantizer in place — the remediation
    * path [[graft.llmops.Similarity.cellStats]]'s drift heuristic has
    * been pointing at with no operator to execute it: re-train on every
    * vector streamed so far, re-assign the whole cells table, and swap
    * both state tables so the stream and every [[annIndexState]] reader
    * pick the new quantizer up transparently ([[annIndexStream]] reads
    * `{prefix}_centroids` fresh each micro-batch, so post-rebuild
    * appends assign against the NEW centroids with no stream restart).
    *
    * Swap discipline ([[StateTable.swap]]): the new tables are STAGED as
    * fully written twins while the live ones still serve, then swapped
    * in by a DROP + RENAME per table. A crash before the swap leaves the
    * live state untouched; a crash inside it is completed by
    * [[StateTable.heal]], which the stream start, [[maybeRebuild]] and
    * this method (one at a time) run first — so the index comes back
    * with the old quantizer or the new, never a missing or emptied cells
    * table; [[annIndexState]] throws meanwhile. `stateBuckets` must match
    * the stream's (the no-Exchange probe needs the bucketed-by-cell
    * layout, and the stream's resume check refuses any other).
    *
    * Returns the new centroid table (cent_id, centvec).
    */
  def rebuildQuantizer(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, nlist: Int, iters: Int,
      stateBuckets: Int = 8): DataFrame = {
    val (centT, cellT) = healQuantizer(spark, tablePrefix)
    // checkpointed inside rebuildQuantizer BEFORE any table mutation
    val (newCent, newCells) =
      graft.llmops.Similarity.rebuildQuantizer(spark.table(cellT), nlist, iters)
    StateTable.swap(spark, Seq(centT, cellT)) { case Seq(centS, cellS) =>
      newCent.write.format("parquet").saveAsTable(centS)
      newCells.repartition(stateBuckets, col("cell"))
        .write.format("parquet")
        .bucketBy(stateBuckets, "cell").sortBy("cell")
        .saveAsTable(cellS)
    }
    spark.table(centT)
  }

  /** Query the [[annIndexStream]] state: identical results to a one-shot
    * `ivfTopK` (same frozen centroids) over every vector streamed so far.
    * Read-only: throws while a [[rebuildQuantizer]] swap (or a crash in
    * one, until the next stream start heals it) has a table dropped.
    */
  def annIndexState(queries: DataFrame, tablePrefix: String, k: Int,
      nprobe: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val (centT, cellT) = (s"${tablePrefix}_centroids", s"${tablePrefix}_cells")
    // reader-side staleness guard (the dataCardDrift discipline): the
    // stream appends — and [[rebuildQuantizer]] SWAPS — these tables on
    // other sessions; a reader that cached a listing must re-list.
    Seq(cellT, centT).foreach(spark.catalog.refreshTable)
    graft.llmops.Similarity.ivfProbe(spark.table(cellT), spark.table(centT),
      queries, k, nprobe, idCol, vecCol)
  }

  /** The [[annIndexStream]] tables (centroids, cells), after completing a
    * [[rebuildQuantizer]] swap a crash interrupted ([[StateTable.heal]]).
    */
  private def healQuantizer(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): (String, String) = {
    val (centT, cellT) = (s"${tablePrefix}_centroids", s"${tablePrefix}_cells")
    StateTable.heal(spark, Seq(centT, cellT))
    (centT, cellT)
  }

  /** Streaming decontamination state: eval suites ARRIVE over time (a new
    * benchmark lands, the blocklist of exam questions grows), and the
    * guard has to incorporate them without rebuilding from scratch. Each
    * micro-batch of BENCHMARK documents appends its new distinct shingles
    * to `{prefix}_bench_shingles` (the exact-verify index) and bit_or-
    * merges its Bloom words into `{prefix}_bloom` — which stays ≤
    * mBits/64 rows by construction, so the per-batch rewrite of that
    * table is BOUNDED (128 KiB of longs at 2²⁰ bits) no matter how many
    * suites accumulate. Training frames are then checked any time with
    * [[decontaminateAgainstState]], which is row-for-row identical to a
    * from-scratch [[graft.llmops.Dedup.decontaminateBloom]] over the
    * union of every streamed batch (spec-asserted). Restarts resume
    * through [[StateTable.open]].
    */
  def decontaminationStream(benchDocs: DataFrame, idCol: String,
      textCol: String, tablePrefix: String, n: Int = 5,
      mBits: Int = 1 << 20, kProbes: Int = 4, maxStateFiles: Int = 64,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val (shT, blT) = (s"${tablePrefix}_bench_shingles", s"${tablePrefix}_bloom")
    openDecontaminationState(benchDocs.sparkSession, tablePrefix)
    benchDocs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        // only genuinely NEW shingles enter the index (append-only dedup).
        val fresh = graft.llmops.Dedup.xxShingleRows(batch, idCol, textCol, n)
          .select("s").distinct()
          .join(sess.table(shT), Seq("s"), "left_anti")
          .localCheckpoint(eager = true)
        // merged word table: bounded at mBits/64 rows — materialize BEFORE
        // overwriting the table it reads.
        val merged = sess.table(blT)
          .unionAll(graft.llmops.Dedup.bloomWordTable(fresh, mBits, kProbes))
          .groupBy("w").agg(bit_or(col("bits")).as("bits"))
          .localCheckpoint(eager = true)
        fresh.write.mode("append").saveAsTable(shT)
        merged.write.mode("overwrite").saveAsTable(blT)
        Seq(shT, blT).foreach(sess.catalog.refreshTable)
        // bloom is a bounded overwrite-per-batch table; only the appending
        // shingle index fragments.
        selfHeal(sess, maxStateFiles, 8, Nil, Seq(shT))
        apply(sess.table(blT))
      }
  }

  /** Check a training frame against the [[decontaminationStream]] state:
    * identical semantics to a one-shot `decontaminateBloom` over every
    * benchmark document streamed so far.
    */
  def decontaminateAgainstState(train: DataFrame, idCol: String,
      textCol: String, tablePrefix: String, n: Int = 5,
      mBits: Int = 1 << 20, kProbes: Int = 4): DataFrame = {
    val spark = train.sparkSession
    // reader-side staleness guard (the dataCardDrift discipline).
    spark.catalog.refreshTable(s"${tablePrefix}_bench_shingles")
    spark.catalog.refreshTable(s"${tablePrefix}_bloom")
    graft.llmops.Dedup.decontaminateBloomWith(train, idCol, textCol,
      spark.table(s"${tablePrefix}_bench_shingles"),
      spark.table(s"${tablePrefix}_bloom"), n, mBits, kProbes)
  }

  /** Streaming incremental near-dup dedup: every micro-batch of new
    * documents runs [[graft.llmops.Dedup.incrementalDedupStep]] against
    * the persisted corpus INDEX and appends its accepted documents (plus
    * their index rows) — the continuous-ingest twin of the daily
    * cross-corpus dedup, with greedy arrival-order semantics.
    *
    * State = three append-only tables: `{prefix}_docs` (doc, text),
    * `{prefix}_shingles` (doc, hs — the per-doc distinct-hash array,
    * [[graft.llmops.Dedup.shingleIndexRows]]), `{prefix}_bands`
    * (doc, band, sig) — opened with [[StateTable.open]]: created empty,
    * or resumed after a layout check. Per-batch I/O is
    * O(|batch|) work + one equi-join probe of the batch's bands against
    * the index and APPEND-only writes of the survivors' rows; the corpus
    * text is never rescanned and never rewritten.
    *
    * The bands table is BUCKETED by (band, sig) — the probe's join keys —
    * so the scan comes up with HashPartitioning(band, sig) and the
    * per-batch probe joins WITHOUT an Exchange on the state side (only
    * the micro-batch's bands, tiny by definition, shuffle to match;
    * PlanSpec pins it). Appends carry the same bucket spec — a bucketed
    * scan groups same-bucket files across appends, so the layout
    * survives any number of micro-batches; this is the documented
    * 100 TB layout made the default. `stateBuckets` sizes it (per-bucket
    * state ≈ |corpus|·H/buckets band rows).
    */
  def dedupStream(newDocs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, maxJaccardDist: Double = 0.3,
      numHashTables: Int = 5, n: Int = 3, stateBuckets: Int = 8,
      maxStateFiles: Int = 64,
      apply: DataFrame => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = newDocs.sparkSession
    val id = newDocs.schema(idCol).dataType.sql
    val (docsT, shT, bandT) =
      (s"${tablePrefix}_docs", s"${tablePrefix}_shingles", s"${tablePrefix}_bands")
    StateTable.open(spark, docsT, fromDDL(s"doc $id, text string"))
    openDedupIndex(spark, tablePrefix, id, stateBuckets)
    newDocs.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sess = batch.sparkSession
        // survivors carry their own index rows (doc, text, hs, sigs) —
        // see curationStream.
        val survivors = graft.llmops.Dedup.incrementalDedupStep(
            batch, idCol, textCol, sess.table(shT), sess.table(bandT),
            maxJaccardDist, numHashTables, n)
          .localCheckpoint(eager = true)
        survivors.select("doc", "text").write.mode("append").saveAsTable(docsT)
        survivors.select("doc", "hs").write.mode("append").saveAsTable(shT)
        graft.llmops.Dedup.indexBandRows(survivors)
          .write.mode("append")
          .bucketBy(stateBuckets, "band", "sig").sortBy("band", "sig")
          .saveAsTable(bandT)
        Seq(docsT, shT, bandT).foreach(sess.catalog.refreshTable)
        selfHeal(sess, maxStateFiles, stateBuckets,
          Seq(bandT -> Seq("band", "sig")), Seq(docsT, shT))
        apply(sess.table(docsT))
      }
  }

  /** Open the near-dup index [[dedupStream]] and [[curationStream]] share:
    * `{prefix}_shingles` (doc, hs) and `{prefix}_bands` bucketed by the
    * probe keys (band, sig). `id` is the doc id's SQL type.
    */
  private def openDedupIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, id: String, buckets: Int): Unit = {
    StateTable.open(spark, s"${tablePrefix}_shingles", fromDDL(s"doc $id, hs array<bigint>"))
    StateTable.open(spark, s"${tablePrefix}_bands",
      fromDDL(s"doc $id, band int, sig bigint"), Seq("band", "sig"), buckets)
  }

  /** Open the [[decontaminationStream]] state, which [[curationStream]]
    * probes: the bench shingle index and its Bloom word table.
    */
  private def openDecontaminationState(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Unit = {
    StateTable.open(spark, s"${tablePrefix}_bench_shingles", fromDDL("s bigint"))
    StateTable.open(spark, s"${tablePrefix}_bloom", fromDDL("w bigint, bits bigint"))
  }

  /** [[compactStateTable]] behind a fragmentation policy: compact only
    * when the table's data-file count exceeds `maxFiles` (the per-batch
    * append cadence decides how fast that accrues). Returns whether a
    * compaction ran — every stream in this file calls it from its
    * foreachBatch tail ([[selfHeal]]), so the state tables self-heal
    * without an operator remembering to. The file count comes from a
    * RECURSIVE Hadoop FileSystem listing of the catalog's table location
    * — scheme-agnostic (file:, hdfs:, s3a:, nested/partitioned layouts
    * all count correctly; a bare java.io.File walk would silently report
    * 0 on any non-local filesystem), no data read.
    */
  def compactIfFragmented(spark: org.apache.spark.sql.SparkSession, table: String,
      bucketCols: Seq[String] = Nil, buckets: Int = 8,
      maxFiles: Int = 64, targetFiles: Int = 1): Boolean = {
    val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Location").select("data_type")
      .head().getString(0))
    val path = new org.apache.hadoop.fs.Path(loc)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file counts only if NO path component below the table root is
    // hidden ('.'/'_' prefix): contents of _temporary (an in-flight
    // writer's staging tree) or _spark_metadata would otherwise inflate
    // the count and trigger spurious O(table) compaction rewrites.
    val rootDepth = path.depth()
    var files = 0
    if (fs.exists(path)) {
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        var p = it.next().getPath
        var visible = true
        while (p != null && p.depth() > rootDepth) {
          val n = p.getName
          if (n.startsWith(".") || n.startsWith("_")) visible = false
          p = p.getParent
        }
        if (visible) files += 1
      }
    }
    val fragmented = files > maxFiles
    if (fragmented) compactStateTable(spark, table, bucketCols, buckets, targetFiles)
    fragmented
  }

  /** Compact a streaming state table in place — the small-files antidote
    * every append-per-micro-batch table eventually needs: a year of
    * 5-minute batches is ~100k appends, and at 100 TB a probe that opens
    * 100k parquet footers per bucket spends its time in metadata, not
    * data. Rewrites the table's current contents as ONE file set (for a
    * bucketed table, exactly `buckets` files via a repartition on the
    * bucket columns — Spark's repartition hash IS the bucket hash, so
    * every task writes exactly its one bucket file; unbucketed tables
    * coalesce to `targetFiles`).
    *
    * Contents and layout are preserved exactly: same rows, same bucket
    * spec (appends continue to carry it — [[dedupStream]]'s contract),
    * and the no-Exchange probe plan is unchanged (spec-pinned). The
    * data is eagerly localCheckpointed before the overwrite — the
    * [[curationStream]] counts-table discipline — so the table being
    * read is never the table being written. Run it BETWEEN batches (the
    * foreachBatch cadence guarantees no batch is mid-flight); a crash
    * during the overwrite is the one non-atomic window, the same window
    * every `mode("overwrite")` state rewrite in this file accepts.
    */
  def compactStateTable(spark: org.apache.spark.sql.SparkSession, table: String,
      bucketCols: Seq[String] = Nil, buckets: Int = 8,
      targetFiles: Int = 1): Unit = {
    require(buckets >= 1 && targetFiles >= 1)
    val data = spark.table(table).localCheckpoint(eager = true)
    val w =
      if (bucketCols.isEmpty)
        data.coalesce(targetFiles).write.mode("overwrite").format("parquet")
      else
        data.repartition(buckets, bucketCols.map(col): _*)
          .write.mode("overwrite").format("parquet")
          .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
    w.saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** The foreachBatch-tail maintenance every appending stream shares:
    * apply the [[compactIfFragmented]] policy to each append-only state
    * table. Bucketed tables compact to one file per bucket (layout and
    * no-Exchange probe plan preserved — spec-pinned); unbucketed tables
    * compact to `buckets` files (NOT 1 — a corpus-sized docs table still
    * wants parallel readers).
    *
    * COST MODEL, stated honestly: a triggered compaction rewrites the
    * TABLE'S CURRENT CONTENTS, so on tables that grow with the corpus
    * (docs/shingles/ledger) each trigger is O(table) I/O — with ~f new
    * files per batch the policy fires every ~maxFiles/f batches, i.e.
    * amortized O(table·f/maxFiles) per batch. Size `maxFiles` UP as the
    * table grows (or disable with Int.MaxValue and run
    * [[compactStateTable]] from a maintenance cron in quiet hours — the
    * knob every stream exposes as `maxStateFiles`); the bounded tables
    * (bands/postings/cells at fixed corpus, counts/bloom by
    * construction) are cheap at any cadence. Size-tiered merging (only
    * rewrite small files into medium ones) is the known next step if a
    * deployment needs sub-O(table) triggers.
    */
  private def selfHeal(sess: org.apache.spark.sql.SparkSession,
      maxFiles: Int, buckets: Int,
      bucketed: Seq[(String, Seq[String])], plain: Seq[String]): Unit = {
    bucketed.foreach { case (t, bc) =>
      compactIfFragmented(sess, t, bc, buckets, maxFiles) }
    plain.foreach(t =>
      compactIfFragmented(sess, t, Nil, buckets, maxFiles,
        targetFiles = buckets))
  }
}
