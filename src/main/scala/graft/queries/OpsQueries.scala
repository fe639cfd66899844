package graft.queries

import graft.Tables
import graft.ops.{ReconcileOps, RelationalOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q100–q103 + q108: round-6 operational tier — what keeps a standing
  * deployment honest: a true end-to-end streaming ingest (file stream
  * → stateful aggregation → keyed-upsert serving table → serve, the
  * continuous form of the reference's nightly cron), cross-system
  * table reconciliation by order-insensitive checksum (how a migration
  * OFF the reference proves the new mart equals the old one without
  * shipping rows), an exact join-cardinality profiler (the measurement
  * that decides where q44/q68 salting and broadcast cutoffs apply),
  * and a one-pass data-quality expectations gate over every load.
  * Every query deterministic; every verdict re-derived by DuckDB.
  */
object OpsQueries {
  type Q = (SparkSession, String) => DataFrame

  private val invocation = new java.util.concurrent.atomic.AtomicLong(0)

  private def rmTree(f: java.io.File): Unit = graft.ops.FsOps.rmTree(f)


  val queries: Map[String, Q] = Map(
    // End-to-end streaming mart maintenance, executed for real (q46
    // grades the transform's batch parity; THIS runs the streaming
    // engine): the events table staged as multiple arrival files →
    // file stream with maxFilesPerTrigger=1 (several genuine
    // micro-batches) → STATEFUL (user, day) aggregation in update
    // mode → each batch's updated groups merged into the DSv2
    // keyed-upsert serving table → drained with AvailableNow → the
    // SERVED table is what the oracle grades against a cold batch
    // GROUP BY of the same events. Keys whose rows straddle batches
    // prove the cumulative-state + latest-wins convergence; each
    // invocation is a fresh pipeline (nonce below) and converges to
    // the identical table.
    "q100_stream_mart" -> ((s, d) => {
      // nonce per INVOCATION, not per app: a re-run (bench rep, retry)
      // must get a fresh staging dir + checkpoint + table — re-staging
      // under an old checkpoint would surface the same events as new
      // files and double the stateful aggregation's counts
      val safe = (s.sparkContext.applicationId + "_" + d + "_" +
        invocation.incrementAndGet()).replaceAll("[^A-Za-z0-9_]", "_")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_q100_$safe"
      val staged = s"$base/staged"
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("value"))
      val table = s"stream_mart_$safe"
      // the served table must outlive this call (the returned frame
      // reads it lazily) — reclaim it at JVM exit, not eagerly
      graft.sources.UpsertSinkSource.dropOnExit(table)
      // staged files and the checkpoint are dead once the drain
      // completes (the returned frame reads the SINK table, which
      // must outlive them) — reclaim them in finally so a failed
      // drain can't leak the per-invocation nonce dirs either
      //
      // The stateful agg instantiates one state store PER SHUFFLE
      // PARTITION PER MICRO-BATCH (provider init + delta file +
      // commit each) — at the session's 32 partitions × ~5 batches
      // that fixed cost dominates the whole pipeline for a ~4k-group
      // state and is the most session-load-sensitive thing in the
      // suite (the r8/r9 in-context inflation). r21 (guide §2, scale-
      // adaptive partitioning): the count is DERIVED from the staged
      // input's actual bytes — 64 MB of input per state partition,
      // floor 2 (multi-partition state stays exercised) — instead of
      // a constant tuned for either environment. Filesystem metadata
      // only (no Spark job); at sf0.1 this yields 2 (measured best:
      // commit 2429ee1's interleaved A/B: mins 2.69/2.48/2.42 s for
      // 8/4/2),
      // and a production-sized backfill derives thousands. Scoped to
      // this pipeline and restored in finally.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      try {
        // 4 arrival files via round-robin repartition (no pre-count
        // scan); the staging write converts the ns-long ts to a proper
        // timestamp so the stream schema is self-describing
        ev.repartition(4).write.mode("overwrite").parquet(staged)
        val stagedBytes = graft.ops.FsOps.treeBytes(new java.io.File(staged))
        val stateParts = math.max(2L, (stagedBytes + (64L << 20) - 1) / (64L << 20))
        s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
        val stream = s.readStream.schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
        val agg = stream
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("_amt"),
            count(lit(1)).as("n"))
          .select(col("user_id"), col("day"),
            col("_amt").cast("double").as("amt"), col("n"))
        graft.streaming.StreamingOps
          .maintainMart(agg, table, Seq("user_id", "day"), s"$base/ckpt")
          .awaitTermination()
        // maintenance duty cycle at drain end: fold the per-batch
        // segment chain to one and reclaim the orphans, so the serving
        // read opens O(buckets) files instead of O(batches x buckets)
        graft.sources.UpsertSinkSource.compact(s, table)
        graft.sources.UpsertSinkSource.vacuum(table)
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        rmTree(new java.io.File(base))
      }
      s.read.format("graft.sources.UpsertSinkSource")
        .option("table", table).load()
    }),

    // Order-insensitive table checksum via ops.ReconcileOps (the
    // pt-table-checksum / data-diff pattern; canonicalization and
    // two-BIGINT-halves rationale documented there): pinned DECIMAL
    // money / DATE date rendering, delimiter-escaped free text, one
    // (n_rows, checksum_hi, checksum_lo) row per month partition.
    // Equal tuples ⇒ equal content with no row shipped — comparing a
    // 100 TB mart across systems costs one scan + a tiny agg per side.
    // ReconcileOpsSpec runs the two-sided migration proof over the
    // flagship mart; this query grades the digest against DuckDB.
    "q101_table_checksum" -> ((s, d) =>
      graft.ops.ReconcileOps.tableChecksum(
        Tables.orders(s, d),
        Seq(ReconcileOps.canonField(col("o_orderkey")),
          ReconcileOps.canonField(col("o_custkey")),
          ReconcileOps.escaped(col("o_orderstatus")),
          ReconcileOps.canonField(col("o_totalprice").cast(DecimalType(18, 2))),
          ReconcileOps.canonField(col("o_orderdate").cast("date")),
          ReconcileOps.escaped(col("o_orderpriority"))),
        date_format(col("o_orderdate"), "yyyy-MM"))
        .withColumnRenamed("part", "month")),

    // Exact join-cardinality profiler: predicted |orders ⋈ lineitem|
    // from the two sides' key histograms — Σ_k cnt_a(k)·cnt_b(k) —
    // plus the worst key's share. Two partial-agg histogram builds and
    // a histogram-sized join, NEVER the join itself: the 100 TB
    // question "can I afford this join, and does one key dominate?"
    // answered at metadata cost. This is the measurement feeding the
    // q44/q68 salting decisions and q83's hot-key diagnosis.
    "q102_join_cardinality" -> ((s, d) => {
      val a = Tables.orders(s, d).groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("ca"))
      val b = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("cb"))
      a.join(b, "k")
        .select((col("ca") * col("cb")).as("_pairs"))
        .agg(sum(col("_pairs")).as("predicted_pairs"),
          max(col("_pairs")).as("max_key_pairs"),
          count(lit(1)).as("n_join_keys"))
    }),

    // Same-pass pipeline observability: audit metrics collected by
    // df.observe() DURING the production write action — the metrics
    // (row count, exact amount total, max) ride the write's single
    // scan as accumulator-style aggregates, so the nightly audit row
    // costs ZERO extra passes. The alternative every naive pipeline
    // ships — re-aggregating the table after the write — doubles the
    // 100 TB I/O. The oracle recomputes the same metrics cold,
    // certifying the observed values equal a from-scratch aggregation.
    // (Observe expressions must be merge-associative — no distinct —
    // exactly the constraint partial aggregation already imposes.)
    "q108_observe_metrics" -> ((s, d) => {
      val safe = (s.sparkContext.applicationId + "_" + d + "_" +
        invocation.incrementAndGet()).replaceAll("[^A-Za-z0-9_]", "_")
      val sink = s"${System.getProperty("java.io.tmpdir")}/graft_q108_$safe"
      val obs = new org.apache.spark.sql.Observation(s"audit_$safe")
      // the deliverable is the audit row; the sink dir is reclaimed in
      // finally so a failed write can't leak the nonce'd tmp dir
      val m = try {
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1995-04-01 00:00:00")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("_amt"),
            max(col("o_totalprice")).as("max_price"))
          .write.mode("overwrite").parquet(sink) // the ONE action; metrics ride it
        obs.get
      } finally rmTree(new java.io.File(sink))
      import s.implicits._
      // a zero-row observed write yields NULL sum/max — surface them
      // as the oracle's NULLs, not an unboxing NPE (or Scala's silent
      // null-as-0.0 Double quirk)
      Seq((m("n_rows").asInstanceOf[Long],
        Option(m("_amt").asInstanceOf[java.math.BigDecimal])
          .map(v => java.lang.Double.valueOf(v.doubleValue())).orNull,
        Option(m("max_price")).map(v =>
          java.lang.Double.valueOf(v.asInstanceOf[Double])).orNull))
        .toDF("n_rows", "amt", "max_price")
    }),

    // Data-quality expectations gate: the nightly load contract as
    // one aggregation pass (RelationalOps.qualityGate) — key
    // non-null, primary-key uniqueness, value bounds, freshness
    // ceiling, volume floor — fanned out to one verdict row per
    // expectation. The oracle recomputes every observed metric and
    // verdict from scratch in SQL.
    "q103_dq_gate" -> ((s, d) =>
      RelationalOps.qualityGate(Tables.orders(s, d), Seq(
        ("row_count_min_1000", count(lit(1)),
          (m: org.apache.spark.sql.Column) => m >= 1000),
        ("custkey_no_nulls", count(when(col("o_custkey").isNull, lit(1))),
          (m: org.apache.spark.sql.Column) => m === 0),
        ("orderkey_unique", count(lit(1)) - countDistinct(col("o_orderkey")),
          (m: org.apache.spark.sql.Column) => m === 0),
        ("totalprice_nonnegative", count(when(col("o_totalprice") < 0, lit(1))),
          (m: org.apache.spark.sql.Column) => m === 0),
        ("orderdate_before_2000", count(when(
          col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")), lit(1))),
          (m: org.apache.spark.sql.Column) => m === 0))))
  )

  val oracle: Map[String, String] = Map(
    "q100_stream_mart" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
        | CAST(sum(TRY_CAST(nullif(value, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        | count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Hex→int is spelled digit-by-digit (strpos over '0..f' with exact
    // double powers ≤ 16^7, all < 2^53) instead of CAST('0x…' AS
    // BIGINT): the hex-literal cast was the one construct no other
    // passing oracle used, and per-digit arithmetic is portable to any
    // engine version. Per-row halves are CAST to BIGINT, and the final
    // HUGEINT sums are CAST back to BIGINT so the output schema is
    // decimal-free.
    "q101_table_checksum" ->
      """WITH c AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  md5(concat_ws('|',
        |    coalesce(CAST(o_orderkey AS VARCHAR), '\N'),
        |    coalesce(CAST(o_custkey AS VARCHAR), '\N'),
        |    coalesce(replace(replace(o_orderstatus, '\', '\\'), '|', '\|'), '\N'),
        |    coalesce(CAST(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) AS VARCHAR), '\N'),
        |    coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '\N'),
        |    coalesce(replace(replace(o_orderpriority, '\', '\\'), '|', '\|'), '\N'))) AS h
        |  FROM orders)
        |SELECT month, count(*) AS n_rows,
        |  CAST(sum(CAST(list_sum(list_transform(range(1,9), i ->
        |    (strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1.0)
        |      * (16.0 ** (8 - i)))) AS BIGINT)) AS BIGINT) AS checksum_hi,
        |  CAST(sum(CAST(list_sum(list_transform(range(1,8), i ->
        |    (strpos('0123456789abcdef', substr(h, CAST(8 + i AS INT), 1)) - 1.0)
        |      * (16.0 ** (7 - i)))) AS BIGINT)) AS BIGINT) AS checksum_lo
        |FROM c GROUP BY 1""".stripMargin,
    "q102_join_cardinality" ->
      """WITH a AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
        | b AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(ca * cb) AS BIGINT) AS predicted_pairs,
        |       max(ca * cb) AS max_key_pairs,
        |       count(*) AS n_join_keys
        |FROM a JOIN b USING (k)""".stripMargin,
    "q108_observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |       max(o_totalprice) AS max_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <  TIMESTAMP '1995-04-01'""".stripMargin,
    "q103_dq_gate" ->
      """SELECT 'row_count_min_1000' AS check, CAST(count(*) AS DOUBLE) AS observed,
        |       count(*) >= 1000 AS passed FROM orders
        |UNION ALL SELECT 'custkey_no_nulls',
        |       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS DOUBLE),
        |       count(*) FILTER (WHERE o_custkey IS NULL) = 0 FROM orders
        |UNION ALL SELECT 'orderkey_unique',
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE),
        |       count(*) = count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'totalprice_nonnegative',
        |       CAST(count(*) FILTER (WHERE o_totalprice < 0) AS DOUBLE),
        |       count(*) FILTER (WHERE o_totalprice < 0) = 0 FROM orders
        |UNION ALL SELECT 'orderdate_before_2000',
        |       CAST(count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '2000-01-01') AS DOUBLE),
        |       count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '2000-01-01') = 0 FROM orders""".stripMargin
  )
}
