package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q94–q99 + q105–q107 + q109–q110: round-6 warehouse-serving tier — the
  * multi-table analytic surface a mart consumer runs against the
  * engine's outputs: a star-schema join (the reference's store/product
  * dims around the sales fact, at TPC-H Q5 shape), GROUPING SETS
  * beyond q39's rollup, wide→long unpivot (the inverse of q62's
  * pivot), mergeable-sketch rollup (distinct counts maintained
  * incrementally from daily partials — never rescanning raw events),
  * typed cogroup attribution (the per-key two-stream merge that joins
  * can't express without a blow-up), a dynamic-partition-pruning
  * round trip proving the fact scan prunes at runtime from a dim
  * filter, a recursive-CTE hierarchy rollup (Spark 4 UnionLoop),
  * VARIANT semi-structured typed extraction, and batch gap-session
  * windows. Every query is deterministic and independently re-derived
  * by the DuckDB oracle.
  */
object ServeQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact revenue term — q23's money discipline: the product stays
    * DECIMAL so partial-agg merge order can't drift a float sum, and
    * the double cast happens once on output.
    */
  private def revenue =
    sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
      .cast("double")

  val queries: Map[String, Q] = Map(
    // Star-schema join at TPC-H Q5 shape: fact (lineitem) against two
    // join paths that must MEET (customer's nation == supplier's
    // nation), restricted to one region and one year. The declared
    // plan keeps the dims dim-shaped: region/nation broadcast into
    // customer, the date filter pushes into the orders scan, and
    // Catalyst/AQE pick shuffle vs broadcast for the customer and
    // supplier sides by size — at 100 TB customer/supplier shuffle
    // while nation×region stay broadcast, and the only big exchanges
    // are the fact's join keys. The region/year literals prune BEFORE
    // any fact row widens: orders drops ~6/7 of rows at the scan, so
    // the lineitem join is against the pruned year, not history.
    "q94_star_join" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"))
    }),

    // Typed cogroup attribution: per user, merge the view stream and
    // the click stream in time order and flag clicks with a view in
    // the trailing 30 minutes. A join formulation explodes to
    // |views|×|clicks| rows per user before collapsing (the oracle
    // does exactly that — feasible only at fixture scale); cogroup
    // ships each side through ONE user_id exchange and walks both
    // sorted lists with a two-pointer, O(|views|+|clicks|) per user
    // and never materializing pairs. Timestamps travel as micros
    // longs — the merge compares integers, not objects. This is the
    // batch twin of StreamingOps.attributionJoin's stream-stream
    // interval join.
    "q95_cogroup_attrib" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        // cast through LTZ: the fixture's parquet timestamps may infer as
        // TIMESTAMP_NTZ (unix_micros rejects NTZ), and under the pinned
        // UTC session timezone the NTZ→LTZ cast yields the same epoch
        // micros DuckDB's epoch_us computes on the naive value.
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp_ltz")).as("tsm"), col("event_type"))
      // non-null keys AND non-null instants only through the typed
      // cogroup: the primitive (Long, Long) fast path NOT_NULL-asserts
      // on a NULL in either slot and one such row kills the whole job
      // (r15 NULL-key probe for user_id; the r18 nulltime probe for
      // tsm — a single NULL event-time anywhere in 100 TB aborted the
      // query). Neither can attribute anyway — the oracle's equality
      // join matches a NULL user to nothing and its epoch arithmetic
      // on a NULL ts to a 0-attr CASE — so the op's contract is
      // non-null (key, instant) pairs and the residue is appended
      // relationally below.
      def side(t: String) = ev.filter(col("event_type") === t &&
          col("user_id").isNotNull && col("tsm").isNotNull)
        .select(col("user_id"), col("tsm")).as[(Long, Long)]
      val attributed = graft.ops.TemporalOps.trailingAttribution(
        side("view"), side("click"), windowMicros = 30L * 60 * 1000000)
      // NULL-user or NULL-ts clicks are still clicks: the oracle's
      // final GROUP BY user_id counts them with zero attribution (a
      // NULL ts satisfies no trailing-window inequality). Grouped by
      // user_id because a NULL-TS click belongs to a REAL user whose
      // other clicks flow through the typed path — the final
      // re-aggregate merges the two arms into one row per user.
      val residueClicks = ev
        .filter(col("event_type") === "click" &&
          (col("user_id").isNull || col("tsm").isNull))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .select(col("user_id"), col("n_clicks"), lit(0L).as("n_attributed"))
      attributed.unionByName(residueClicks)
        .groupBy(col("user_id"))
        .agg(sum(col("n_clicks")).as("n_clicks"),
          sum(col("n_attributed")).as("n_attributed"))
    }),

    // Mergeable-sketch rollup: per-day HLL sketches union into per-week
    // distinct-user estimates WITHOUT rescanning events — the
    // incremental form of q28. At 100 TB this is the only viable
    // nightly distinct-count maintenance: each night builds one day's
    // sketch from that day's partition; every wider window (week,
    // month, lifetime) is a cheap union of stored partials, while the
    // exact recount the oracle performs would rescan the whole corpus.
    // Weeks are epoch-day integer arithmetic (Monday-based via the
    // 1970-01-05 anchor), never locale/ISO week-of-year — both engines
    // restate the same integers. Graded q28-style: exact count plus a
    // within-tolerance certificate on the estimate (lgK=14 ⇒ ~0.8%
    // relative error; gate at 5% + small-count slack).
    "q96_sketch_rollup" -> ((s, d) => {
      val week = floor(datediff(col("day"), to_date(lit("1970-01-05"))) / 7)
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val weekly = daily.groupBy(week.cast("long").as("week"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
      val exact = Tables.events(s, d)
        .groupBy(floor(datediff(to_date(col("ts")), to_date(lit("1970-01-05"))) / 7)
          .cast("long").as("week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      // null-SAFE join key (r14 review): a NULL ts makes week NULL on
      // both sides; plain equality drops that group while the oracle's
      // GROUP BY emits it — and q27 keeps its null group, so dropping
      // here would also break the suite's null-group convention.
      // Fixture ts is non-null today; this pins the drift class.
      weekly.join(exact, weekly("week") <=> exact("week"))
        .select(weekly("week").as("week"), col("n_users"),
          (abs(col("_est") - col("n_users")) <=
            greatest(lit(2L), (col("n_users") * 0.05).cast("long"))).as("within_tol"))
    }),

    // Wide→long unpivot (melt) — the exact inverse of q62's pivot,
    // Spark's Dataset.unpivot → Catalyst Expand: each input row fans
    // to one row per metric inside the operator, no join, no shuffle
    // beyond the feeding aggregation. Metrics are pre-aggregated
    // exactly (decimal sums, integral counts) so the melted doubles
    // are representation-stable across engines.
    "q97_unpivot" -> ((s, d) => {
      val wide = Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("double").as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        max(col("l_extendedprice")).cast("double").as("max_price"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("n_rows"), col("sum_qty"), col("max_price")),
        "metric", "value")
    }),

    // GROUPING SETS beyond q39's linear rollup: two non-nested
    // single-column groupings plus the grand total in ONE pass —
    // Expand replicates each row once per set before a single
    // aggregation, so the fact scans once where three separate
    // GROUP BYs would scan three times. grouping() flags (cast to a
    // portable int) disambiguate "NULL because rolled up" from "NULL
    // in the data" — both engines restate them bit-for-bit.
    "q98_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("g_orders_gs")
      s.sql(
        """SELECT o_orderpriority, om,
          |       CAST(grouping(o_orderpriority) AS INT) AS g_pri,
          |       CAST(grouping(om) AS INT) AS g_om,
          |       CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt,
          |       count(*) AS n
          |FROM (SELECT o_orderpriority,
          |             date_format(o_orderdate, 'yyyy-MM') AS om,
          |             o_totalprice
          |      FROM g_orders_gs)
          |GROUP BY GROUPING SETS ((o_orderpriority), (om), ())""".stripMargin)
    }),

    // Recursive CTE (new engine surface in Spark 4): ancestor-chain
    // traversal over a deterministic parent = key DIV 2 hierarchy —
    // the org-chart / BOM-rollup query no finite set of self-joins
    // expresses (depth is data-dependent). Spark executes WITH
    // RECURSIVE as an iterated distributed step with a shrinking
    // frontier (this hierarchy halves it per level — ⌈log₂ N⌉
    // iterations, each a scan+filter over the previous level, no
    // driver loop); the rollup then joins each ancestor's balance
    // back and aggregates per starting node. DuckDB runs the
    // IDENTICAL recursion — both engines derive the closure
    // independently.
    "q105_recursive_cte" -> ((s, d) => {
      // Built on a child session: it shares the SparkContext but has
      // its own SQLConf and temp views, and the returned frame runs
      // under that conf — so the row-guard setting below and the temp
      // view never touch the caller's session. The child reads the
      // table with the cached frame's schema: no schema-inference job
      // at construction (LazyRegistrySpec).
      val cs = s.newSession()
      cs.read.schema(Tables.customer(s, d).schema)
        .parquet(s"$d/customer.parquet")
        .createOrReplaceTempView("g_cust_r")
      // Spark's recursion ROW guard defaults to 1M rows TOTAL across
      // all iterations — a runaway-recursion safety net sized for
      // notebooks, not data: this closure is |customer| × ~log2(max
      // key) rows (~4M at sf1 — the SCALING.md ladder caught the
      // default failing this query at 10× data). Data-sized guards
      // would need the anchor's cardinality, and counting it here
      // would run a Spark job at query-CONSTRUCTION time (breaking
      // the registry's builders-are-lazy contract —
      // LazyRegistrySpec). So the row guard goes to the conf's Int
      // ceiling — i.e. out of the way at any data scale — and the
      // LEVEL limit (default 100) stays as the real non-termination
      // guard: this hierarchy halves its frontier per level, so a
      // runaway recursion is a level-limit bug, not a row-count one.
      // The returned frame reads the conf lazily at execution, which
      // is why it is set on the child session the frame keeps.
      cs.conf.set("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
      cs.sql(
        """WITH RECURSIVE anc(custkey, anc_key, d) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM g_cust_r
          |  UNION ALL
          |  SELECT custkey, anc_key DIV 2, d + 1 FROM anc WHERE anc_key > 1
          |)
          |SELECT a.custkey,
          |       CAST(max(a.d) AS INT) AS depth,
          |       CAST(sum(TRY_CAST(nullif(c.c_acctbal, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS chain_bal
          |FROM anc a JOIN g_cust_r c ON a.anc_key = c.c_custkey
          |GROUP BY a.custkey""".stripMargin)
    }),

    // Semi-structured VARIANT surface (Spark 4): parse the JSON props
    // ONCE into the binary variant encoding, then do TYPED extraction
    // off the variant — the at-scale contrast to q21's
    // get_json_object, which re-parses the JSON text on every
    // extraction (k extractions = k parses). A 100 TB event store
    // lands props as a VARIANT column at ingest and every downstream
    // query reads fields positionally from the binary form. The
    // predicate on the extracted field stays in the scan stage
    // (codegen'd projection + filter, zero exchanges before the agg).
    // try_parse_json + try_variant_get, not the throwing forms: one
    // malformed document or one non-numeric field value would
    // otherwise kill a 100-TB scan under ANSI (r13 edge sweep); the
    // try forms null it, matching the oracle's TRY_CAST.
    "q106_variant_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), try_parse_json(col("props")).as("v"))
        // integral-only long (r14 review): extracting straight to
        // 'long' CASTS a JSON double through double→long (50.7 → 50,
        // fraction truncation is a legal cast) while the oracle's
        // TRY_CAST('50.7' AS BIGINT) is NULL in DuckDB — a
        // non-integral k is "not a long", not a truncation. Route
        // through the variant's STRING rendering + try_cast: a JSON
        // integer renders "50" → 50, a double "50.7" → NULL, exactly
        // the oracle's props->>'$.k' text path — and the expression
        // keeps ONE variant extraction per reference, same cost shape
        // as the pre-fix form (a double+floor integral check was
        // measured 3× slower: predicate pushdown substitutes the
        // projection into the filter and every extra reference
        // re-evaluates the non-codegen parse).
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "string").try_cast("bigint")
            .as("k"))
        .filter(col("k") >= 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))),

    // Gap-session windows under the oracle for the first time: q27's
    // tumbling windows are fixed-grid; session_window merges events
    // into data-dependent [first, last+gap) intervals — Spark's
    // built-in batch form of the sessionization the streaming lib
    // does with flatMapGroupsWithState. One shuffle on user_id; the
    // merge happens inside the aggregation. The oracle re-derives
    // sessions with gaps-and-islands (lag + running sum) — a wholly
    // different mechanism certifying the same session boundaries
    // (break iff gap ≥ 30 min, mirroring session_window's strict-<
    // overlap merge).
    "q107_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("n_events"))),

    // SQL:2023 LISTAGG — the built-in ordered within-group string
    // aggregate (new in Spark 4): the standard form every warehouse
    // user types, vs q85's collect_list+sort_array emulation. The
    // deterministic WITHIN GROUP order is the load-bearing part: an
    // unordered string agg is partition-order-dependent and ungradable.
    // Scale note: per-group strings must stay bounded (here ≤25
    // nations per region); unbounded groups shard first like q85's
    // postings.
    "q109_listagg" -> ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("g_nation_la")
      s.sql(
        """SELECT n_regionkey,
          |       count(*) AS n_nations,
          |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
          |FROM g_nation_la GROUP BY n_regionkey""".stripMargin)
    }),

    // Correlated LATERAL subquery with ORDER+LIMIT — the "top-N per
    // outer row" form every SQL user writes first. Executed naively
    // this is a nested loop re-sorting the inner side once per outer
    // row; Catalyst DECORRELATES it into one WindowGroupLimit pass +
    // an equi-join (PlanSpec asserts exactly that and the absence of
    // any nested loop), i.e. the same plan q23 writes by hand with
    // row_number — proof the user-friendly formulation costs nothing
    // at 100 TB. Ties broken by key so the top-2 is deterministic.
    "q110_lateral_topn" -> ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("g_nation_lt")
      Tables.customer(s, d).createOrReplaceTempView("g_cust_lt")
      s.sql(
        """SELECT o.n_nationkey, o.n_name, l.c_custkey, l.c_acctbal
          |FROM g_nation_lt o,
          |LATERAL (SELECT c_custkey, c_acctbal FROM g_cust_lt c
          |         WHERE c.c_nationkey = o.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l""".stripMargin)
    }),

    // Dynamic partition pruning round trip: a month-partitioned fact
    // joined to a dim filtered on a NON-partition attribute (quarter).
    // The partition list is unknowable at plan time — it exists only
    // in the dim — so static pruning can't help; Spark's DPP instead
    // broadcasts the filtered dim, derives the surviving months at
    // RUNTIME, and injects them into the fact scan's partition
    // filters (PlanSpec asserts the dynamicpruning expression). At
    // 100 TB this is the difference between scanning 3 directories
    // and scanning 84: the fact never reads a partition the dim
    // filter excluded. Write discipline matches q41 (repartition by
    // the partition column — one file per directory, not tasks×dirs).
    // The month-partitioned layout is an INGEST artifact (the
    // warehouse maintains the partitioned fact table; the graded
    // operator is the DPP read) — content-keyed + _SUCCESS-gated like
    // the q35 centroids and q56/q89 components, so re-runs read the
    // standing table instead of re-laying it out. Write-once also
    // subsumes the old per-invocation nonce: the dir is immutable
    // after its _SUCCESS lands, so a deferred reader of an earlier
    // invocation's frame can never see its files deleted. The layout
    // is additionally REGISTERED as a catalog partitioned table
    // (RECOVER PARTITIONS, once): partition pruning then comes from
    // catalog metadata instead of a full 84-directory relisting +
    // schema inference per invocation, and at execution only the
    // DPP-surviving partitions are ever listed — at 100 TB the fact
    // table lives in the metastore and this is exactly the path DPP
    // takes in production.
    "q99_dpp_prune" -> ((s, d) => {
      val fp = graft.Fixtures.tableFingerprint(d, "orders")
      val sink = s"${System.getProperty("java.io.tmpdir")}/graft_q99_dpp_v2_$fp"
      val db = "g_" + s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val tbl = s"$db.orders_pm_$fp"
      // a catalog entry can outlive its files: the sink lives in
      // java.io.tmpdir, which a tmp cleaner (systemd-tmpfiles) can
      // empty under a long-lived session — the table would then
      // dangle over nothing and every later read fail instead of
      // self-healing. So the steady state re-gates on the _SUCCESS
      // marker every call, exactly like the sibling artifacts
      // (q35/q56/q93); gone marker ⇒ drop and rebuild (r11 ADVICE).
      if (s.catalog.tableExists(tbl) &&
          !new java.io.File(s"$sink/_SUCCESS").exists())
        s.sql(s"DROP TABLE $tbl")
      if (!s.catalog.tableExists(tbl)) {
        // stage-and-rename like every other shared content-keyed
        // artifact (r14 review): a direct overwrite into the shared
        // sink let two JVMs' delete/commit phases interleave a mixed
        // part-file set under a valid _SUCCESS that the content key
        // then never invalidates — the exact pre-r12 failure
        // StagedArtifact closed for q35/q56/q93
        graft.ops.StagedArtifact.writeOnce(sink)(stage =>
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_totalprice"),
              date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
            .repartition(col("order_month"))
            .write.partitionBy("order_month").mode("overwrite").parquet(stage))
        s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        // explicit columns + PARTITIONED BY, never inference: over an
        // empty sink (zero partition dirs) schema inference throws
        // UNABLE_TO_INFER_SCHEMA (r13 edge sweep), and a declared
        // schema is the right contract for a catalog table anyway —
        // the registration can't silently drift with the files.
        s.sql(s"""CREATE TABLE $tbl
                 |  (o_orderkey BIGINT, o_totalprice DOUBLE,
                 |   order_month STRING)
                 |USING parquet PARTITIONED BY (order_month)
                 |LOCATION '$sink'""".stripMargin)
        s.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
      } else if (s.sql(s"SHOW PARTITIONS $tbl").isEmpty)
        // a crash BETWEEN the CREATE and the RECOVER leaves a table
        // that exists but knows no partitions — every read of it
        // would be silently empty. SHOW PARTITIONS is a pure catalog
        // lookup (LocalTableScan, no job), so the steady state stays
        // zero-job while the half-registered state self-heals.
        s.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
      // month dim from SHOW PARTITIONS — a pure catalog lookup
      // (LocalTableScan, zero jobs), not a re-scan (r14 review: the
      // old distinct over the raw orders table paid a full fact scan
      // + shuffle per invocation to derive ~84 rows that ARE the
      // partition list — forfeiting at the dim exactly the
      // full-relisting cost DPP saves at the fact)
      val monthDim = s.sql(s"SHOW PARTITIONS $tbl")
        .select(regexp_replace(col("partition"), "^order_month=", "").as("m"))
        // try_cast, not cast: a NULL o_orderdate writes the
        // __HIVE_DEFAULT_PARTITION__ sentinel, whose substring(6,2)
        // is 'E_' — the ANSI cast ABORTED the whole query on one
        // null-date row anywhere in the fact table (r18 nulltime
        // probe). An unparseable month belongs to no quarter: its
        // qtr goes NULL and the quarter filter drops it, exactly
        // what the oracle's strftime(NULL) → NOT IN months does.
        .withColumn("qtr", concat(substring(col("m"), 1, 4), lit("-Q"),
          ((expr("try_cast(substring(m, 6, 2) AS INT)") - 1) / 3 + 1)
            .cast("int")))
      s.table(tbl)
        .join(broadcast(monthDim.filter(col("qtr") === "1995-Q2")),
          col("order_month") === col("m"))
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("amt"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q94_star_join" ->
      """SELECT n_name,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) *
        |          (CAST(1 AS DECIMAL(18,2)) - TRY_CAST(nullif(l_discount, 'nan'::DOUBLE) AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND n_nationkey = c_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01'
        |GROUP BY 1""".stripMargin,
    // Independent derivation: materialize every (click, view<=click)
    // pair per user and collapse — the quadratic formulation cogroup
    // exists to avoid, certifying the two-pointer against ground truth.
    "q95_cogroup_attrib" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        | v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        | a AS (SELECT c.event_id, c.user_id,
        |         max(CASE WHEN v.ts IS NOT NULL
        |                   AND epoch_us(c.ts) - epoch_us(v.ts) <= 1800000000
        |              THEN 1 ELSE 0 END) AS attr
        |       FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts
        |       GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_clicks,
        |       CAST(sum(attr) AS BIGINT) AS n_attributed
        |FROM a GROUP BY 1""".stripMargin,
    "q96_sketch_rollup" ->
      """SELECT CAST(floor(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week,
        |       count(DISTINCT user_id) AS n_users, TRUE AS within_tol
        |FROM events GROUP BY 1""".stripMargin,
    "q97_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
        |   CAST(count(*) AS DOUBLE) AS n_rows,
        |   CAST(sum(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |   CAST(max(l_extendedprice) AS DOUBLE) AS max_price
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM w
        |UNION ALL SELECT l_returnflag, 'sum_qty', sum_qty FROM w
        |UNION ALL SELECT l_returnflag, 'max_price', max_price FROM w""".stripMargin,
    // HAVING count(*) > 0: Spark emits NO rows for the () grouping set
    // on empty input (Expand+groupBy); the standard emits a count-0
    // grand total. Pins the engine's semantics; vacuous on real groups
    // (r13 edge sweep, same note as q39).
    "q98_grouping_sets" ->
      """SELECT o_orderpriority, om,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
        |       CAST(GROUPING(om) AS INT) AS g_om,
        |       CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |       count(*) AS n
        |FROM (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS om, o_totalprice
        |      FROM orders)
        |GROUP BY GROUPING SETS ((o_orderpriority), (om), ())
        |HAVING count(*) > 0""".stripMargin,
    "q110_lateral_topn" ->
      """SELECT o.n_nationkey, o.n_name, l.c_custkey, l.c_acctbal
        |FROM nation o,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = o.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l""".stripMargin,
    "q109_listagg" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    // base pins ts to µs precision explicitly (make_timestamp of
    // epoch_us) — Spark's side IS µs (Tables.events does ts div 1000),
    // and relying on the driver DuckDB's implicit ns→µs handling of the
    // TIMESTAMP_NS fixture would be version-sensitive for any fixture
    // row that stopped being µs-aligned
    "q107_session_window" ->
      // ts IS NOT NULL pins the engine's session_window() contract
      // (r18 nulltime probe): Spark's TimeWindowing plants an
      // isnotnull filter — an event with no event-time joins no
      // session — where bare DuckDB would session the NULL-ts rows
      """WITH base AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts
        |  FROM events WHERE ts IS NOT NULL),
        | e AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | g AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "q106_variant_extract" ->
      // integral-lexicon guard: see the q21 oracle (r18 JSON probe).
      // Known pinned PRECONDITION, not modeled here: props objects
      // have UNIQUE keys. Spark's variant spec REJECTS a duplicate-key
      // object outright (try_parse_json → NULL → no row) where
      // DuckDB's ->> extracts the FIRST k — divergent only when the
      // first k clears the >= 50 filter. Every fixture generator
      // writes single-key flat objects, and get_json_object (q21/q38)
      // agrees with DuckDB on first-wins, so only this VARIANT-path
      // query carries the edge; pinned by VariantEdgeSpec.
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type,
        |        -- json_valid guard: ->> errors on non-JSON props (q21)
        |        CASE WHEN json_valid(props)
        |              AND regexp_matches(props->>'$.k', '^\s*[+-]?[0-9]+\s*$')
        |             THEN TRY_CAST(props->>'$.k' AS BIGINT) END AS k
        |      FROM events)
        |WHERE k >= 50
        |GROUP BY 1""".stripMargin,
    "q105_recursive_cte" ->
      """WITH RECURSIVE anc(custkey, anc_key, d) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT custkey, anc_key // 2, d + 1 FROM anc WHERE anc_key > 1
        |)
        |SELECT a.custkey,
        |       CAST(max(a.d) AS INT) AS depth,
        |       CAST(sum(TRY_CAST(nullif(c.c_acctbal, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS chain_bal
        |FROM anc a JOIN customer c ON a.anc_key = c.c_custkey
        |GROUP BY a.custkey""".stripMargin,
    "q99_dpp_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |       count(*) AS n_orders,
        |       CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-04', '1995-05', '1995-06')
        |GROUP BY 1""".stripMargin
  )
}
