package graft.queries

import graft.Tables
import graft.ops.{MultimodalOps, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** q21–q37: the north-star LLM-data-pipeline operators (BASELINE.md
  * mandate: dedup, similarity search, multimodal columns, text
  * analysis) plus window/sketch ops absent from the reference
  * (SURVEY.md §2d/§2e/§2g/§2h). Reference analogs cited per query
  * where they exist; the fixture `documents` corpus is all-distinct,
  * so dedup queries plant duplicates by unioning a deterministic
  * mutated copy (ids offset by +100000) — the operator then has real
  * work to find.
  *
  * Oracle discipline (SURVEY.md §7 risk 1): outputs are integers,
  * exact decimals surfaced as double, or doubles rounded well clear of
  * representation noise; sketch-valued queries (simhash) omit the SQL
  * oracle → rows-only check.
  */
object NorthQueries {
  type Q = (SparkSession, String) => DataFrame

  private[queries] val DupOffset = 100000L

  /** documents ∪ exact copy of itself with offset ids: the planted
    * exact-duplicate corpus.
    */
  private def docsWithExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.select((col("doc_id") + DupOffset).as("doc_id"), col("text")))
  }

  /** documents ∪ near-duplicate copies (one token appended): the
    * planted near-dup corpus for MinHash/SimHash.
    *
    * ONE revision per doc_id first (r16 dupfacts probe): similarity
    * pipelines key documents by id — PPJoin's per-doc rank window and
    * the verify join's id-keyed re-join silently blend two same-id
    * rows into one corrupted "document" (the probe measured q37
    * finding 0 of 2 true pairs), and the oracle's `a.doc_id <
    * b.doc_id` pair identity cannot express dup-id pairs at all. A
    * corpus carrying the same doc_id twice is a REVISED delivery;
    * the contract is latest-revision-wins, spelled deterministically
    * as max(text) (mirrored in the oracles' corpus CTEs). On a
    * healthy unique-id corpus the aggregation is one map-side-
    * combined pass that changes nothing.
    */
  private[queries] def docsWithNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .groupBy(col("doc_id")).agg(max(col("text")).as("text"))
    docs.unionByName(
      docs.select((col("doc_id") + DupOffset).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text")))
  }

  /** embeddings ∪ slightly-perturbed copies (x → 1.05x + 0.02, exact
    * double arithmetic in any engine): the planted cosine near-dups.
    */
  private def embWithNearDups(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("embedding"))
    e.unionByName(
      e.select((col("vec_id") + DupOffset).as("vec_id"), col("label"),
        transform(col("embedding"), x => x * 1.05 + 0.02).as("embedding")))
  }

  val queries: Map[String, Q] = Map(
    // F8 — typed extraction from a JSON string column. Reference
    // analog: the API envelope decode (load_sales_data.py:96-100),
    // its only JSON-typed data. get_json_object is codegen'd; no UDF.
    // try_cast, not cast: under Spark 4's ANSI default a single
    // non-numeric field value kills the whole job (r13 edge sweep);
    // the reference's dict.get→None posture — and the oracle's
    // TRY_CAST — null it instead.
    "q21_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))),

    // U3 — running total per key: cumulative daily value per user.
    // Daily rollup (one shuffle) then a window over days; sums carried
    // as DECIMAL so the running total is exact at any partition count.
    "q22_running_total" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("_daily"))
      // asc_nulls_last: Spark's bare ASC sorts NULLs FIRST, DuckDB's
      // default is NULLS LAST — a NULL day (null ts) would otherwise
      // sit at the head of the running sum on one side and the tail
      // on the other, shifting every row's cumulative value (r18
      // nulltime probe)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("day").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("user_id"), col("day"),
        col("_daily").cast("double").as("daily_amt"),
        sum(col("_daily")).over(w).cast("double").as("running_amt"))
    }),

    // U2 — top-k per group: top-3 parts per supplier by exact decimal
    // revenue, ties broken by part key → fully deterministic.
    "q23_topk" -> ((s, d) => {
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(18, 2))
      // The product widens to Decimal(37,4); summing THAT keeps a
      // 38-digit BigDecimal aggregation buffer per group (~500k groups
      // here) — off Spark's Long-backed fast decimal path and
      // GC-amplified under memory pressure. One exact down-cast to
      // (18,4) before the sum (TPC-H line revenue < 10^14, scale 4 is
      // the product's full precision) keeps every per-row value
      // Long-backed; the sum result (28,4) → double output is
      // bit-identical to the wide path. Round-4 measured: 1.7s → 1.4s
      // quiet, and far less tail risk on a contended host.
      // r22 (guide §2.4, share one exchange): hash-partitioning on
      // l_suppkey ALONE satisfies both downstream distribution
      // requirements — the (suppkey, partkey) aggregation (subset-of-
      // clustering rule) and the per-suppkey window — so one explicit
      // repartition collapses the committed 2-exchange/2-sort plan to
      // 1 exchange + 1 sort (plans/r22/q23_topk_{before,after}.txt).
      // Bytes are a wash at every scale: at (suppkey, partkey)
      // cardinality ≈ row count the map-side partial agg barely
      // reduces (sf0.1), and at 100 TB rows-per-group-per-map-task ≪ 1
      // so the partial agg passes raw rows through anyway; the saved
      // exchange + sort + partial-limit pass is pure win. Skew-safe:
      // TPC-H rows per supplier is a constant (~600) at any SF.
      // Interleaved A/B (commit 27106f7's harness, 7 reps): min
      // 1.459 → 0.898 s, med 1.704 → 1.241 s; rows bit-identical
      // (decimal sum is order-independent, window order fully
      // tiebroken).
      val rev = Tables.lineitem(s, d)
        .repartition(col("l_suppkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum((price * (lit(1).cast(DecimalType(18, 2)) - disc))
          .cast(DecimalType(18, 4))).as("_rev"))
      // partkey tiebreak asc_nulls_last: on a revenue TIE between a
      // NULL-partkey group and a named one, bare ASC hands rank 2/3
      // to different groups per engine (r18 nulltime probe; q71's
      // null-suppkey path learned this in r15 — the window path here
      // had the same latent edge). DESC already agrees (both engines
      // place NULLs last on DESC).
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("_rev").desc, col("l_partkey").asc_nulls_last)
      rev.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("l_suppkey"), col("l_partkey"),
          col("_rev").cast("double").as("revenue"), col("rk").cast("long").as("rk"))
    }),

    // §2h — exact dedup: sha256 content hash → keeper id + copy count.
    // One hash-partitioned aggregation; the 100-TB exact-dedup shape.
    "q24_dedup_docs" -> ((s, d) =>
      TextOps.exactDedupGroups(docsWithExactDups(s, d), "doc_id", "text")),

    // §2f — text stats: token/char/distinct counts, punctuation,
    // stopword count + ratio, mean token length, and a corpus-quality
    // flag. Integer arithmetic plus two final divisions.
    "q25_text_stats" -> ((s, d) => {
      val q = TextOps.qualitySignals(Tables.documents(s, d), "doc_id", "text")
      q.select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        col("n_punct").cast("long").as("n_punct"),
        col("n_stopwords").cast("long").as("n_stopwords"),
        col("mean_tok_len"), col("stopword_ratio"), col("quality_flag"))
    }),

    // §2h — brute-force cosine top-k vs one probe vector: the exact
    // ANN baseline. Probe broadcast (1 row), corpus scanned once,
    // per-partition top-k + k-row merge — no global sort.
    "q26_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      VectorOps.cosineTopK(e, e.filter(col("vec_id") === 0L),
        "vec_id", "embedding", 10)
    }),

    // §2g — event-time sessionization, batch form: tumbling 1-hour
    // windows × event_type. One shuffle; the Structured Streaming
    // twin (watermark + dropDuplicates) lives in graft.streaming.
    "q27_sessionize" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n"))),

    // §2d — approximate distinct (HLL++): distinct users per event
    // type. The sketch is merge-associative → identical at any
    // partition count, and constant-memory at 100 TB where exact
    // distinct shuffles every key. The graded surface is a tolerance
    // certificate, not the raw estimate: `within_tol` asserts the
    // sketch lands within max(2, 2%) of the exact count (rsd 0.005 →
    // 2% is >4σ), so the gate stays meaningful-but-robust at any
    // fixture cardinality instead of demanding bitwise equality of a
    // probabilistic sketch (exact-regime luck). The exact count is
    // computed only to certify — production uses the sketch alone.
    "q28_approx_distinct" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.005).as("_approx"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("n_users"),
          (abs(col("_approx") - col("n_users")) <=
            greatest(lit(2L), (col("n_users") * 0.02).cast("long")))
            .as("within_tol"))),

    // §2h — MinHash + LSH banding near-dup detection: shingle →
    // 32-perm minhash → 16 bands × r=2 → bucket self-join →
    // exact-Jaccard verify (integer ≥ 4/5). Candidate generation is a
    // hash join on bucket keys — never all-pairs. The oracle computes
    // ground-truth all-pairs Jaccard (feasible only at fixture scale);
    // matching it end-to-end certifies both recall and precision of
    // the banding at this threshold. Probabilistic-gate risk budget:
    // precision is exact (every candidate is Jaccard-verified); recall
    // misses only if a true pair ≥4/5 evades all 16 bands. Planted
    // near-dups (one token appended to ~100-token docs) sit at
    // J ≈ 0.94 → per-band hit p = J² ≈ 0.89, miss = (1-J²)^16 ≈ 1e-15
    // per pair; the all-distinct random corpus has no organic pairs
    // near the 0.8 threshold (verified in TextOpsSpec recall test), so
    // the bitwise gate holds by a ~1e-12 margin, not by luck.
    "q29_minhash_lsh_neardup" -> ((s, d) => {
      val corpus = docsWithNearDups(s, d)
      // all downstream set work runs on numeric 64-bit shingle hashes
      // (cheap longs, no n-gram strings — TextOps.ngramHashes64); the
      // 31-bit fold for minhash permutations derives from them.
      // Materialize.once: the shingle table feeds THREE consumers
      // (minhash signatures + both sides of the Jaccard verify join) —
      // without it the tokenize/shingle/hash pipeline re-executes per
      // consumer (the round-3 q29 hot spot). Eager reliable checkpoint
      // (durable-dir recoverable, unlike the localCheckpoint used
      // through r12) — the same "shingle once, reuse" layout a 100-TB
      // run would persist between dedup stages.
      val sh = graft.ops.Materialize.once("q29.sh",
        corpus.select(col("doc_id"),
          TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("sh")))
      // minhashSignatures folds the 64-bit hashes to 31-bit internally
      // (one scalar pmod post-explode — no extra array pass).
      val sig = TextOps.minhashSignatures(sh, "doc_id", "sh", 32)
      // maxBucket=64 is a deliberate recall trade (ADVICE round 4):
      // buckets >64 docs are boilerplate collisions, not near-dups; a
      // true pair at J≥0.8 collides in ≥10 of 16 bands in expectation,
      // so dropping hot buckets costs ~nothing (TextOpsSpec pins both
      // directions). The sf0.1 corpus has no over-cap buckets — the
      // graded result is identical to the uncapped one.
      val cands = TextOps.lshCandidates(
        TextOps.lshBands(sig, "doc_id", "sig", 16, 2), "doc_id",
        maxBucket = 64)
      TextOps.jaccardVerify(cands, sh, "doc_id", "sh", 4, 5)
    }),

    // §2h — SimHash fingerprints (rows-only: sketch values are not
    // SQL-portable; unit-tested in TextOpsSpec instead). Near-dups
    // differ in few bits; `band` (top 16 bits) is the grouping key a
    // banded Hamming search would bucket on. Explode+agg form: one
    // codegen'd pass, not 64 interpreted array folds.
    "q30_simhash" -> ((s, d) =>
      TextOps.simhashSignatures(
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks")),
        "doc_id", "_toks", "simhash")
        .withColumn("band", shiftright(col("simhash"), 48))),

    // §2f — language-ID heuristic: marker-token hit counts per
    // language, prediction = arg-max ratio with a floor. Integer
    // counts → oracle-exact.
    "q31_lang_id" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "row", "table", "data")
      val es = Seq("el", "la", "de", "y", "en", "es", "un", "una", "que", "por")
      val de = Seq("der", "die", "das", "und", "zu", "den", "von", "mit", "ist", "ein")
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          TextOps.langMarkerHits(toks, en).cast("long").as("en_hits"),
          TextOps.langMarkerHits(toks, es).cast("long").as("es_hits"),
          TextOps.langMarkerHits(toks, de).cast("long").as("de_hits"))
        .withColumn("pred_lang",
          when(col("en_hits") >= col("es_hits")
              && col("en_hits") >= col("de_hits")
              && col("en_hits") * 20 >= col("n_tokens"), lit("en"))
            .when(col("es_hits") >= col("de_hits")
              && col("es_hits") * 20 >= col("n_tokens"), lit("es"))
            .when(col("de_hits") * 20 >= col("n_tokens"), lit("de"))
            .otherwise(lit("unknown")))
    }),

    // §2f — token counting: whitespace tokens + BPE-ish subword
    // estimate (alpha/digit/symbol runs, ceil(len/4) per run).
    "q32_token_count" -> ((s, d) => {
      val t = TextOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")
      t.select(col("doc_id"),
        col("n_ws_tokens").cast("long").as("n_ws_tokens"),
        col("n_runs").cast("long").as("n_runs"),
        col("n_subwords_est"))
    }),

    // §2f — positional polynomial fingerprint: order-sensitive content
    // signature in exact integer arithmetic (portable to any engine).
    "q33_doc_fingerprint" -> ((s, d) =>
      // null-text docs excluded on BOTH sides: the oracle's
      // unnest+GROUP BY drops them (no rows to group), so the engine
      // emitting (doc_id, NULL) would be a row-set divergence the
      // moment the fixture drifts a null in (the q50/q90 class)
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.docFingerprint(TextOps.tokens(col("text"))).as("fingerprint"))),

    // §2h — embedding-cosine near-dup pairs, blocked by label (the
    // production block is an LSH bucket/IVF cell): planted perturbed
    // copies sit at cosine ≈ 0.999+, random intra-label pairs ≤ ~0.5 —
    // threshold 0.9 has a wide margin on both sides.
    "q34_embed_neardup" -> ((s, d) =>
      VectorOps.cosineNearDupPairs(embWithNearDups(s, d),
        "vec_id", "embedding", "label", 0.9)),

    // §2h — IVF-style ANN: label = precomputed coarse-quantizer cell;
    // rank cells by probe↔centroid cosine, scan only the best nprobe
    // cells. The 100-TB similarity-search path: scans nprobe/|cells|
    // of the corpus instead of all of it.
    "q35_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // Build/search split: the quantizer (per-cell centroids) is an
      // INGEST artifact — built once per DATASET (content-keyed via
      // graft.Fixtures, so it survives across sessions on identical
      // data and self-invalidates when the driver regenerates the
      // fixture; the literal tag is the code's part of the key — bump
      // it if centroid training changes) and persisted to parquet;
      // the query only READS it. The returned search plan therefore
      // contains no full-corpus aggregation (PlanSpec-asserted) — at
      // 100 TB the query scans nprobe cells plus a |cells|-row
      // centroid table, nothing else.
      val cpath = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_v2_" +
        graft.Fixtures.tableFingerprint(d, "embeddings")
      // gate on the _SUCCESS marker, not bare directory existence: a
      // crashed prior write leaves a partial parquet dir that would
      // pass an exists() check and silently serve incomplete centroids
      // (ADVICE round 4). Since r12 the install is stage-and-rename
      // (StagedArtifact): the path is shared across sessions by
      // content key, and two JVMs building concurrently must not
      // interleave overwrite phases under one _SUCCESS.
      graft.ops.StagedArtifact.writeOnce(cpath) { stage =>
        VectorOps.ivfCentroids(e, "embedding", "label")
          .write.mode("overwrite").parquet(stage)
      }
      VectorOps.ivfTopK(e, s.read.parquet(cpath),
        e.filter(col("vec_id") === 0L),
        "vec_id", "embedding", "label", 3, 10)
    }),

    // §2h (multimodal) — opaque binary payloads through a typed
    // mapPartitions decode stage (stubbed codec, real plumbing:
    // schema, partition batching, feature extraction). Features are
    // integer-derived from the bytes → oracle-exact.
    "q36_multimodal_features" -> ((s, d) =>
      // null payloads excluded: decodeOne would NPE on r.payload, and
      // the decode contract is "features of BYTES" — absent bytes are
      // an upstream quality-gate concern, not a decodable record
      MultimodalOps.extractFeatures(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload"))
  )

  private val dupUnionDocs =
    s"""SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id + $DupOffset AS doc_id, text FROM documents""".stripMargin

  // one revision per doc_id (max(text)) before planting — the same
  // latest-revision-wins collapse docsWithNearDups applies (r16
  // dupfacts probe): both engines must agree on WHICH text a dup id
  // contributes before pair identity means anything
  private[queries] val nearDupUnionDocs =
    s"""SELECT doc_id, max(text) AS text FROM documents GROUP BY doc_id
       | UNION ALL SELECT doc_id + $DupOffset AS doc_id, max(text) || ' graftdup' AS text FROM documents GROUP BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // json_valid guard (r15 empty-string probe): DuckDB's ->> HARD
    // ERRORS on non-JSON input ('' included) where the engine's
    // get_json_object contract is NULL-on-malformed — the guard makes
    // the oracle state the same contract instead of relying on the
    // fixtures never carrying a malformed props.
    "q21_json_extract" ->
      // integral-lexicon guard on the extracted text (r18 JSON probe):
      // DuckDB's TRY_CAST(string AS BIGINT) accepts scientific
      // notation ('1e2' → 100) and even hex ('0x1F' → 31) where
      // Spark's try_cast is strictly [ws][sign]digits[ws] → NULL.
      // The engine's strictness is the contract — a telemetry field
      // that isn't a plain integer is "not a long", not 31.
      """SELECT event_id, event_type,
        | CASE WHEN json_valid(props)
        |       AND regexp_matches(props->>'$.k', '^\s*[+-]?[0-9]+\s*$')
        |      THEN TRY_CAST(props->>'$.k' AS BIGINT) END AS k
        |FROM events""".stripMargin,
    "q22_running_total" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         sum(TRY_CAST(nullif(value, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS d
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, CAST(d AS DOUBLE) AS daily_amt,
        |       CAST(sum(d) OVER (PARTITION BY user_id ORDER BY day) AS DOUBLE) AS running_amt
        |FROM daily""".stripMargin,
    "q23_topk" ->
      """WITH rev AS (
        |  SELECT l_suppkey, l_partkey,
        |         sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - TRY_CAST(nullif(l_discount, 'nan'::DOUBLE) AS DECIMAL(18,2)))) AS r
        |  FROM lineitem GROUP BY 1, 2),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey ORDER BY r DESC, l_partkey) AS rk FROM rev)
        |SELECT l_suppkey, l_partkey, CAST(r AS DOUBLE) AS revenue, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 3""".stripMargin,
    "q24_dedup_docs" ->
      s"""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
         |       count(*) AS n_copies
         |FROM ($dupUnionDocs) WHERE text IS NOT NULL GROUP BY 1""".stripMargin,
    "q25_text_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        | CAST(len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','an','of','and','or','to','in','is','are','was',
        |              'it','that','this','for','on','with','as','at','by','be'))) AS BIGINT) AS n_stopwords,
        | CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS mean_tok_len,
        | CAST(len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','an','of','and','or','to','in','is','are','was',
        |              'it','that','this','for','on','with','as','at','by','be'))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS stopword_ratio,
        | -- NULL text flags too_short like the engine (r14 review: the
        | -- bare CASE fell through to 'ok' on both sides — agreeing,
        | -- but agreeing on letting contentless docs pass the filter)
        | CASE WHEN text IS NULL THEN 'too_short'
        |      WHEN len(string_split(text, ' ')) < 10 THEN 'too_short'
        |      WHEN len(list_distinct(string_split(text, ' '))) * 3 < len(string_split(text, ' ')) THEN 'repetitive'
        |      ELSE 'ok' END AS quality_flag
        |FROM documents""".stripMargin,
    "q26_cosine_topk" ->
      """SELECT b.vec_id,
        |       round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings a CROSS JOIN embeddings b
        |WHERE a.vec_id = 0
        |  -- unrankable corpus vectors — NULL, dimension-mismatched
        |  -- (vs the probe), zero-norm — are dropped by the engine's
        |  -- !isnan(sim) filter (NULL and NaN sims alike); DuckDB's
        |  -- list_cosine_similarity ERRORS on the first two, so the
        |  -- oracle excludes the same set up front (r13 mixed sweep)
        |  AND b.embedding IS NOT NULL
        |  AND len(b.embedding) = len(a.embedding)
        |  AND list_sum(list_transform(CAST(b.embedding AS DOUBLE[]), x -> x * x)) > 0
        |ORDER BY sim DESC, b.vec_id LIMIT 10""".stripMargin,
    "q27_sessionize" ->
      // ts IS NOT NULL pins the engine's window() contract (r18
      // nulltime probe): Spark's TimeWindowing plants an isnotnull
      // filter — an event with no event-time belongs to no hour
      // bucket — where bare DuckDB would emit a NULL hour_start group
      "SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1, 2",
    "q28_approx_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS within_tol FROM events GROUP BY 1",
    "q29_minhash_lsh_neardup" ->
      s"""WITH corpus AS ($nearDupUnionDocs),
         | sh AS (SELECT doc_id,
         |   list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
         |   FROM corpus WHERE len(string_split(text,' ')) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
         |       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INT) AS n_union
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4""".stripMargin,
    "q31_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        | h AS (SELECT doc_id, lang,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','row','table','data'))) AS BIGINT) AS en_hits,
        |   CAST(len(list_filter(toks, t -> t IN ('el','la','de','y','en','es','un','una','que','por'))) AS BIGINT) AS es_hits,
        |   CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','zu','den','von','mit','ist','ein'))) AS BIGINT) AS de_hits
        |   FROM t)
        |SELECT *,
        | CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits * 20 >= n_tokens THEN 'en'
        |      WHEN es_hits >= de_hits AND es_hits * 20 >= n_tokens THEN 'es'
        |      WHEN de_hits * 20 >= n_tokens THEN 'de'
        |      ELSE 'unknown' END AS pred_lang
        |FROM h""".stripMargin,
    "q32_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_runs,
        | -- zero runs must SUM to zero, not NULL (DuckDB's list_sum of
        | -- an empty list is NULL; the engine's fold starts at 0 — r13
        | -- edge sweep); a NULL text stays NULL through the CASE
        | CAST(CASE WHEN text IS NULL THEN NULL ELSE
        |   COALESCE(list_sum(list_transform(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'),
        |      t -> (length(t) + 3) // 4)), 0) END AS BIGINT) AS n_subwords_est
        |FROM documents""".stripMargin,
    // PER-RECORD, not GROUP BY doc_id (r16 dupfacts probe): the
    // fingerprint derives from one record's text; grouping by id
    // silently merged two same-id revisions' token streams into a
    // fingerprint of NEITHER. The index lambda keeps the identical
    // 1-based ord arithmetic; WHERE keeps the engine's isNotNull
    // row set (unnest used to drop NULL-text docs implicitly).
    "q33_doc_fingerprint" ->
      """SELECT doc_id,
        | CAST(list_sum(list_transform(string_split(text, ' '),
        |   (tok, ord) -> ord * (ascii(tok) * 131 + length(tok)))) % 2147483647 AS BIGINT) AS fingerprint
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "q34_embed_neardup" ->
      s"""WITH e AS (
         |  -- degenerate embeddings carry no direction: NULL, empty,
         |  -- and ALL-ZERO vectors. The engine's zero-norm guard
         |  -- (cosineNearDupPairs: _n_a > 0 && _n_b > 0) excludes all
         |  -- three; DuckDB's list_cosine_similarity ERRORS on them
         |  -- instead, so the oracle excludes the same set up front —
         |  -- including the all-zero case, which IS NOT NULL/len>0
         |  -- alone would let through (r13 edge sweep + review)
         |  -- isfinite mirrors the engine's finite-norm guard (r16
         |  -- naninf probe): a NaN/Inf component means no direction
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) > 0
         |    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
         |    AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
         |  UNION ALL
         |  -- the dup arm's guard tests the TRANSFORMED vector: an
         |  -- all-zero base becomes [0.02, …] here — non-degenerate,
         |  -- and the engine (same transform, same guard order)
         |  -- includes it
         |  SELECT vec_id + $DupOffset AS vec_id, label,
         |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.05 + 0.02) AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) > 0
         |    AND list_sum(list_transform(
         |          list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.05 + 0.02),
         |          y -> y * y)) > 0
         |    AND isfinite(list_sum(list_transform(
         |          list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.05 + 0.02),
         |          y -> y * y))))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |-- ragged pairs (unequal dimension) are NULL-sim for the
         |-- engine and excluded by its >= threshold; DuckDB errors on
         |-- them, so the oracle skips them explicitly (r13 mixed sweep)
         |WHERE len(a.v) = len(b.v)
         |  AND list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,
    // non-finite embeddings are UNASSIGNABLE in the engine (a NaN
    // distance returns nearestCentroid's -1 sentinel: trains no cell,
    // matches no centroid — r16 mixed augmentation): one NaN vector
    // in the corpus otherwise turns its label's centroid dims to NaN,
    // NaN sorts FIRST under DESC in both engines, and the poisoned
    // label enters best-3 where its ragged members ERROR DuckDB's
    // list_cosine. The oracle states the exclusion with isfinite on
    // the squared norm (training AND search); the ragged-pair guard
    // (len =) mirrors the engine's NULL-sim-on-mismatch as before.
    "q35_ann_ivf" ->
      """WITH probe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0),
        | dims AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |                 generate_subscripts(embedding, 1) AS i FROM embeddings
        |          WHERE isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)))),
        | cent AS (SELECT label, i, avg(x) AS c FROM dims GROUP BY 1, 2),
        | pnorm AS (SELECT sqrt(list_sum(list_transform(p, y -> y * y))) AS pn FROM probe),
        | csim AS (SELECT label, sum(c * p[i]) / (sqrt(sum(c * c)) * any_value(pn)) AS cs
        |          FROM cent, probe, pnorm GROUP BY label),
        | best AS (SELECT label FROM csim ORDER BY cs DESC, label LIMIT 3)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p), 6) AS sim
        |FROM embeddings e JOIN best USING (label) CROSS JOIN probe
        |WHERE len(CAST(e.embedding AS DOUBLE[])) = len(p)
        |  AND isfinite(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), y -> y * y)))
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "q36_multimodal_features" ->
      """SELECT doc_id AS media_id,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CAST(64 + strlen(text) % 512 AS BIGINT) AS width,
        | CAST(64 + (strlen(text) // 7) % 512 AS BIGINT) AS height,
        | CAST(list_sum(list_transform(range(1, 17), i -> ascii(substr(text, CAST(i AS INT), 1)))) % 997 AS BIGINT) AS checksum
        |FROM documents WHERE text IS NOT NULL""".stripMargin
    // q30_simhash: sketch-valued, not SQL-portable → rows-only check.
  )
}
