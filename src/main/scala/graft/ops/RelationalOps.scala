package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** The relational operator library: one named, pure `DataFrame =>
  * DataFrame` combinator per operator family in SURVEY.md §2. No
  * session state, no collect(), no driver-side loops — every operator
  * is a declarative plan fragment that Catalyst can push down, prune,
  * and reorder, and that scales by partitioning alone.
  */
object RelationalOps {

  /** Scan-parallelism floor (r21 optimization round, guide §2.2/§6):
    * Spark splits parquet scans by byte range, but a row group is the
    * smallest readable unit — a table landing as one file with one row
    * group scans as ONE task no matter how many cores the session has,
    * and everything fused into that scan stage (projection, explode,
    * per-row hashing, map-side partial aggregation) runs serially.
    * When the scan provides fewer tasks than the session's
    * parallelism, pay one round-robin exchange of the input — bounded
    * by construction: fewer splits than cores means the input is at
    * most cores × maxPartitionBytes — so the downstream compute uses
    * every core. At production scale a 100 TB table has orders of
    * magnitude more splits than cores, the guard is false, and the
    * plan is UNTOUCHED — this derives the decision from the data's
    * actual layout instead of hard-coding either local-mode or
    * cluster assumptions. Apply only where real per-row compute or a
    * partial aggregation sits between the scan and the first
    * exchange; a plain narrow scan gains nothing from the extra hop.
    *
    * Apply ONLY where the pre-exchange per-row work is genuinely
    * expensive (measured with commit ff67206's interleaved A/B harness):
    * an interpreted expression
    * chain (zip_with n-gram hashing) or a broadcast nested-loop probe.
    * Codegen'd explode+aggregate pipelines and plain partial
    * aggregations measured FASTER without it — the exchange of raw
    * rows costs more than the single-task compute it parallelizes.
    *
    * The spread key is a HASH partitioning on a high-cardinality
    * deterministic key (the row's id), not round-robin: round-robin
    * pays a per-partition binary sort of the input first
    * (spark.sql.execution.sortBeforeRepartition, SPARK-23207 — needed
    * so retried tasks reproduce their placement), and that serial sort
    * measured away most of the win; a hash of a deterministic key is
    * retry-stable for free. Results are bit-identical either way: row
    * order is not part of any graded query's contract and every
    * aggregate downstream is order-independent (DECIMAL sums / integer
    * counts / min-max).
    */
  def rebalanceScan(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "rebalanceScan needs a deterministic spread key")
    val want = df.sparkSession.sparkContext.defaultParallelism
    // Guard from FILE METADATA, not `.rdd` (r22, VERDICT r21 finding 5):
    // the old `df.rdd.getNumPartitions` probe forced physical planning
    // of a second lineage and enumerated scan splits per invocation —
    // harmless at sf0.1, real plan-time latency on a 100 TB table.
    // Estimate the scan's task count from the relation's FileIndex
    // (cached driver metadata, no job, no physical plan) with Spark's
    // own split math (FilePartition.maxSplitBytes + openCostInBytes
    // bin-packing). A plan that is not a single file-source scan is
    // left untouched — this helper is declared for scans.
    estimatedScanSplits(df) match {
      case Some(splits) if splits < want => df.repartition(want, keys: _*)
      case _ => df
    }
  }

  /** Scale-adaptive count for a fixture-compensating repartition
    * (r22, guide §2/§6): `max(floor, estimated scan splits)`. The
    * fixture parquet is one row group → the estimate is 1 and the
    * local count stays exactly the historical constant (`floor`), so
    * committed bench lines remain comparable; on a production table
    * the estimate is the scan's own task count, so an unconditional
    * `repartition(8)` can no longer serialize a 100-TB input into 8
    * tasks (q113's RR map stage) or cap a layout rewrite at 8 writers
    * (q67/q92's range writes — splits ≈ bytes/maxPartitionBytes keeps
    * output files in the guide's 128 MB–1 GB band). Metadata-only:
    * same FileIndex probe as [[rebalanceScan]]'s guard, no job, no
    * second lineage; a plan that is not one file-source scan keeps
    * the floor unchanged.
    */
  def scanScaledPartitions(df: DataFrame, floor: Int): Int = {
    require(floor >= 1, s"floor must be >= 1, got $floor")
    estimatedScanSplits(df)
      .map(est => math.max(floor.toLong, est).min(Int.MaxValue.toLong).toInt)
      .getOrElse(floor)
  }

  /** Estimated scan task count of a single-file-relation plan, from
    * FileIndex metadata alone — the same `maxSplitBytes` + open-cost
    * bin-packing Spark's FileSourceScanExec performs, as a count:
    * ceil(Σ per-piece (bytes + openCost) / maxSplitBytes). None when
    * the plan is not exactly one V1 file relation.
    */
  private[graft] def estimatedScanSplits(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    // analyzed (not logical): Spark 4 keeps the reader lazy as
    // UnresolvedDataSource until analysis; analysis is paid by any use
    // of the frame anyway, unlike .rdd's physical planning
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.size != 1) None
    else {
      val spark = df.sparkSession
      val dirs = rels.head.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      // replicate FilePartition.getFilePartitions' packing: files split
      // into ≤maxSplit pieces, pieces sorted by length desc, a
      // partition closes when the NEXT piece's length would overflow
      // maxSplit, and each placed piece charges openCost afterwards
      val pieces = dirs.iterator.flatMap(_.files).flatMap { f =>
        val n = ((f.getLen + maxSplit - 1) / maxSplit).max(1L)
        Iterator.tabulate(n.toInt)(i =>
          math.min(maxSplit, f.getLen - i.toLong * maxSplit))
      }.toSeq.sorted(Ordering[Long].reverse)
      var parts = 0L
      var current = 0L
      var open = false
      pieces.foreach { len =>
        if (open && current + len > maxSplit) { parts += 1; current = 0L; open = false }
        current += len + openCost
        open = true
      }
      Some(parts + (if (open) 1L else 0L))
    }
  }

  /** Exact money arithmetic: sum as DECIMAL(18,2) (order-independent,
    * no float drift at any scale or partition count), surfaced as
    * DOUBLE for a stable cross-engine column type. The reference keeps
    * money stringly-typed and lets MySQL coerce
    * (load_sales_data.py:68-69); we keep it exact instead.
    */
  def sumMoney(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** NULL unless finite — the quarantine boundary for RAW-double
    * measures (r16 naninf probe). Money aggregates get this for free
    * (Spark's decimal cast nulls NaN/±Inf), but percentile/band paths
    * operate on raw doubles, where Spark's SQL NaN semantics order
    * NaN GREATER than every value — so NaN sails through `> 0` guards
    * and sorts into the top of every percentile. The between test is
    * false for NaN (greater than MaxValue under those semantics) and
    * for ±Inf; aggregates then skip the NULL like any other absent
    * measure. Oracles state the same contract with isfinite().
    */
  def finiteOrNull(c: Column): Column =
    when(c.between(-Double.MaxValue, Double.MaxValue), c)

  /** Exclusion filter (P1): drop a known bad key during a master load
    * (reference: sp_code == '000002', load_store_data.py:69-72).
    * NULL keys are KEPT: the contract is "drop the one bad key", and a
    * bare `=!=` evaluates to NULL for NULL keys, which filter() would
    * silently discard along with the bad one.
    */
  def excludeKey(df: DataFrame, keyCol: String, bad: Any): DataFrame =
    df.filter(col(keyCol).isNull || col(keyCol) =!= lit(bad))

  /** Null-or-empty predicate (P2): the reference treats NULL and ''
    * as the same "missing" state (kicc_to_tb_sales_prod.py:126-131).
    */
  def isMissing(c: Column): Column = c.isNull || c === lit("")

  /** Conditional constant fill over an IN-list (P3): reference sets
    * responsible='직영' for null rows with chain_no in a fixed list
    * (kicc_to_tb_sales.py:126-134).
    */
  def inListNullFill(df: DataFrame, target: String, keyCol: String,
                     keys: Seq[Any], const: String): DataFrame =
    df.withColumn(target,
      when(col(target).isNull && col(keyCol).isin(keys: _*), lit(const))
        .otherwise(col(target)))

  /** Rename-projection (P5): staging column names → mart business
    * names (kicc_to_tb_sales.py:73-86). Pure select-as; Catalyst
    * prunes unreferenced source columns out of the scan.
    */
  def renameProject(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** Cast every column to string, preserving NULL (F4;
    * load_sales_data.py:68-69).
    */
  def castAllString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)

  /** yyyyMMdd VARCHAR → DATE (F1; kicc_to_tb_sales.py:72). Malformed
    * input → null, matching the reference's validate_date None
    * (load_sales_with_prod_data_spec.py:123-128) — `try_` because
    * ANSI mode (Spark 4 default) makes plain to_date THROW on
    * malformed input, and one bad row must never kill a 100-TB job.
    */
  def parseYyyymmdd(c: Column): Column =
    try_to_timestamp(c, lit("yyyyMMdd")).cast("date")

  /** DATE → yyyyMMdd string (F2; load_sales_data.py:146-149). */
  def formatYyyymmdd(c: Column): Column = date_format(c, "yyyyMMdd")

  /** All dates in [lo, hi] as one column `d` (F6;
    * load_sales_with_prod_data_period.py:130-133). Generated on the
    * executors via sequence+explode — no driver loop.
    */
  def dateRange(lo: String, hi: String): Column =
    explode(sequence(to_date(lit(lo)), to_date(lit(hi)), expr("interval 1 day")))

  /** Work-unit generator (J5): every key × every date in the window
    * (load_sales_data.py:160-164). The date side is tiny so Catalyst
    * plans a broadcast nested loop — no shuffle of the key side.
    */
  def crossJoinWorklist(keys: DataFrame, lo: String, hi: String): DataFrame =
    keys.crossJoin(keys.sparkSession.range(1).select(dateRange(lo, hi).as("d")))

  /** Latest-wins upsert / MERGE (U1): one shuffle on the key, incoming
    * beats target — priority is explicit, never file order (SURVEY.md
    * §7 risk 2). This replaces the reference's per-row exists-probe +
    * UPDATE/INSERT (load_sales_data.py:129-134) with a single window
    * over `target ∪ incoming`; at 100 TB it is one hash-partitioned
    * exchange instead of 2N round-trips.
    *
    * Determinism contract: each side must be key-unique (the
    * reference's tables are, by PK). If a side may carry duplicate
    * keys, pass `tiebreak` columns that totally order rows within a
    * key so re-runs are bitwise reproducible at any partition count.
    */
  def upsertLatestWins(target: DataFrame, incoming: DataFrame,
                       keys: Seq[String],
                       tiebreak: Seq[Column] = Nil): DataFrame = {
    // reserved working names (r14 review): withColumn would silently
    // OVERWRITE a same-named business column and drop it on the way
    // out — loud beats a vanished column
    Seq("_src_priority", "_rn").foreach { r =>
      require(!target.columns.contains(r) && !incoming.columns.contains(r),
        s"column name '$r' is reserved by upsertLatestWins; rename it")
    }
    val unioned = target.withColumn("_src_priority", lit(1))
      .unionByName(incoming.withColumn("_src_priority", lit(0)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_src_priority") +: tiebreak: _*)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src_priority")
  }

  /** Insert-if-absent half of the upsert (J3): rows whose key has no
    * match in target (load_sales_data.py:132-134).
    */
  def newRows(incoming: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(target.select(keys.map(col): _*), keys, "left_anti")

  /** Update-if-present half (J4): rows whose key already exists
    * (load_sales_data.py:129-131).
    */
  def existingRows(incoming: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(target.select(keys.map(col): _*), keys, "left_semi")

  /** Update-join (J1): MySQL `UPDATE fact JOIN dim SET fact.c = dim.c`
    * (kicc_to_tb_sales.py:108-125) ≡ broadcast left join + overwrite-
    * when-matched. Reads `dimCol` keyed by `key` from `dim`,
    * overwriting `fact(factCol)` where a non-null dim value matches.
    * The dim is deduped on its key (min) before the join so duplicate
    * dim keys can never fan out fact rows.
    */
  def enrichJoinOverwrite(fact: DataFrame, dim: DataFrame, key: String,
                          factCol: String, dimCol: String): DataFrame = {
    val d = dim.groupBy(col(key)).agg(min(col(dimCol)).as("_dim_v"))
    fact.join(broadcast(d), Seq(key), "left")
      .withColumn(factCol, coalesce(col("_dim_v"), col(factCol)))
      .drop("_dim_v")
  }

  /** Filtered update-join (J2): fill only where currently NULL/''
    * (kicc_to_tb_sales_prod.py:119-134). Dim is deduped on its key so
    * the join can't fan out, then broadcast.
    */
  def dimFillWhenEmpty(fact: DataFrame, dim: DataFrame, factKey: String,
                       dimKey: String, factCol: String, dimCol: String): DataFrame = {
    val d = dim.groupBy(col(dimKey).as(factKey))
      .agg(min(col(dimCol)).as("_fill_v"))
    fact.join(broadcast(d), Seq(factKey), "left")
      // fill only where a fill VALUE exists: an unmatched fact row must
      // keep its '' rather than have it rewritten to NULL (the
      // reference's UPDATE...JOIN touches only matched rows)
      .withColumn(factCol,
        when(isMissing(col(factCol)) && col("_fill_v").isNotNull, col("_fill_v"))
          .otherwise(col(factCol)))
      .drop("_fill_v")
  }

  /** JSON-envelope ingest decode (S1): gate on ret_code=="0000", then
    * explode the payload array (load_sales_data.py:93-100). `schema`
    * is the full envelope StructType with a `data` array field; every
    * payload field is nullable by construction, matching the
    * reference's dict.get(...) → None semantics
    * (load_sales_data.py:104-127).
    */
  def decodeEnvelope(raw: DataFrame, jsonCol: String, schema: StructType,
                     keep: Seq[String] = Nil): DataFrame = {
    // `keep`: pass-through columns that ride next to the decoded
    // records (r12, for the nightly composition: the work unit's
    // (store_id, d) coordinates override the API's own date — the
    // reference's loop-date-wins rule, load_sales_data.py:106).
    // "Override" is literal: a payload field sharing a keep name is
    // DROPPED from the output (a naive `_rec.*` would emit both and
    // the next reference to the name would fail AMBIGUOUS_REFERENCE).
    val kept = keep.map(col)
    val payloadFields = schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq
    // collision filter matching the SESSION's resolution rule (r14
    // review, tightened r15 ADVICE): under the default
    // spark.sql.caseSensitive=false a payload field "STORE_ID" next to
    // keep("store_id") would re-open the exact AMBIGUOUS_REFERENCE this
    // filter exists to close — so compare case-insensitively. But under
    // caseSensitive=true those are DISTINCT columns the analyzer
    // resolves fine, and an unconditional ignore-case filter would
    // silently drop a genuine payload field — so compare exactly.
    val caseSensitive = raw.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    val collides: String => Boolean =
      if (caseSensitive) f => keep.contains(f)
      else f => keep.exists(_.equalsIgnoreCase(f))
    val recCols = payloadFields
      .filterNot(collides)
      .map(f => col(s"_rec.$f"))
    raw.withColumn("_env", from_json(col(jsonCol), schema))
      .filter(col("_env.ret_code") === "0000")
      .select(kept :+ explode(col("_env.data")).as("_rec"): _*)
      .select(kept ++ recCols: _*)
  }

  /** Malformed-record quarantine: PERMISSIVE parse of a JSON string
    * column where rows that fail to parse are KEPT, with the raw text
    * captured in `quarantine_raw` — the engine's version of the
    * reference's catch-log-continue per batch
    * (kicc_to_tb_sales.py:97-98): one bad record must never kill (or
    * silently vanish from) a 100-TB job. Returns the parsed columns
    * plus `quarantine_raw` (null ⇔ row parsed cleanly); callers split
    * good/bad with one filter each. `schema` must NOT already contain
    * the quarantine column.
    *
    * from_json semantics under PERMISSIVE: a syntactically broken
    * document yields a fully-null struct (quarantined, parsed columns
    * all null); a parseable document with a wrong-typed field yields
    * nulls for the bad fields only AND sets the corrupt record — such
    * rows are quarantined too, with their well-typed fields populated
    * alongside `quarantine_raw` for replay. The invariant callers may
    * rely on is exactly "quarantine_raw IS NULL ⇔ the row parsed
    * fully clean" — partially-parsed rows are in the BAD bucket, not
    * silently half-good (P7's null-defaulting applies to fields the
    * source legitimately omitted, which is not a parse error).
    *
    * Rows whose parse produces NO struct at all — a NULL input string,
    * or the JSON text `null` — are ALSO quarantined (from_json returns
    * a null struct for both, with no corrupt record set, so without
    * this rule they would masquerade as clean all-null rows, breaking
    * the "null quarantine_raw ⇔ parsed cleanly" replay contract).
    * Their quarantine_raw is the input text, with NULL input recorded
    * as the JSON text `null` — the replay text that reproduces the
    * same non-struct outcome.
    */
  def parseWithQuarantine(raw: DataFrame, jsonCol: String,
                          schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    raw.withColumn("_rec", from_json(col(jsonCol), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .withColumn("_qraw",
        when(col("_rec").isNull, coalesce(col(jsonCol), lit("null")))
          .otherwise(col("_rec._corrupt_record")))
      .select(col("_rec.*"), col("_qraw"))
      .drop("_corrupt_record")
      .withColumnRenamed("_qraw", "quarantine_raw")
  }

  /** Skew-safe salted equi-join for BIG-fact × BIG-dim joins where the
    * fact side has hot keys: the fact's rows get a per-row salt in
    * [0, salts) and the dim side is replicated once per salt value, so
    * a hot key's rows spread across `salts` shuffle partitions instead
    * of melting one task — the join-side twin of q44's salted
    * aggregation (A7). Result is exactly the plain inner join (every
    * fact row meets its dim row at exactly one salt). The salt is
    * derived from the fact's partition/offset position — any value
    * works, the join result is salt-invariant by construction.
    *
    * When the dim side is broadcast-small, `broadcast(dim)` beats
    * salting (no shuffle at all) — this operator is for the case where
    * the dim is too big to broadcast AND the fact is skewed, which at
    * 100 TB is precisely where AQE's skew handling can't always save a
    * statically-planned shuffle join. The shuffle_hash hint keeps
    * Spark from sorting both sides (SMJ) — bucket groups are bounded
    * by construction.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 salts: Int): DataFrame = {
    // a computed salts of 0 would throw ANSI DIVIDE_BY_ZERO from pmod
    // deep inside the shuffle (and sequence(0,-1) happily yields
    // [0,-1]); fail at entry, attributably
    require(salts > 0, s"salts must be positive, got $salts")
    require(!fact.columns.contains("_salt") && !dim.columns.contains("_salt"),
      "column name '_salt' is reserved by saltedJoin; rename it")
    val f = fact.withColumn("_salt",
      pmod(spark_partition_id().cast("long") + monotonically_increasing_id(),
        lit(salts.toLong)))
    val d = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    f.join(d.hint("shuffle_hash"), Seq(key, "_salt")).drop("_salt")
  }

  /** Column profiling — the observability primitive every ingest tier
    * needs before training on a new corpus drop: per column, the null
    * count, exact distinct count, and min/max rendered as strings.
    *
    * Formulation: one two-phase HASH aggregation per column (group by
    * the value, then reduce the groups), unioned. On a columnar
    * format the per-column passes read exactly the same bytes as a
    * single wide pass — each scan prunes to its one column — and
    * every stage stays whole-stage-codegen'd with map-side partial
    * aggregation. The tempting "one scan + multi-count(DISTINCT)"
    * form plans as an Expand (rows × columns+1) into a SORT aggregate
    * (var-width multi-column grouping key), measured 7× slower at
    * sf0.1 and strictly worse at scale: it shuffles the multiplied
    * rows AND sorts them, vs hash-reducing each column to its
    * distinct values map-side. NULL never counts as a distinct value
    * (count(DISTINCT) semantics). Columns must cast to a
    * deterministic string form (ints, strings, dates) so the profile
    * is engine-portable.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    require(!cols.contains("_cnt"),
      "column name '_cnt' is reserved by profileColumns; alias it first")
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("_cnt"))
        .agg(
          coalesce(sum(when(col(c).isNull, col("_cnt"))
            .otherwise(lit(0L))), lit(0L)).as("n_null"),
          count(when(col(c).isNotNull, lit(1))).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
          col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
  }

  /** Data-quality expectations gate: evaluate every check's observed
    * metric in ONE aggregation pass over the table (a Deequ-style
    * contract without the library), then fan the single result row out
    * to one (check, observed, passed) verdict per expectation.
    *
    * `checks` supplies (name, metric aggregate, pass predicate over
    * the observed metric). The fan-out is an in-row
    * array+explode of the already-aggregated scalars — no extra scan,
    * no join, no second shuffle: the whole gate costs exactly one
    * pass over the data regardless of how many expectations it
    * carries, which is what makes running it on every nightly load
    * viable at 100 TB. Metrics surface as DOUBLE for a stable
    * cross-engine type (counts and exact sums fit a double at any
    * plausible row count < 2^53).
    */
  def qualityGate(df: DataFrame,
                  checks: Seq[(String, Column, Column => Column)]): DataFrame = {
    require(checks.nonEmpty, "qualityGate needs at least one expectation")
    val aggd = df.agg(
      checks.head._2.cast("double").as("_m0"),
      checks.tail.zipWithIndex.map { case ((_, m, _), i) =>
        m.cast("double").as(s"_m${i + 1}")
      }: _*)
    val verdicts = checks.zipWithIndex.map { case ((name, _, pass), i) =>
      // fail CLOSED on an unevaluable verdict (r14 review): a metric
      // that aggregates to NULL (avg over an empty/all-null slice)
      // makes pass(NULL) NULL — neither true nor false — and a caller
      // filtering passed === false would see no failure and land the
      // slice; NightlyRun's getBoolean would NPE instead. A gate that
      // cannot evaluate its expectation has not passed it.
      struct(lit(name).as("check"), col(s"_m$i").as("observed"),
        coalesce(pass(col(s"_m$i")), lit(false)).as("passed"))
    }
    aggd.select(explode(array(verdicts: _*)).as("_v"))
      .select(col("_v.check"), col("_v.observed"), col("_v.passed"))
  }
}
