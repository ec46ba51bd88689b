package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** ClickHouse SQL-*text* surface beyond function names: `SELECT … FROM t
  * FINAL` and `PREWHERE` rewritten to plans Spark already optimizes, so
  * a migrating user's queries run verbatim (reference semantics:
  * ClickHouse SELECT grammar — FINAL collapses MergeTree-engine state at
  * read time; PREWHERE is a storage-level filter hint).
  *
  * FINAL needs the same metadata ClickHouse gets from `CREATE TABLE …
  * ENGINE = ReplacingMergeTree(ver) ORDER BY key`: which columns form
  * the sort key and how rows merge. Callers declare it once per table
  * via [[ClickHouseSql.registerEngine]]; `FROM t FINAL` then expands to
  * the engine's read-time collapse:
  *
  *   - Replacing: latest row per sort key (version-tuple DESC) — one
  *     window over the key, the q59 plan shape.
  *   - Collapsing: keys with SUM(sign) > 0 survive, carrying the latest
  *     sign=+1 row's values (max_by over the version tuple) — one
  *     aggregation, the q60 plan shape.
  *   - Summing: measures summed per sort key, other columns any_value —
  *     one aggregation, the q62 plan shape.
  *
  * `FROM t FINAL` on a table with NO registered engine is left
  * untouched (ANSI reading: `final` is a table alias), so the rewrite
  * never hijacks standard SQL. PREWHERE folds into WHERE (AND-combined
  * when both appear) — Catalyst's filter pushdown then does what
  * ClickHouse's PREWHERE stage does physically.
  *
  * Both rewrites are pure text→text (string/identifier/comment-aware
  * token scan, no regex over literals), exposed three ways: [[rewrite]]
  * for tests/tools, [[sql]] for any session, and [[ClickHouseSqlParser]]
  * injected by GraftExtensions so plain `spark.sql` accepts the dialect.
  */
object ClickHouseSql {

  /** MergeTree read-time merge semantics for one table. */
  sealed trait Engine { def sortKey: Seq[String] }

  /** ReplacingMergeTree(ver…): latest version tuple per sort key wins. */
  final case class Replacing(sortKey: Seq[String], version: Seq[String])
    extends Engine

  /** CollapsingMergeTree(sign): +1 inserts state, -1 cancels; a key
    * survives iff its sign sum is positive, carrying the latest +1 row
    * (version-tuple order).
    */
  final case class Collapsing(sortKey: Seq[String], sign: String,
    version: Seq[String]) extends Engine

  /** SummingMergeTree(measures…): measures sum per sort key; remaining
    * columns keep an arbitrary row's value (ClickHouse picks one).
    */
  final case class Summing(sortKey: Seq[String], measures: Seq[String])
    extends Engine

  /** AggregatingMergeTree: state columns merge per sort key with the
    * function their `AggregateFunction(f, T)` declaration names. In the
    * batch re-expression states are VALUES for the linear aggregates
    * (a partial sum IS a sum, a partial count IS a count — merged by
    * SUM; min/max/any are their own merge), which is the
    * q61_agg_state model; non-linear states (avg, quantiles) are
    * engine-opaque in CH and rejected loudly at DDL time with the
    * restatement to use (sum+count columns).
    *
    * @param merges lowercased column name → merge SQL function
    */
  final case class Aggregating(sortKey: Seq[String],
    merges: Map[String, String]) extends Engine

  private val engines =
    new java.util.concurrent.ConcurrentHashMap[String, Engine]

  /** Declare a table's MergeTree engine (the CREATE TABLE … ENGINE
    * clause equivalent). Key is the table's unqualified name,
    * case-insensitive.
    */
  def registerEngine(table: String, engine: Engine): Unit =
    engines.put(norm(table), engine)

  def engineOf(table: String): Option[Engine] =
    Option(engines.get(norm(table)))

  /** A `CREATE TABLE … PARTITION BY` table's two-piece layout. Spark
    * moves partition columns to the END of a partitioned table's
    * schema, which would silently re-bind positional CH INSERTs and
    * reorder `SELECT *` — so the dialect stores the partitioned data in
    * a PHYSICAL table (`<name>__parts`) and registers the declared name
    * as a VIEW projecting the ClickHouse-declared column order. Every
    * dialect write path resolves through this registry and aligns
    * columns BY NAME against the physical schema, so positional INSERTs
    * bind to the declared order and partition pruning still reaches the
    * parquet scan. `partCols` are the physical partition columns;
    * `genExpr` is the Spark SQL text of the generated partition value
    * for expression partitioning (`PARTITION BY toYYYYMM(d)` →
    * `__ch_part = CAST(date_format(d, 'yyyyMM') AS INT)`), recomputed
    * on every inserted block.
    */
  final case class PartitionedTable(physical: String,
    declared: Seq[String], partCols: Seq[String], genExpr: Option[String],
    chSpec: Option[String] = None)

  private val partTables =
    new java.util.concurrent.ConcurrentHashMap[String, PartitionedTable]

  def partitionedTable(table: String): Option[PartitionedTable] =
    Option(partTables.get(norm(table)))

  private def physicalFor(table: String): String =
    partitionedTable(table).map(_.physical).getOrElse(table)

  /** The generated partition column's reserved name. */
  private val GenPartCol = "__ch_part"

  /** Declared `ORDER BY` sort keys per CH table (every engine,
    * including plain MergeTree). ClickHouse parts are physically sorted
    * by this key — the primary index IS the sort order. The Spark
    * re-expression: every dialect write sorts the block within
    * partitions by (partition cols ++ sort key) before the parquet
    * write, so each data file holds sorted runs and its row-group
    * min/max statistics are TIGHT on the key — scans with sort-key
    * predicates skip row groups, the 100 TB analog of CH primary-key
    * skipping (q83_skip_index is the registry-side demonstration).
    */
  private val sortKeys =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]

  def sortKeyOf(table: String): Option[Seq[String]] =
    Option(sortKeys.get(norm(table)))

  /** Columns declared `Nullable(T)` in the CH DDL, per table
    * (lower-cased names). [[mapChType]] erases Nullable(T) to plain T
    * for the Spark schema, so nullability must be tracked here: a
    * Nullable column omitted from an INSERT column list (or absent from
    * a FORMAT row) defaults to NULL in ClickHouse, while a plain column
    * defaults to the type's zero — filling 0 for a Nullable column
    * would be a silent value divergence.
    */
  private val nullableCols =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]

  private def isNullableCol(table: String, column: String): Boolean =
    Option(nullableCols.get(norm(table)))
      .exists(_.contains(column.toLowerCase(java.util.Locale.ROOT)))

  /** Table-level `TTL <expr> [DELETE]` clauses (CH-dialect expression
    * text, per table). ClickHouse applies TTL when parts MERGE — rows
    * whose TTL timestamp has passed are deleted during the merge, not
    * at read time — so here [[optimizeTable]] is the application point,
    * exactly the OPTIMIZE-forces-a-merge contract. Registered at CREATE
    * (table-level clause only; per-column TTLs are storage directives
    * and are dropped), updated by `ALTER TABLE … MODIFY TTL`, cleared
    * by `ALTER TABLE … REMOVE TTL`.
    */
  private val ttlExprs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Strip the optional trailing DELETE action keyword (`TTL expr
    * DELETE` — DELETE is CH's default TTL action; other actions name
    * storage tiers this engine does not have and fail loudly).
    */
  private def cleanTtlText(raw: String, sqlText: String): String = {
    val t = raw.trim
    require(t.nonEmpty, s"empty TTL clause: $sqlText")
    val lower = t.toLowerCase(java.util.Locale.ROOT)
    require(!lower.contains(" to volume") && !lower.contains(" to disk") &&
      !lower.contains("recompress"),
      s"TTL actions other than DELETE name storage tiers this engine " +
        s"does not have: $sqlText")
    "(?is)\\s+delete\\s*$".r.replaceFirstIn(t, "")
  }

  /** Sort a block the way the table's parts are declared sorted, when a
    * sort key is registered and its columns are present (column DDL may
    * have dropped one — then the layout degrades, never errors).
    */
  private def sortedForWrite(df: DataFrame, table: String,
    leading: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keys = (leading ++ sortKeyOf(table).getOrElse(Nil)).distinct
      .filter(k => df.columns.exists(_.equalsIgnoreCase(k)))
    if (keys.isEmpty) df
    else df.sortWithinPartitions(keys.map(k => col(q1(k))): _*)
  }

  /** Append/overwrite `block` (declared-order columns, any order by
    * name) into `table`, resolving the partitioned physical layout:
    * the generated partition value is recomputed from the block and
    * columns realign by NAME to the physical schema (partition columns
    * last). Non-partitioned tables write positionally as before.
    */
  private def writeBlock(spark: SparkSession, table: String,
    block: DataFrame, mode: String): Unit = partitionedTable(table) match {
    case Some(pt) =>
      import org.apache.spark.sql.functions.{col, expr}
      val named = block.toDF(pt.declared: _*)
      val withGen = pt.genExpr match {
        case Some(g) => named.withColumn(GenPartCol, expr(g))
        case None => named
      }
      // align by NAME and cast to the stored types (CH INSERT coerces
      // literals — VALUES-sourced blocks arrive as parsed literal types)
      val physSchema = spark.table(pt.physical).schema
      val aligned = withGen.select(physSchema.map(f =>
        col(q1(f.name)).cast(f.dataType).as(f.name)).toSeq: _*)
      // cluster by partition value, then the declared sort key — each
      // output file holds one partition's sorted run
      sortedForWrite(aligned, table, leading = pt.partCols)
        .write.mode(mode).insertInto(pt.physical)
    case None =>
      sortedForWrite(block, table).write.mode(mode).insertInto(table)
  }

  /** One registered materialized view: its storage table, the SOURCE
    * table whose inserts trigger it (ClickHouse: the leftmost FROM
    * table — joins never re-trigger on their right sides), and the
    * SELECT text to replay over each inserted block.
    */
  final case class MvDef(view: String, source: String, select: String)

  private val mvDefs =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]

  /** Declare an insert-triggered materialized view (CREATE MATERIALIZED
    * VIEW registers automatically; this is the programmatic form).
    */
  def registerMaterializedView(view: String, source: String,
    select: String): Unit =
    mvDefs.put(norm(view), MvDef(norm(view), norm(source), select))

  def dropMaterializedView(view: String): Unit = mvDefs.remove(norm(view))

  /** Views whose SELECT reads `table` as its trigger source. A view
    * parked in a delayed-DROP recycle slot keeps its definition (so
    * UNDROP restores the trigger) but must NOT receive inserts while
    * parked — CH's trashed MVs are inert.
    */
  def materializedViewsOn(table: String): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    mvDefs.values.asScala.toSeq
      .filter(d => d.source == norm(table) && !d.view.endsWith("__dropped"))
      .sortBy(_.view)
  }

  private def norm(table: String): String = {
    val bare = table.stripPrefix("`").stripSuffix("`")
    bare.substring(bare.lastIndexOf('.') + 1).toLowerCase(java.util.Locale.ROOT)
  }

  // ---- MergeTree projections (ALTER TABLE … ADD PROJECTION) --------------
  //
  // ClickHouse projections are part-local pre-computed copies of a table —
  // an AGGREGATE projection stores partially-aggregated states per part, a
  // SORT projection stores the same rows re-sorted — and the optimizer
  // transparently answers matching queries from them
  // (optimize_use_projections, default on). The Spark-first realization
  // keeps exactly that contract:
  //
  //   - storage `<t>__proj_<p>` holds PARTIAL aggregates: MATERIALIZE
  //     writes one combined block; every later INSERT appends the
  //     inserted block's own partial aggregation (CH's new-part
  //     projection, verbatim) — reads re-combine with the partial-merge
  //     functions (sum→SUM, count→SUM, min→MIN, max→MAX), so the store
  //     is never rewritten on insert, only appended;
  //   - table-REWRITING verbs (OPTIMIZE, mutations, MATERIALIZE TTL)
  //     rebuild materialized projections from the landed table — the
  //     batch analog of CH recalculating projections during merges;
  //   - the read-side rewrite ([[rewriteWithProjection]]) answers a
  //     single-table aggregate query from the smallest projection whose
  //     dims cover the query's GROUP BY + WHERE + selected dims and whose
  //     stored aggregates cover every aggregate call; a `SELECT *`
  //     filtered on a sort projection's leading key reads the sorted copy
  //     (row-group pruning does the skipping). Projections follow their
  //     table through RENAME / delayed DROP / UNDROP (a parked
  //     `…__dropped` owner is inert — its name never matches a query).
  //
  // Simplifications vs CH, stated loudly: projections live per-table (not
  // per-part beyond the append-block granularity), SHOW CREATE TABLE does
  // not yet echo them, and unmaterialized projections are never used
  // (CH uses them for parts written after ADD; here MATERIALIZE is the
  // activation step).

  /** One aggregate term a projection pre-computes: `fn` over `col`
    * (empty col = `count(*)`), stored as partial column `store`.
    */
  final case class ProjAgg(fn: String, col: String, store: String)

  /** One declared projection: aggregate when `aggs` nonempty (grouped by
    * `dims`), sort when `sortCols` nonempty.
    */
  final case class ProjDef(table: String, name: String, dims: Seq[String],
    aggs: Seq[ProjAgg], sortCols: Seq[String], materialized: Boolean) {
    def isAgg: Boolean = aggs.nonEmpty
  }

  private val projDefs =
    new java.util.concurrent.ConcurrentHashMap[String, ProjDef]

  private def projKey(table: String, name: String): String =
    norm(table) + "#" + norm(name)

  private[graft] def projStore(table: String, name: String): String =
    norm(table) + "__proj_" + norm(name)

  def projectionsOn(table: String): Seq[ProjDef] = {
    import scala.jdk.CollectionConverters._
    projDefs.values.asScala.toSeq
      .filter(_.table == norm(table)).sortBy(_.name)
  }

  /** The partial-aggregate block a relation contributes to an aggregate
    * projection (map-side states; re-combined at read).
    */
  private def projPartialAgg(df: DataFrame, p: ProjDef): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggCols = p.aggs.map { a =>
      a.fn match {
        case "sum" => sum(col(q1(a.col))).as(a.store)
        case "count" =>
          (if (a.col.isEmpty) count(lit(1)) else count(col(q1(a.col))))
            .as(a.store)
        case "min" => min(col(q1(a.col))).as(a.store)
        case "max" => max(col(q1(a.col))).as(a.store)
      }
    }
    df.groupBy(p.dims.map(c => col(q1(c))): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** The block a relation contributes to a SORT projection: the same
    * rows range-clustered and sorted on the projection keys, so parquet
    * row-group min/max stats prune reads on those keys.
    */
  private def projSorted(df: DataFrame, p: ProjDef): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keys = p.sortCols.map(c => col(q1(c)))
    df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
  }

  /** (Re)build one projection's storage from the table's current
    * contents and mark it live.
    */
  private def materializeProjection(spark: SparkSession, table: String,
    p: ProjDef): Unit = {
    val store = projStore(table, p.name)
    val base = spark.table(table)
    val block =
      (if (p.isAgg) projPartialAgg(base, p) else projSorted(base, p))
        .localCheckpoint(true)
    spark.sql(s"DROP TABLE IF EXISTS $store")
    clearStaleLocation(spark, store)
    block.write.saveAsTable(store)
    projDefs.put(projKey(table, p.name), p.copy(materialized = true))
  }

  /** INSERT maintenance: append the inserted block's contribution to
    * every live projection (CH: a new part carries its projections).
    * `namedBlock` must already carry the table's declared column names.
    */
  private def projOnInsert(spark: SparkSession, table: String,
    namedBlock: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    projectionsOn(table).filter(_.materialized).foreach { p =>
      val store = projStore(table, p.name)
      val add = if (p.isAgg) projPartialAgg(namedBlock, p)
      else projSorted(namedBlock, p)
      val cols = spark.table(store).columns.toSeq
      add.select(cols.map(c => col(q1(c))): _*)
        .write.mode("append").insertInto(store)
    }
  }

  /** Rebuild every live projection after a table-rewriting verb
    * (OPTIMIZE / mutation / TTL) lands new contents.
    */
  private def rematerializeProjections(spark: SparkSession,
    table: String): Unit =
    projectionsOn(table).filter(_.materialized)
      .foreach(p => materializeProjection(spark, table, p))

  /** Rename/drop plumbing: projections follow their owner. */
  private def projRename(spark: SparkSession, from: String,
    to: String): Unit =
    projectionsOn(from).foreach { p =>
      val (fromStore, toStore) = (projStore(from, p.name), projStore(to, p.name))
      if (spark.catalog.tableExists(fromStore)) {
        clearStaleLocation(spark, toStore)
        spark.sql(s"ALTER TABLE $fromStore RENAME TO $toStore")
      }
      projDefs.remove(projKey(from, p.name))
      projDefs.put(projKey(to, p.name), p.copy(table = norm(to)))
    }

  private def projPhysicalDrop(spark: SparkSession, table: String): Unit =
    projectionsOn(table).foreach { p =>
      spark.sql(s"DROP TABLE IF EXISTS ${projStore(table, p.name)}")
      projDefs.remove(projKey(table, p.name))
    }

  private val ProjAggRe =
    "(?i)^(sum|min|max|count)\\s*\\(\\s*(\\*|[A-Za-z_][A-Za-z0-9_]*)?\\s*\\)$".r

  private def projAggOf(fn0: String, col0: String): ProjAgg = {
    val fn = fn0.toLowerCase(java.util.Locale.ROOT)
    val col = Option(col0).map(_.trim).filter(c => c.nonEmpty && c != "*")
      .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
    val store = fn match {
      case "count" => if (col.isEmpty) "cnt_all" else s"cnt_$col"
      case f => s"${f}_$col"
    }
    ProjAgg(fn, col, store)
  }

  /** Session toggle for the projection read rewrite — ClickHouse's
    * `optimize_use_projections` setting (default 1), driven by the
    * dialect's `SET` verb.
    */
  private val useProjections = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** `SET <setting> = <value>` — the CH session-settings verb. Settings
    * with a faithful engine-side effect are applied; everything else
    * fails loudly with the Spark-conf migration pointer (silently
    * swallowing a performance/behavior setting is how migrations rot).
    */
  private def setVerb(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 2 || toks.head.lower != "set") return None
    // `SET spark.` style passes straight through to Spark
    if (toks(1).text.startsWith("spark")) return None
    val name = toks(1).lower
    val eq = toks.lift(2).exists(_.text == "=")
    if (!eq) return None
    val value = sqlText.substring(toks(2).end).trim.stripSuffix(";").trim
    name match {
      case "optimize_use_projections" =>
        useProjections.set(value == "1" || value.equalsIgnoreCase("true"))
        Some(spark.emptyDataFrame)
      // settings whose Spark behavior already matches the CH default —
      // accepted as no-ops so pasted session preambles run
      case "max_threads" | "max_memory_usage" | "send_logs_level" =>
        Some(spark.emptyDataFrame)
      case other => throw new IllegalArgumentException(
        s"unsupported ClickHouse setting `$other` — engine-level knobs " +
          "live in Spark conf (spark.sql.*); set them on the session " +
          s"builder instead: $sqlText")
    }
  }

  /** `EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE] <stmt>` — the CH
    * introspection verb, mapped to what this engine can truthfully
    * show: SYNTAX prints the dialect-REWRITTEN Spark SQL (CH's EXPLAIN
    * SYNTAX prints the optimized query text — same contract), AST the
    * analyzed logical plan, PLAN (and bare EXPLAIN) the formatted
    * physical plan. PIPELINE/ESTIMATE name executor internals this
    * engine does not have — loud guidance instead of fake output.
    * Output shape is CH's: one `explain` string column, one row per
    * line.
    */
  private def explainVerb(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.isEmpty || toks.head.lower != "explain") return None
    val mode = toks.lift(1).map(_.lower).getOrElse("")
    val known = Set("ast", "syntax", "plan", "pipeline", "estimate")
    val body = sqlText.substring(
      if (known(mode)) toks(1).end else toks.head.end).trim
    require(body.nonEmpty, s"EXPLAIN expects a statement: $sqlText")
    // EXPLAIN must never MUTATE: dialect verbs (INSERT, OPTIMIZE,
    // ALTER … DELETE, DROP, TRUNCATE, projection DDL, …) dispatch
    // EAGERLY through sql(), so planning them would execute them.
    // Restrict the body to read-only statements up front.
    val bodyHead = lex(body).headOption.map(_.lower).getOrElse("")
    require(bodyHead == "select" || bodyHead == "with",
      "EXPLAIN supports SELECT/WITH bodies only — dialect DDL/DML " +
        "verbs execute eagerly and an EXPLAIN must never mutate " +
        s"state: $sqlText")
    import spark.implicits._
    def lines(s: String): DataFrame =
      s.split('\n').toSeq.toDF("explain")
    mode match {
      case "pipeline" => throw new IllegalArgumentException(
        "EXPLAIN PIPELINE names ClickHouse executor internals this " +
          "engine does not have — use EXPLAIN PLAN (Spark physical " +
          s"plan) or EXPLAIN SYNTAX: $sqlText")
      case "estimate" =>
        // CH's EXPLAIN ESTIMATE: per referenced table, the parts/rows/
        // marks a scan would read — answered from the SAME footer
        // metadata system.parts serves (distributed + memoized, never
        // a data scan). Marks use CH's 8192-row granule convention.
        val bodyToks = lex(body)
        val fromTables = bodyToks.zipWithIndex.collect {
          case (t0, i) if (t0.lower == "from" || t0.lower == "join") &&
            bodyToks.lift(i + 1).exists(isIdent) &&
            !bodyToks.lift(i + 1).exists(_.lower.startsWith("system.")) =>
            bodyToks(i + 1).text
        }.distinct.filter(spark.catalog.tableExists)
        import org.apache.spark.sql.types.{LongType => LT2,
          StringType => ST2, StructField, StructType}
        val rs = new java.util.ArrayList[org.apache.spark.sql.Row]
        fromTables.foreach { tbl =>
          val stats = footerStatsOf(spark, tbl)
          val rowsN = stats.map(_._2).sum
          rs.add(org.apache.spark.sql.Row("default", norm(tbl),
            stats.length.toLong, rowsN, rowsN / 8192L + 1L))
        }
        Some(spark.createDataFrame(rs, StructType(Seq(
          StructField("database", ST2), StructField("table", ST2),
          StructField("parts", LT2), StructField("rows", LT2),
          StructField("marks", LT2)))))
      case "syntax" =>
        val rewritten = rewriteWithProjection(spark, body).getOrElse(
          rewrite(body, t => spark.table(t).columns.toSeq))
        Some(lines(rewritten))
      case "ast" =>
        val df = sql(spark, body)
        Some(lines(df.queryExecution.analyzed.treeString))
      case _ =>
        val df = sql(spark, body)
        Some(lines(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
    }
  }

  /** Parse one projection body (`SELECT … GROUP BY …` aggregate form or
    * `SELECT * ORDER BY …` sort form) — shared by ALTER TABLE … ADD
    * PROJECTION and inline `PROJECTION p (…)` items in CREATE TABLE
    * (the SHOW CREATE round-trip spelling).
    */
  private def parseProjectionBody(table: String, name: String,
    inner: String, ctx: String): ProjDef = {
    require(inner.toLowerCase(java.util.Locale.ROOT).startsWith("select"),
      s"PROJECTION body must be a SELECT: $ctx")
    val body = inner.substring("select".length)
    val gIdx = "(?i)\\bgroup\\s+by\\b".r.findFirstMatchIn(body)
    val oIdx = "(?i)\\border\\s+by\\b".r.findFirstMatchIn(body)
    (gIdx, oIdx) match {
      case (Some(g), None) =>
        val dims = splitAssignments(body.substring(g.end))
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
        require(dims.nonEmpty && dims.forall(_.matches("[a-z_][a-z0-9_]*")),
          s"GROUP BY must list plain columns: $ctx")
        val items = splitAssignments(body.substring(0, g.start)).map(_.trim)
        val aggs = items.flatMap {
          case ProjAggRe(fn, c) => Some(projAggOf(fn, c))
          case d if dims.contains(d.toLowerCase(java.util.Locale.ROOT)) =>
            None
          case other => throw new IllegalArgumentException(
            "aggregate projection items must be GROUP BY columns or " +
              s"sum/min/max/count over one column — got `$other` in: " + ctx)
        }
        require(aggs.nonEmpty,
          s"aggregate projection declares no aggregates: $ctx")
        ProjDef(norm(table), norm(name), dims, aggs, Nil,
          materialized = false)
      case (None, Some(o)) =>
        require(body.substring(0, o.start).trim == "*",
          "sort projection must be `SELECT * ORDER BY …` " +
            s"(column-subset sort projections not supported): $ctx")
        val keys = splitAssignments(body.substring(o.end))
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
        require(keys.nonEmpty && keys.forall(_.matches("[a-z_][a-z0-9_]*")),
          s"ORDER BY must list plain columns: $ctx")
        ProjDef(norm(table), norm(name), Nil, Nil, keys,
          materialized = false)
      case _ => throw new IllegalArgumentException(
        "PROJECTION body must have exactly one of GROUP BY " +
          s"(aggregate projection) or ORDER BY (sort projection): $ctx")
    }
  }

  /** The normalized body text [[parseProjectionBody]] round-trips —
    * what SHOW CREATE TABLE prints inside `PROJECTION p (…)`.
    */
  private def projSelectText(p: ProjDef): String =
    if (p.isAgg) {
      val aggText = p.aggs.map(a =>
        if (a.fn == "count" && a.col.isEmpty) "count()"
        else s"${a.fn}(${a.col})")
      s"SELECT ${(p.dims ++ aggText).mkString(", ")} " +
        s"GROUP BY ${p.dims.mkString(", ")}"
    } else s"SELECT * ORDER BY ${p.sortCols.mkString(", ")}"

  // ---- system.* introspection tables --------------------------------
  //
  // The three system tables every ClickHouse migration queries —
  // system.tables, system.columns, system.parts — materialized ON
  // DEMAND from the catalog + the dialect registries + parquet FOOTER
  // metadata (CH's system.parts is metadata-only; so is this — row
  // counts come from footers, never a scan). A statement referencing
  // `system.<t>` has the reference spliced onto a freshly-built temp
  // view, so WHERE/JOIN/ORDER over system tables run as ordinary SQL.

  /** Visible CH-surface tables: internals (two-piece layout pieces,
    * detached stores, recycle slots, projection stores) hidden the way
    * CH hides its own.
    */
  private def visibleTables(spark: SparkSession): Seq[String] = {
    val internal = Seq("__parts", "__detached", "__dropped", "__proj_")
    spark.catalog.listTables().collect().map(_.name)
      .filterNot(_.startsWith("__"))
      .filterNot(n => internal.exists(n.contains)).sorted.toSeq
  }

  private def engineTextOf(table: String): String = engineOf(table) match {
    case Some(Replacing(_, ver)) => s"ReplacingMergeTree(${ver.mkString(", ")})"
    case Some(Collapsing(_, sign, ver)) =>
      s"CollapsingMergeTree(${(sign +: ver).mkString(", ")})"
    case Some(Summing(_, measures)) =>
      s"SummingMergeTree(${measures.mkString(", ")})"
    case Some(Aggregating(_, _)) => "AggregatingMergeTree"
    case None => "MergeTree"
  }

  private def dataFilesOf(spark: SparkSession, table: String): Seq[String] =
    spark.table(table).inputFiles.toSeq.sorted

  /** Footer opens performed by [[footerStatsOf]] since JVM start —
    * observable in local mode (tasks share the JVM), which is how
    * SystemTablesSpec proves a repeated system.* query does ZERO
    * footer I/O.
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  // (table → (file-list fingerprint, per-file stats)) — one live entry
  // per table, so the memo is bounded by the catalog size
  private val footerMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(String, Long, Long)])]

  /** Per-file `(path, rows, bytes)` for all of `table`'s data files —
    * parquet FOOTER + file status only (the system.parts contract:
    * metadata, never a data scan). The footer reads run ON THE CLUSTER
    * (the file list is parallelized; at 100 TB ≈ 10⁶ files a serial
    * per-file loop on the driver thread would be minutes-to-hours of
    * FS round-trips), and the result is memoized per (table, file-list
    * fingerprint): part files are immutable and job-unique by name, so
    * an unchanged list means unchanged stats and a repeated system.*
    * query costs zero footer I/O — ClickHouse answers system.parts
    * from in-memory parts metadata; after the first build, so does
    * this.
    */
  private[graft] def footerStatsOf(spark: SparkSession,
    table: String): Seq[(String, Long, Long)] =
    footerStatsOf(spark, table, dataFilesOf(spark, table))

  /** As [[footerStatsOf]] with the file list pre-computed — the
    * system-table builders list each table ONCE (to pick the paging
    * grain) and pass the list through, so a system.* query costs one
    * FS listing per table, not two.
    */
  private[graft] def footerStatsOf(spark: SparkSession,
    table: String, files: Seq[String]): Seq[(String, Long, Long)] = {
    if (files.isEmpty) return Nil
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach(f => md.update(f.getBytes("UTF-8")))
    val fp = md.digest().map("%02x".format(_)).mkString
    val key = norm(table)
    val hit = footerMemo.get(key)
    if (hit != null && hit._1 == fp) return hit._2
    val sc = spark.sparkContext
    val confW = new org.apache.spark.SerializableWritable(
      spark.sessionState.newHadoopConf())
    val slices = math.max(1, math.min(files.length, sc.defaultParallelism))
    val stats = sc.parallelize(files, slices).map { f =>
      // static module access (no closure capture): in local mode the
      // task hits the driver's singleton, which is what the spec reads
      ClickHouseSql.footerReads.incrementAndGet()
      val conf = confW.value
      val p = new org.apache.hadoop.fs.Path(f)
      val bytes = p.getFileSystem(conf).getFileStatus(p).getLen
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try (f, r.getRecordCount, bytes) finally r.close()
    }.collect().toSeq.sortBy(_._1)
    footerMemo.put(key, (fp, stats))
    stats
  }

  // (table → (file-list fingerprint, partition-grain stats)) — the
  // paged-table sibling of footerMemo, bounded by the catalog size
  private val footerPartMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(String, Long, Long, Long)])]

  /** File count beyond which system.parts pages to PARTITION grain —
    * the per-file collect is fine at 10⁵ files (~100 MB of driver
    * tuples, once, memoized) but a 10⁶+-file table must aggregate on
    * the cluster and collect |partitions| rows, not |files|.
    */
  private def partsPageThreshold(spark: SparkSession): Int =
    try spark.conf.get("spark.graft.system.partsPageThreshold", "100000").toInt
    catch { case _: NumberFormatException => 100000 }

  /** Partition-grain `(partition, n_files, rows, bytes)` for `table` —
    * the footer pass runs on the cluster like [[footerStatsOf]], but the
    * aggregation to partition grain ALSO happens distributed
    * (reduceByKey on the partition value), so the driver receives
    * |partitions| rows no matter how many data files the table pages.
    * Memoized per (table, file-list fingerprint); when the per-file memo
    * already holds this fingerprint the grain conversion is a local fold
    * — never a second footer pass.
    */
  private[graft] def footerPartitionStatsOf(spark: SparkSession,
    table: String): Seq[(String, Long, Long, Long)] =
    footerPartitionStatsOf(spark, table, dataFilesOf(spark, table))

  /** As [[footerPartitionStatsOf]] with the file list pre-computed —
    * see the [[footerStatsOf]] overload for why.
    */
  private[graft] def footerPartitionStatsOf(spark: SparkSession,
    table: String, files: Seq[String]): Seq[(String, Long, Long, Long)] = {
    if (files.isEmpty) return Nil
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach(f => md.update(f.getBytes("UTF-8")))
    val fp = md.digest().map("%02x".format(_)).mkString
    val key = norm(table)
    val hit = footerPartMemo.get(key)
    if (hit != null && hit._1 == fp) return hit._2
    val fileHit = footerMemo.get(key)
    val stats =
      if (fileHit != null && fileHit._1 == fp)
        fileHit._2.groupBy(s => partitionOfPath(s._1)).toSeq.map {
          case (p, ss) => (p, ss.size.toLong, ss.map(_._2).sum, ss.map(_._3).sum)
        }.sortBy(_._1)
      else {
        val sc = spark.sparkContext
        val confW = new org.apache.spark.SerializableWritable(
          spark.sessionState.newHadoopConf())
        val slices = math.max(1, math.min(files.length, sc.defaultParallelism))
        sc.parallelize(files, slices).map { f =>
          ClickHouseSql.footerReads.incrementAndGet()
          val conf = confW.value
          val p = new org.apache.hadoop.fs.Path(f)
          val bytes = p.getFileSystem(conf).getFileStatus(p).getLen
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
          try (partitionOfPath(f), (1L, r.getRecordCount, bytes))
          finally r.close()
        }.reduceByKey { (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3) }
          .collect().toSeq
          .map { case (p, (n, rws, b)) => (p, n, rws, b) }.sortBy(_._1)
      }
    footerPartMemo.put(key, (fp, stats))
    stats
  }

  /** The partition VALUE a file path carries (`…/col=v/part.parquet`),
    * or CH's `all` for unpartitioned layouts.
    */
  private def partitionOfPath(path: String): String = {
    val segs = path.split('/')
    segs.reverse.drop(1).find(_.contains("="))
      .map(_.split("=", 2)(1)).getOrElse("all")
  }

  /** A CH-surface TABLE (not a plain/temp view): either a registered
    * partitioned two-piece layout (whose declared name is a view by
    * construction) or a catalog MANAGED/EXTERNAL table.
    */
  private def isBaseTable(spark: SparkSession, t: String): Boolean =
    partitionedTable(t).isDefined ||
      (try {
        val tt = spark.catalog.getTable(t).tableType
        tt == "MANAGED" || tt == "EXTERNAL"
      } catch { case scala.util.control.NonFatal(_) => false })

  private def buildSystemView(spark: SparkSession, kind: String): String = {
    import org.apache.spark.sql.types.{LongType => LT, StringType => ST,
      StructField, StructType}
    import org.apache.spark.sql.Row
    val rows = new java.util.ArrayList[Row]
    val (viewName, schema) = kind match {
      case "tables" =>
        visibleTables(spark).foreach { t =>
          if (isBaseTable(spark, t)) try {
            // totals ride the partition-grain memo for paged tables —
            // the driver never holds a per-file tuple list it doesn't
            // need, and the table is LISTED ONCE (grain pick + stats
            // share the same file list)
            val files = dataFilesOf(spark, t)
            val (totRows, totBytes) =
              if (files.length > partsPageThreshold(spark)) {
                val ps = footerPartitionStatsOf(spark, t, files)
                (ps.map(_._3).sum, ps.map(_._4).sum)
              } else {
                val stats = footerStatsOf(spark, t, files)
                (stats.map(_._2).sum, stats.map(_._3).sum)
              }
            rows.add(Row(t, engineTextOf(t),
              partitionedTable(t).map(pt =>
                pt.chSpec.getOrElse(pt.partCols.head)).getOrElse(""),
              sortKeyOf(t).map(_.mkString(", ")).getOrElse(""),
              totRows, totBytes))
          } catch { case scala.util.control.NonFatal(_) => () } // non-parquet table: skip
        }
        ("__ch_system_tables", StructType(Seq(
          StructField("name", ST), StructField("engine", ST),
          StructField("partition_key", ST), StructField("sorting_key", ST),
          StructField("total_rows", LT), StructField("total_bytes", LT))))
      case "columns" =>
        visibleTables(spark).foreach { t =>
          // total by construction: a column with no CH spelling (a type
          // some non-dialect table declared) reports Spark's own SQL
          // type — a system view must never make a query throw
          try spark.table(t).schema.fields.zipWithIndex.foreach { case (f, i) =>
            val tpe = try chTypeBack(t, f)
            catch { case _: IllegalArgumentException => f.dataType.sql }
            rows.add(Row(t, f.name, tpe, (i + 1).toLong))
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        ("__ch_system_columns", StructType(Seq(
          StructField("table", ST), StructField("name", ST),
          StructField("type", ST), StructField("position", LT))))
      case "parts" =>
        visibleTables(spark).foreach { t =>
          if (isBaseTable(spark, t)) try {
            // paged tables report PARTITION grain (aggregated on the
            // cluster — driver rows bounded by |partitions|, not
            // |files|); one listing feeds both the grain pick and stats
            val files = dataFilesOf(spark, t)
            if (files.length > partsPageThreshold(spark))
              footerPartitionStatsOf(spark, t, files).foreach {
                case (p, n, r, b) => rows.add(Row(t, p, s"<$n files>", r, b))
              }
            else footerStatsOf(spark, t, files).foreach { case (f, r, b) =>
              rows.add(Row(t, partitionOfPath(f),
                f.substring(f.lastIndexOf('/') + 1), r, b))
            }
          } catch { case scala.util.control.NonFatal(_) => () } // non-parquet table: skip
        }
        ("__ch_system_parts", StructType(Seq(
          StructField("table", ST), StructField("partition", ST),
          StructField("name", ST), StructField("rows", LT),
          StructField("bytes_on_disk", LT))))
      case "databases" =>
        // single-catalog engine: the CH surface is one Atomic database
        rows.add(Row("default", "Atomic"))
        ("__ch_system_databases", StructType(Seq(
          StructField("name", ST), StructField("engine", ST))))
      case "functions" =>
        // the dialect registry + the session's resolved functions —
        // what a migration greps to see which CH names exist here.
        // Metadata-only: both lists come from in-memory registries.
        val dialect = ClickHouseDialect.names.toSet
        dialect.toSeq.sorted.foreach(n => rows.add(Row(n, "ch_dialect")))
        spark.catalog.listFunctions().collect().map(_.name)
          .filterNot(dialect.contains).sorted
          .foreach(n => rows.add(Row(n, "builtin")))
        ("__ch_system_functions", StructType(Seq(
          StructField("name", ST), StructField("origin", ST))))
      case "settings" =>
        // the settings the dialect's SET verb accepts, with live values
        rows.add(Row("optimize_use_projections",
          if (useProjections.get) "1" else "0", "projection read rewrite"))
        Seq("max_threads", "max_memory_usage", "send_logs_level").foreach(
          n => rows.add(Row(n, "", "accepted no-op (Spark conf owns it)")))
        ("__ch_system_settings", StructType(Seq(
          StructField("name", ST), StructField("value", ST),
          StructField("description", ST))))
      case "one" =>
        // CH's constant table (drivers SELECT from it to ping)
        rows.add(Row(0L))
        ("__ch_system_one", StructType(Seq(StructField("dummy", LT))))
      case other => throw new IllegalArgumentException(
        s"unsupported system table system.$other — system.tables/" +
          "columns/parts/databases/functions/settings/one are available")
    }
    spark.createDataFrame(rows, schema).createOrReplaceTempView(viewName)
    viewName
  }

  /** Splice every `system.<t>` reference onto a freshly-materialized
    * temp view; None when the text references no system table.
    */
  private def systemTablesRewrite(spark: SparkSession,
    sqlText: String): Option[String] = {
    val ts = lex(sqlText)
    val hits = ts.filter(t => t.lower.startsWith("system."))
    if (hits.isEmpty) return None
    val sb = new StringBuilder(sqlText)
    for (t <- hits.reverse) {
      val kind = t.lower.stripPrefix("system.")
      sb.replace(t.start, t.end, buildSystemView(spark, kind))
    }
    Some(sb.toString)
  }

  /** CH `CREATE TABLE a AS b` (bare table reference — a STRUCTURE
    * clone, never data): replays b's normalized SHOW CREATE DDL under
    * a's name, so columns, engine, sort key, Nullable set, TTL,
    * partitioning, and projection DEFINITIONS all carry (projections
    * arrive unmaterialized — CH clones structure, not parts). An
    * ENGINE override on the clone form is out of scope and fails
    * loudly; `AS SELECT`/`AS (…)` fall through to the CTAS path.
    */
  private def createTableClone(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 5 || toks.head.lower != "create" ||
      toks(1).lower != "table") return None
    var ni = 2
    var ifNot = false
    if (toks(ni).lower == "if") { ifNot = true; ni += 3 }
    if (!toks.lift(ni).exists(isIdent)) return None
    val table = toks(ni).text
    if (!toks.lift(ni + 1).exists(_.lower == "as")) return None
    val srcTok = toks.lift(ni + 2)
    if (!srcTok.exists(t => isIdent(t) &&
      !Set("select", "with").contains(t.lower))) return None
    val src = srcTok.get.text
    require(toks.drop(ni + 3).forall(_.text == ";"),
      "CREATE TABLE … AS <table> with trailing clauses (ENGINE " +
        s"override) is not supported — clone, then ALTER: $sqlText")
    if (ifNot && (spark.catalog.tableExists(table) ||
      partitionedTable(table).isDefined))
      return Some(spark.emptyDataFrame)
    val ddl = createStatementOf(spark, src)
    val prefix = s"CREATE TABLE $src"
    require(ddl.startsWith(prefix), s"unexpected SHOW CREATE shape: $ddl")
    sql(spark, s"CREATE TABLE $table" + ddl.substring(prefix.length))
    Some(spark.emptyDataFrame)
  }

  /** `ALTER TABLE t ADD|MATERIALIZE|DROP|CLEAR PROJECTION …`. */
  private def projectionDdl(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 5 || toks.head.lower != "alter" ||
      toks(1).lower != "table" || !isIdent(toks(2))) return None
    val verb = toks(3).lower
    if (!Set("add", "materialize", "drop", "clear").contains(verb) ||
      toks(4).lower != "projection") return None
    val table = toks(2).text
    var i = 5
    var ifGuard = false
    if (toks.lift(i).exists(_.lower == "if")) {
      // ADD … IF NOT EXISTS / DROP … IF EXISTS
      ifGuard = true
      i += (if (toks.lift(i + 1).exists(_.lower == "not")) 3 else 2)
    }
    require(toks.lift(i).exists(isIdent),
      s"expected a projection name: $sqlText")
    val name = toks(i).text
    val existing = Option(projDefs.get(projKey(table, name)))
    verb match {
      case "add" =>
        if (existing.isDefined) {
          require(ifGuard, s"projection $name already exists on $table " +
            "(ADD PROJECTION IF NOT EXISTS to ignore)")
          return Some(spark.emptyDataFrame)
        }
        val open = sqlText.indexOf('(', toks(i).end)
        val close = sqlText.lastIndexOf(')')
        require(open > 0 && close > open,
          s"ADD PROJECTION expects (SELECT …): $sqlText")
        val inner = sqlText.substring(open + 1, close).trim
        projDefs.put(projKey(table, name),
          parseProjectionBody(table, name, inner, sqlText))
        Some(spark.emptyDataFrame)
      case "materialize" =>
        val p = existing.getOrElse(throw new IllegalArgumentException(
          s"MATERIALIZE PROJECTION: no projection $name on $table"))
        materializeProjection(spark, table, p)
        Some(spark.emptyDataFrame)
      case "clear" =>
        val p = existing.getOrElse(throw new IllegalArgumentException(
          s"CLEAR PROJECTION: no projection $name on $table"))
        spark.sql(s"DROP TABLE IF EXISTS ${projStore(table, name)}")
        projDefs.put(projKey(table, name), p.copy(materialized = false))
        Some(spark.emptyDataFrame)
      case "drop" =>
        if (existing.isEmpty) {
          require(ifGuard,
            s"DROP PROJECTION: no projection $name on $table")
          return Some(spark.emptyDataFrame)
        }
        spark.sql(s"DROP TABLE IF EXISTS ${projStore(table, name)}")
        projDefs.remove(projKey(table, name))
        Some(spark.emptyDataFrame)
    }
  }

  /** SQL keywords/literals that may appear in a WHERE clause without
    * naming a column (the projection-match identifier screen).
    */
  private val ProjWhereKeywords = Set("and", "or", "not", "in", "between",
    "like", "is", "null", "true", "false", "case", "when", "then", "else",
    "end", "cast", "as", "bigint", "int", "double", "string", "date")

  /** Try to answer a single-table SELECT from one of its live
    * projections; None = no safe match, run the query as written.
    */
  private[graft] def rewriteWithProjection(spark: SparkSession,
    sqlText: String): Option[String] = {
    if (!useProjections.get) return None
    val toks = lex(sqlText)
    if (toks.isEmpty || toks.head.lower != "select") return None
    var depth = 0
    var fromIdx = -1; var whereIdx = -1; var groupIdx = -1; var tailIdx = -1
    val banned = Set("join", "union", "having", "over", "intersect",
      "except", "distinct", "qualify", "sample")
    for ((t, i) <- toks.zipWithIndex) {
      if (t.text == "(") depth += 1
      else if (t.text == ")") depth -= 1
      else if (depth == 0) {
        if (banned.contains(t.lower)) return None
        if (t.lower == "select" && i > 0) return None
        if (t.lower == "from") {
          if (fromIdx >= 0) return None
          fromIdx = i
        }
        if (t.lower == "where") whereIdx = i
        if (t.lower == "group" && toks.lift(i + 1).exists(_.lower == "by"))
          groupIdx = i
        // the tail (ORDER BY … [LIMIT n] / bare LIMIT n) carries over
        // verbatim — its identifiers must be dims or select aliases,
        // which the "(" screen below enforces
        if ((t.lower == "limit" ||
          (t.lower == "order" && toks.lift(i + 1).exists(_.lower == "by")))
          && tailIdx < 0) tailIdx = i
      } else if (t.lower == "select") return None
    }
    if (fromIdx < 0 || !toks.lift(fromIdx + 1).exists(isIdent)) return None
    val tableTok = toks(fromIdx + 1)
    val table = tableTok.text
    val projs = projectionsOn(table).filter(_.materialized)
    if (projs.isEmpty) return None
    // nothing between the table name and the next clause (no alias)
    val afterTable = toks.lift(fromIdx + 2)
    if (!afterTable.forall(t => Set("where", "group", "order", "limit")
      .contains(t.lower) || t.text == ";")) return None
    def seg(fromEnd: Int, to: Int): String =
      sqlText.substring(fromEnd, if (to >= 0) toks(to).start else sqlText.length)
    val selectText = sqlText.substring(toks.head.end, toks(fromIdx).start).trim
    val whereText = if (whereIdx < 0) "" else {
      val stop = if (groupIdx >= 0) groupIdx else if (tailIdx >= 0) tailIdx else -1
      seg(toks(whereIdx).end, stop).trim
    }
    val whereIdents = if (whereText.isEmpty) Nil
    else lex(whereText).filter(isIdent).map(t => t.lower)
      .filterNot(ProjWhereKeywords.contains)
    val tailText = if (tailIdx < 0) "" else sqlText.substring(toks(tailIdx).start)
    if (tailText.contains("(")) return None // ORDER BY over expressions
    if (groupIdx >= 0) {
      // aggregate-projection match
      val groupText = seg(toks(groupIdx + 1).end,
        if (tailIdx >= 0) tailIdx else -1).trim
      val groupCols = splitAssignments(groupText)
        .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      if (!groupCols.forall(_.matches("[a-z_][a-z0-9_]*"))) return None
      final case class Item(text: String, alias: Option[String],
        agg: Option[ProjAgg], dim: Option[String])
      val AliasRe = "(?is)^(.*?)\\s+as\\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$".r
      val items = splitAssignments(selectText).map(_.trim).map { raw =>
        val (e, al) = raw match {
          case AliasRe(e0, a0) => (e0.trim, Some(a0))
          case _ => (raw, None)
        }
        e match {
          case ProjAggRe(fn, c) => Item(e, al, Some(projAggOf(fn, c)), None)
          case d if d.toLowerCase(java.util.Locale.ROOT)
            .matches("[a-z_][a-z0-9_]*") =>
            Item(e, al, None, Some(d.toLowerCase(java.util.Locale.ROOT)))
          case _ => return None
        }
      }
      val needDims = (groupCols ++ items.flatMap(_.dim) ++ whereIdents).distinct
      val needAggs = items.flatMap(_.agg)
      if (needAggs.isEmpty) return None
      val fit = projs.filter(p => p.isAgg &&
        needDims.forall(p.dims.contains) &&
        needAggs.forall(a => p.aggs.exists(_.store == a.store)))
        .sortBy(p => (p.dims.length, p.name)).headOption
      fit.map { p =>
        val store = projStore(table, p.name)
        // the store holds sum-widened partials; SUM over a DECIMAL
        // store column would re-widen (p+10 → p+20), making the
        // query's output schema depend on whether a projection
        // matched — cast the combine back to the stored (= base
        // query's) type so rewritten and unrewritten runs agree
        val storeTypes = spark.table(store).schema
          .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType)
          .toMap
        val outItems = items.map { it =>
          it.agg match {
            case Some(a) =>
              val combine = a.fn match {
                case "sum" | "count" => "SUM"
                case "min" => "MIN"
                case "max" => "MAX"
              }
              val alias = it.alias.getOrElse("`" + it.text + "`")
              val inner = s"$combine(${q1(a.store)})"
              val kept = storeTypes.get(a.store) match {
                case Some(d: org.apache.spark.sql.types.DecimalType)
                  if combine == "SUM" => s"CAST($inner AS ${d.sql})"
                case _ => inner
              }
              s"$kept AS $alias"
            case None =>
              it.text + it.alias.map(a => s" AS $a").getOrElse("")
          }
        }
        s"SELECT ${outItems.mkString(", ")} FROM $store" +
          (if (whereText.nonEmpty) s" WHERE $whereText" else "") +
          s" GROUP BY ${groupCols.mkString(", ")}" +
          (if (tailText.nonEmpty) " " + tailText else "")
      }
    } else {
      // sort-projection match: SELECT * … WHERE touches the leading key
      if (selectText != "*" || whereIdents.isEmpty) return None
      val fit = projs.filter(p => p.sortCols.nonEmpty &&
        whereIdents.contains(p.sortCols.head))
        .sortBy(_.name).headOption
      fit.map { p =>
        sqlText.substring(0, tableTok.start) + projStore(table, p.name) +
          sqlText.substring(tableTok.end)
      }
    }
  }

  /** A function name [[ClickHouseDialect.register]] adds: a session
    * without it has not had the dialect's functions registered.
    */
  private val dialectSentinel = FunctionIdentifier("uniqExact")

  /** Run ClickHouse-dialect SQL text on any session (no extension
    * needed): register the dialect's function names on the session when
    * the sentinel is missing (so a repeat call costs one registry
    * lookup), rewrite, then hand Spark's parser standard SQL.
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame = {
    if (!spark.sessionState.functionRegistry.functionExists(dialectSentinel))
      ClickHouseDialect.register(spark)
    optimizeTable(spark, sqlText)
      .orElse(showCreateTable(spark, sqlText))
      .orElse(describeTable(spark, sqlText))
      .orElse(checkTable(spark, sqlText))
      .orElse(existsTable(spark, sqlText))
      .orElse(showTables(spark, sqlText))
      .orElse(showDatabases(spark, sqlText))
      .orElse(showProcesslist(spark, sqlText))
      .orElse(showFunctions(spark, sqlText))
      .orElse(detachAttachTable(spark, sqlText))
      .orElse(killVerb(sqlText))
      .orElse(backupRestore(spark, sqlText))
      .orElse(systemVerb(spark, sqlText))
      .orElse(setVerb(spark, sqlText))
      .orElse(explainVerb(spark, sqlText))
      .orElse(projectionDdl(spark, sqlText))
      .orElse(alterMutation(spark, sqlText))
      .orElse(renameOrExchange(spark, sqlText))
      .orElse(dictionaryDdl(spark, sqlText))
      .orElse(intoOutfile(spark, sqlText))
      .orElse(insertFormat(spark, sqlText))
      .orElse(insertMvRefresh(spark, sqlText))
      .orElse(createTableClone(spark, sqlText))
      .orElse(createPartitionedTable(spark, sqlText))
      .orElse(tableLifecycle(spark, sqlText))
      .getOrElse {
        // CH Atomic-database behavior for the plain CREATE paths too:
        // a new table never collides with storage a DEAD session's
        // same-named table left in the warehouse (live tables are in
        // the catalog and are never touched)
        val toks = lex(sqlText)
        if (toks.length > 2 && toks.head.lower == "create" &&
          (toks(1).lower == "table" || toks(1).lower == "materialized")) {
          var ni = if (toks(1).lower == "materialized") 3 else 2
          if (toks.lift(ni).exists(_.lower == "if")) ni += 3
          toks.lift(ni).filter(isIdent)
            .foreach(t => clearStaleLocation(spark, t.text))
        }
        // system.* references materialize their introspection views and
        // splice onto them first; then the projection read rewrite
        // (CH optimize_use_projections, default on): a single-table
        // aggregate SELECT that a live projection covers reads the
        // projection's partial store instead of the base table
        val sysText = systemTablesRewrite(spark, sqlText).getOrElse(sqlText)
        val effective = rewriteWithProjection(spark, sysText)
          .getOrElse(sysText)
        spark.sql(rewrite(effective, t => spark.table(t).columns.toSeq))
      }
  }

  /** `SHOW CREATE TABLE t` — reconstruct the ClickHouse-dialect DDL
    * from the live declared schema + the registries (engine, sort key,
    * partition spec, TTL, Nullable columns); returns one row, column
    * `statement`. Like CH itself, the output is a NORMALIZED form —
    * per-column CODEC/DEFAULT/COMMENT directives were dropped at CREATE
    * (documented there) and do not reappear — and it is ROUND-TRIPPABLE:
    * executing the returned statement recreates an equivalent table
    * (ShowCreate round-trip spec). Types map back via [[chTypeBack]].
    */
  private def showCreateTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 4 || toks.head.lower != "show" ||
      toks(1).lower != "create" || toks(2).lower != "table" ||
      !isIdent(toks(3))) return None
    val table = toks(3).text
    require(spark.catalog.tableExists(table),
      s"SHOW CREATE TABLE: no table $table")
    val stmt = createStatementOf(spark, table)
    Some(spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(stmt)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("statement",
          org.apache.spark.sql.types.StringType)))))
  }

  /** Normalized, round-trippable CH CREATE statement reconstructed
    * from the live schema plus the engine/sort-key/partition/TTL/
    * Nullable registries — shared by SHOW CREATE TABLE and BACKUP.
    */
  private def createStatementOf(spark: SparkSession, table: String): String = {
    val schema = spark.table(table).schema
    val cols = schema.map(f =>
      s"${f.name} ${chTypeBack(table, f)}").mkString(", ")
    val engineText = engineOf(table) match {
      case Some(Replacing(_, ver)) =>
        s"ReplacingMergeTree(${ver.mkString(", ")})"
      case Some(Collapsing(_, sign, ver)) =>
        s"CollapsingMergeTree(${(sign +: ver).mkString(", ")})"
      case Some(Summing(_, measures)) =>
        s"SummingMergeTree(${measures.mkString(", ")})"
      case Some(Aggregating(_, _)) => "AggregatingMergeTree"
      case None => "MergeTree"
    }
    val partText = partitionedTable(table).map(pt =>
      " PARTITION BY " + pt.chSpec.getOrElse(pt.partCols.head))
      .getOrElse("")
    // CH's normalized form spells an empty key `ORDER BY tuple()`; this
    // dialect's CREATE omits the clause instead, and round-trip fidelity
    // to the dialect wins here
    val orderText = sortKeyOf(table) match {
      case Some(sk) if sk.nonEmpty => s" ORDER BY (${sk.mkString(", ")})"
      case _ => ""
    }
    val ttlText = Option(ttlExprs.get(norm(table)))
      .map(t => s" TTL $t").getOrElse("")
    // CH keeps projections inside the column group; the spelling here
    // round-trips through the inline-PROJECTION CREATE path (re-running
    // this DDL re-declares them, unmaterialized — MATERIALIZE activates)
    val projText = projectionsOn(table)
      .map(p => s", PROJECTION ${p.name} (${projSelectText(p)})").mkString
    s"CREATE TABLE $table ($cols$projText) ENGINE = $engineText" +
      partText + orderText + ttlText
  }

  /** `DESCRIBE [TABLE] t` / `DESC [TABLE] t` — the CH table-inspection
    * verb: one row per column, `name` + the NORMALIZED ClickHouse type
    * (the same [[chTypeBack]] spelling SHOW CREATE TABLE prints,
    * Nullable re-wrapped from the registry). Only the bare
    * `DESCRIBE [TABLE] <ident>` form is intercepted; anything longer
    * (DESCRIBE SELECT …, DESCRIBE EXTENDED …) falls through to Spark.
    */
  private def describeTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.isEmpty) return None
    val v = toks.head.lower
    if (v != "describe" && v != "desc") return None
    var i = 1
    if (toks.lift(i).exists(_.lower == "table")) i += 1
    if (toks.length != i + 1 || !isIdent(toks(i))) return None
    val table = toks(i).text
    require(spark.catalog.tableExists(table),
      s"DESCRIBE TABLE: no table $table")
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList[org.apache.spark.sql.Row]
    spark.table(table).schema.foreach(f =>
      rows.add(org.apache.spark.sql.Row(f.name, chTypeBack(table, f))))
    Some(spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("type",
          org.apache.spark.sql.types.StringType)))))
  }

  /** `CHECK TABLE t` — structural consistency check, one row with
    * `result` 1/0 like ClickHouse. Verifies what the two-piece layout
    * can break: the table exists, a partitioned declared-name view
    * still projects exactly the declared column order over an existing
    * physical table, every sort-key column is present, and a LIMIT 1
    * read succeeds. Deliberately METADATA-scale — no full scan, no
    * checksums (a 100 TB CHECK must not read 100 TB; CH's per-part
    * checksum check has no analog over parquet the engine doesn't own).
    */
  private def checkTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length != 3 || toks.head.lower != "check" ||
      toks(1).lower != "table" || !isIdent(toks(2))) return None
    val table = toks(2).text
    val ok =
      try {
        require(spark.catalog.tableExists(table))
        partitionedTable(table).foreach { pt =>
          require(spark.catalog.tableExists(pt.physical))
          require(spark.table(table).columns.toSeq == pt.declared)
        }
        sortKeyOf(table).foreach { sk =>
          val cols = spark.table(table).columns.toSet
          require(sk.forall(cols.contains))
        }
        spark.table(table).limit(1).collect()
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    Some(spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(if (ok) 1L else 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("result",
          org.apache.spark.sql.types.LongType)))))
  }

  /** Spark type → ClickHouse type text (the [[mapChType]] inverse on
    * the types it produces), re-wrapping Nullable from the per-table
    * registry.
    */
  private def chTypeBack(table: String,
    f: org.apache.spark.sql.types.StructField): String = {
    import org.apache.spark.sql.types._
    def back(dt: DataType): String = dt match {
      case ByteType => "Int8"
      case ShortType => "Int16"
      case IntegerType => "Int32"
      case LongType => "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case StringType => "String"
      case BooleanType => "Bool"
      case DateType => "Date"
      case _: TimestampType => "DateTime"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case a: ArrayType => s"Array(${back(a.elementType)})"
      case m: MapType => s"Map(${back(m.keyType)}, ${back(m.valueType)})"
      case BinaryType => "String"
      case other => throw new IllegalArgumentException(
        s"SHOW CREATE TABLE: no ClickHouse spelling for Spark type $other")
    }
    val base = back(f.dataType)
    if (isNullableCol(table, f.name)) s"Nullable($base)" else base
  }

  /** `CREATE TABLE t (…) ENGINE = <X>MergeTree … PARTITION BY <spec>` —
    * executed as the two-piece layout of [[PartitionedTable]]: the
    * PARTITION BY clause is cut out of the DDL text, the rest runs
    * through the normal CREATE rewrite (types map, engine registers
    * under the DECLARED name so FINAL reads work), the resulting
    * standard CREATE is retargeted at `<name>__parts` with real
    * `PARTITIONED BY`, and the declared name becomes a view restoring
    * the declared column order. Plain-column specs partition on the
    * column itself; expression specs (`toYYYYMM(d)` …) materialize a
    * generated `__ch_part` column at write time — the majority
    * ClickHouse layout — so scans prune on it and `DROP PARTITION
    * 202401` is a metadata drop of the month.
    */
  private def createPartitionedTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 3 || toks.head.lower != "create" ||
      toks(1).lower != "table") return None
    if (toks.indexWhere(t => t.depth == 0 && t.lower == "engine") < 0)
      return None
    var ni = 2
    var ifNotExists = false
    if (toks(ni).lower == "if") { ifNotExists = true; ni += 3 }
    val table = toks(ni).text
    val openIdx = ni + 1
    if (toks.lift(openIdx).forall(_.text != "("))
      return createPartitionedCtas(spark, sqlText, toks, table, ni,
        ifNotExists)
    val closeIdx = toks.indexWhere(t => t.text == ")" && t.depth == 0, openIdx)
    val pbIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "partition", closeIdx)
    if (pbIdx < 0 || !toks.lift(pbIdx + 1).exists(_.lower == "by"))
      return None
    // the partition spec runs to the next top-level clause keyword
    val stopKw = Set("order", "primary", "ttl", "settings", "sample")
    val stopIdx = toks.indexWhere(t =>
      t.depth == 0 && stopKw(t.lower), pbIdx + 2)
    val specEnd = if (stopIdx < 0) sqlText.length else toks(stopIdx).start
    val specText = sqlText.substring(toks(pbIdx + 2).start, specEnd)
      .trim.stripSuffix(";").trim
    require(specText.nonEmpty, s"PARTITION BY: empty spec in $sqlText")
    if (ifNotExists && spark.catalog.tableExists(table))
      return Some(spark.emptyDataFrame)
    val plainCols = plainPartitionCols(specText)
    // DDL text without the PARTITION BY clause → the normal rewrite
    // (registers the engine under the declared name)
    val baseText = sqlText.substring(0, toks(pbIdx).start) +
      sqlText.substring(specEnd)
    val createStd = rewrite(baseText, t => spark.table(t).columns.toSeq)
    val declared = declaredColumnsOf(createStd)
    val phys = table + "__parts"
    val createPhys = spliceTableName(createStd, phys)
    // CH Atomic-database behavior: name reuse never collides with a
    // previous incarnation's storage — clear stale dirs a dead session
    // left behind (only when the catalog does NOT know the name)
    clearStaleLocation(spark, phys)
    clearStaleLocation(spark, s"${phys}__detached")
    if (plainCols.nonEmpty) {
      val missing = plainCols.filterNot(p =>
        declared.exists(_.equalsIgnoreCase(p)))
      require(missing.isEmpty,
        s"PARTITION BY column(s) ${missing.mkString(", ")} not declared " +
          s"on $table")
      spark.sql(createPhys + s" PARTITIONED BY (${plainCols.mkString(", ")})")
      partTables.put(norm(table),
        PartitionedTable(phys, declared, plainCols, None))
    } else {
      val genSql = chPartExprToSpark(specText)
      // derive the generated column's type from the declared schema,
      // then rebuild the physical table partitioned on it
      spark.sql(createPhys)
      val genSchema = spark.table(phys)
        .withColumn(GenPartCol, org.apache.spark.sql.functions.expr(genSql))
        .schema
      spark.sql(s"DROP TABLE $phys")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], genSchema)
        .write.partitionBy(GenPartCol).format("parquet").saveAsTable(phys)
      partTables.put(norm(table),
        PartitionedTable(phys, declared, Seq(GenPartCol), Some(genSql),
          Some(specText)))
    }
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT " +
      s"${declared.map(q1).mkString(", ")} FROM $phys")
    Some(spark.table(table).limit(0))
  }

  /** A PARTITION BY spec's plain column list — empty when the spec is
    * an expression (`toYYYYMM(d)`), which partitions on a generated
    * column instead.
    */
  private def plainPartitionCols(specText: String): Seq[String] = {
    val specToks = lex(specText)
    if (specToks.forall(t => isIdent(t) || t.text == ","))
      specToks.filter(isIdent).map(_.text)
    else if (specToks.length >= 2 && specToks.head.text == "(" &&
      specToks.last.text == ")" &&
      specToks.slice(1, specToks.length - 1)
        .forall(t => isIdent(t) || t.text == ","))
      specToks.slice(1, specToks.length - 1).filter(isIdent).map(_.text)
    else Seq.empty
  }

  /** The CTAS spelling of a partitioned CREATE (`CREATE TABLE t
    * ENGINE = … PARTITION BY <spec> ORDER BY … AS SELECT …`): evaluate
    * the SELECT once, write it as the partitioned physical table (plus
    * the generated partition column for expression specs), and expose
    * the declared-order view — the same two-piece layout as the
    * column-list form. CTAS without PARTITION BY returns None and takes
    * the text-level [[rewriteCtas]] path.
    */
  private def createPartitionedCtas(spark: SparkSession, sqlText: String,
    toks: Vector[Tok], table: String, ni: Int,
    ifNotExists: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.functions.expr
    val asIdx = toks.zipWithIndex.indexWhere { case (t, i) =>
      i > ni && t.depth == 0 && t.lower == "as" &&
        toks.lift(i + 1).exists(x =>
          x.lower == "select" || x.lower == "with" || x.text == "(")
    }
    if (asIdx < 0) return None
    val pbIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "partition", ni)
    if (pbIdx < 0 || pbIdx >= asIdx ||
      !toks.lift(pbIdx + 1).exists(_.lower == "by")) return None
    val stopKw = Set("order", "primary", "ttl", "settings", "sample", "as")
    val stopIdx = toks.indexWhere(t =>
      t.depth == 0 && stopKw(t.lower), pbIdx + 2)
    require(stopIdx > 0 && stopIdx <= asIdx,
      s"PARTITION BY: cannot locate the spec's end in $sqlText")
    val specText = sqlText.substring(toks(pbIdx + 2).start,
      toks(stopIdx).start).trim
    require(specText.nonEmpty, s"PARTITION BY: empty spec in $sqlText")
    if (ifNotExists && spark.catalog.tableExists(table))
      return Some(spark.emptyDataFrame)
    // DDL without the clause → rewriteCtas (registers the engine and
    // rewrites the SELECT); the select text is after our own marker
    val baseText = sqlText.substring(0, toks(pbIdx).start) +
      sqlText.substring(toks(stopIdx).start)
    val createStd = rewrite(baseText, t => spark.table(t).columns.toSeq)
    val marker = " USING parquet AS "
    val mi = createStd.indexOf(marker)
    require(mi > 0, s"unexpected CTAS rewrite shape: $createStd")
    val df = spark.sql(createStd.substring(mi + marker.length))
    val declared = df.columns.toSeq
    val phys = table + "__parts"
    clearStaleLocation(spark, phys)
    clearStaleLocation(spark, s"${phys}__detached")
    val plainCols = plainPartitionCols(specText)
    if (plainCols.nonEmpty) {
      val missing = plainCols.filterNot(p =>
        declared.exists(_.equalsIgnoreCase(p)))
      require(missing.isEmpty,
        s"PARTITION BY column(s) ${missing.mkString(", ")} not in the " +
          s"CTAS select of $table")
      sortedForWrite(df, table, leading = plainCols)
        .write.partitionBy(plainCols: _*).format("parquet")
        .saveAsTable(phys)
      partTables.put(norm(table),
        PartitionedTable(phys, declared, plainCols, None))
    } else {
      val genSql = chPartExprToSpark(specText)
      sortedForWrite(df.withColumn(GenPartCol, expr(genSql)), table,
        leading = Seq(GenPartCol))
        .write.partitionBy(GenPartCol).format("parquet").saveAsTable(phys)
      partTables.put(norm(table),
        PartitionedTable(phys, declared, Seq(GenPartCol), Some(genSql),
          Some(specText)))
    }
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT " +
      s"${declared.map(q1).mkString(", ")} FROM $phys")
    Some(spark.table(table).limit(0))
  }

  /** Column names, in declared order, of a standard `CREATE TABLE t
    * (c1 T1, c2 T2, …) USING parquet` produced by the CREATE rewrite.
    */
  private def declaredColumnsOf(createStd: String): Seq[String] = {
    val toks = lex(createStd)
    val openIdx = toks.indexWhere(t => t.text == "(" && t.depth == 0)
    val closeIdx = toks.indexWhere(t => t.text == ")" && t.depth == 0, openIdx)
    require(openIdx > 0 && closeIdx > openIdx,
      s"cannot locate the column group in: $createStd")
    // the identifier opening each depth-1 item (first token after the
    // group opener or a depth-1 comma)
    val names = Vector.newBuilder[String]
    var expectName = true
    toks.slice(openIdx + 1, closeIdx).foreach { t =>
      if (expectName && isIdent(t)) { names += t.text; expectName = false }
      else if (t.text == "," && t.depth == 1) expectName = true
    }
    names.result()
  }

  /** Retarget a standard `CREATE TABLE <name> (…)` at another name. */
  private def spliceTableName(createStd: String, to: String): String = {
    val toks = lex(createStd)
    var ni = 2
    if (toks(ni).lower == "if") ni += 3
    createStd.substring(0, toks(ni).start) + to +
      createStd.substring(toks(ni).end)
  }

  /** The common ClickHouse partition expressions, translated to
    * extension-free Spark SQL (these run inside [[writeBlock]] on every
    * inserted block, and at DDL time to derive the partition column's
    * type). Unknown expressions pass through verbatim — they resolve
    * when the session has the dialect's function registry installed,
    * and fail loudly at DDL time otherwise.
    */
  private def chPartExprToSpark(spec: String): String = {
    val m = "(?is)^(\\w+)\\s*\\((.*)\\)$".r
    spec.trim match {
      case m(fn, arg) => fn.toLowerCase(java.util.Locale.ROOT) match {
        case "toyyyymm" => s"CAST(date_format($arg, 'yyyyMM') AS INT)"
        case "toyyyymmdd" => s"CAST(date_format($arg, 'yyyyMMdd') AS INT)"
        case "toyyyy" | "toyear" => s"year($arg)"
        case "tomonth" => s"month($arg)"
        case "todate" => s"CAST(($arg) AS DATE)"
        case "tostartofmonth" => s"trunc(CAST(($arg) AS DATE), 'MM')"
        case "tostartofweek" | "tomonday" =>
          s"date_sub(CAST(($arg) AS DATE), " +
            s"(dayofweek(CAST(($arg) AS DATE)) + 5) % 7)"
        case "tostartofday" => s"CAST(($arg) AS DATE)"
        case "intdiv" =>
          // split ONLY at the top-level comma — nested calls carry their
          // own commas (intDiv(toUInt32(x, 'UTC'), 100) must not garble).
          // FLOOR (round toward −∞) matches CH intDiv on the nonnegative
          // partition-key domain this translation serves.
          val commas = lex(arg).filter(t => t.text == "," && t.depth == 0)
          require(commas.size == 1, s"intDiv expects 2 arguments: $spec")
          val a = arg.substring(0, commas.head.start).trim
          val b = arg.substring(commas.head.end).trim
          s"CAST(FLOOR(($a) / ($b)) AS BIGINT)"
        case _ => spec.trim
      }
      case other => other
    }
  }

  /** Partition pruning for EXPRESSION-partitioned tables: ClickHouse
    * users filter by the partition expression itself (`WHERE
    * toYYYYMM(d) = 202402`), but through the declared-order view that
    * predicate is a function of the data column — the scan cannot prune
    * on it. This pass rewrites the query to read the physical table
    * (declared columns + `__ch_part`, aliased back to the declared
    * name) and replaces every occurrence of the partition expression's
    * token sequence with `__ch_part`, so the predicate lands on the
    * REAL partition column and the parquet scan prunes whole months.
    * Conservative gates — any miss leaves the query correct, just
    * unpruned: SELECT-only, no FINAL, no bare `*` (the subquery would
    * widen it), exactly one expression-partitioned relation, and the
    * spec's token sequence actually present.
    */
  private def rewritePartitionPrune(sqlText: String): String = {
    import scala.jdk.CollectionConverters._
    val exprTabs = partTables.asScala.toMap.filter(_._2.genExpr.isDefined)
    if (exprTabs.isEmpty) return sqlText
    val ts = lex(sqlText)
    if (ts.isEmpty ||
      (ts.head.lower != "select" && ts.head.lower != "with")) return sqlText
    if (ts.exists(t => t.lower == "final" || t.text == "*")) return sqlText
    val rels = ts.zipWithIndex.filter { case (t, i) =>
      isIdent(t) && exprTabs.contains(norm(t.text)) &&
        ts.lift(i - 1).exists(p => p.lower == "from" || p.lower == "join")
    }
    if (rels.map { case (t, _) => norm(t.text) }.distinct.size != 1)
      return sqlText
    val pt = exprTabs(norm(rels.head._1.text))
    val specToks = pt.chSpec.map(s => lex(s).map(_.lower))
      .getOrElse(return sqlText)
    if (specToks.isEmpty) return sqlText
    val tl = ts.map(_.lower)
    val hits = (0 to ts.length - specToks.length).filter { s =>
      specToks.indices.forall(j => tl(s + j) == specToks(j))
    }
    if (hits.isEmpty) return sqlText
    // build the spliced text: spec hits → __ch_part, relations → the
    // __ch_part-bearing subquery (aliased to the declared name when the
    // relation has no alias of its own, so qualified refs keep working)
    final case class Span(start: Int, end: Int, repl: String)
    val sub = s"(SELECT ${(pt.declared :+ GenPartCol).map(q1).mkString(", ")} " +
      s"FROM ${pt.physical})"
    val relSpans = rels.map { case (t, i) =>
      val aliased = ts.lift(i + 1).exists(isIdent)
      Span(t.start, t.end, if (aliased) sub else s"$sub AS ${t.text}")
    }
    val hitSpans = hits.map(s =>
      Span(ts(s).start, ts(s + specToks.length - 1).end, GenPartCol))
    val spans = (relSpans ++ hitSpans).sortBy(_.start)
    // overlapping spans (a spec hit inside a relation name is impossible,
    // but be safe) → bail out untouched
    if (spans.sliding(2).exists {
      case Seq(a, b) => a.end > b.start
      case _ => false
    }) return sqlText
    val sb = new StringBuilder
    var last = 0
    spans.foreach { sp =>
      sb.append(sqlText.substring(last, sp.start)).append(sp.repl)
      last = sp.end
    }
    sb.append(sqlText.substring(last))
    sb.toString
  }

  /** The recycle slot a delayed DROP parks `table` under. One slot per
    * name: a later drop of the same name purges the previous occupant.
    */
  private def droppedSlot(table: String): String = norm(table) + "__dropped"

  /** Remove `table` physically — both pieces of a partitioned layout
    * plus every registry entry. The terminal form of DROP (SYNC, or
    * purging a recycle slot).
    */
  private def physicalDrop(spark: SparkSession, table: String): Unit = {
    partitionedTable(table) match {
      case Some(pt) =>
        spark.sql(s"DROP VIEW IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS ${pt.physical}")
        spark.sql(s"DROP TABLE IF EXISTS ${pt.physical}__detached")
        partTables.remove(norm(table))
      case None =>
        spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    engines.remove(norm(table))
    sortKeys.remove(norm(table))
    nullableCols.remove(norm(table))
    ttlExprs.remove(norm(table))
    mvDefs.remove(norm(table))
    projPhysicalDrop(spark, table)
  }

  /** `DROP TABLE` / `TRUNCATE TABLE` / `UNDROP TABLE` through the
    * dialect.
    *
    *   - `DROP TABLE [IF EXISTS] t` is a DELAYED drop (the CH Atomic-
    *     database idiom): the table — data, layout, registries — is
    *     metadata-RENAMED into the `<t>__dropped` recycle slot, never
    *     copied, so drop stays O(1) at any data size and
    *     `UNDROP TABLE t` restores it exactly. One slot per name: a
    *     later drop of the same name purges the previous occupant, and
    *     `DROP TABLE t SYNC` (CH's wait-for-removal form) purges
    *     immediately with no recycle slot.
    *   - `UNDROP TABLE t` renames the slot back; it errors loudly if a
    *     new `t` exists (CH: UNDROP after re-CREATE fails) or if there
    *     is nothing to restore.
    *   - `TRUNCATE TABLE` on a [[PartitionedTable]] truncates the
    *     physical piece; other tables take the generic path.
    *
    * Plain Spark VIEWs are not intercepted (CH: DROP TABLE on a view is
    * an error — falls through to Spark's own loud failure).
    */
  private def tableLifecycle(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 3) return None
    val verb = toks.head.lower
    if (verb == "undrop") {
      if (toks(1).lower != "table" || !isIdent(toks(2))) return None
      val table = toks(2).text
      val slot = droppedSlot(table)
      require(!spark.catalog.tableExists(table) &&
        partitionedTable(table).isEmpty,
        s"UNDROP TABLE: $table already exists — drop or rename it first")
      require(spark.catalog.tableExists(slot),
        s"UNDROP TABLE: nothing to restore for $table (never dropped, " +
          "dropped SYNC, or purged by a later drop of the same name)")
      renameTable(spark, slot, table)
      return Some(spark.emptyDataFrame)
    }
    if ((verb != "drop" && verb != "truncate") || toks(1).lower != "table")
      return None
    var i = 2
    var ifExists = false
    if (toks(i).lower == "if") { ifExists = true; i += 2 } // IF EXISTS
    if (!toks.lift(i).exists(isIdent)) return None
    val table = toks(i).text
    val sync = toks.lift(i + 1).exists(_.lower == "sync")
    if (verb == "truncate") {
      return partitionedTable(table) match {
        case None =>
          if (projectionsOn(table).exists(_.materialized)) {
            // keep projections consistent with the emptied table
            spark.sql(s"TRUNCATE TABLE $table")
            rematerializeProjections(spark, table)
            Some(spark.emptyDataFrame)
          } else None
        case Some(pt) =>
          spark.sql(s"TRUNCATE TABLE ${pt.physical}")
          rematerializeProjections(spark, table)
          Some(spark.emptyDataFrame)
      }
    }
    // DROP TABLE. Missing target: IF EXISTS is a quiet no-op, otherwise
    // Spark's own error path is the loud one.
    val isPartitioned = partitionedTable(table).isDefined
    if (!isPartitioned && !spark.catalog.tableExists(table))
      return if (ifExists) Some(spark.emptyDataFrame) else None
    if (!isPartitioned) {
      val tableType =
        try spark.catalog.getTable(table).tableType
        catch { case scala.util.control.NonFatal(_) => "" }
      if (tableType == "VIEW") return None
    }
    // one recycle slot per name: purge the previous occupant
    if (spark.catalog.tableExists(droppedSlot(table)))
      physicalDrop(spark, droppedSlot(table))
    if (sync) physicalDrop(spark, table)
    else renameTable(spark, table, droppedSlot(table))
    Some(spark.emptyDataFrame)
  }

  /** `KILL MUTATION/QUERY` — loud migration guidance, the
    * runningDifference philosophy: mutations here are SYNCHRONOUS
    * (ALTER … UPDATE/DELETE materializes before returning), so there is
    * never an async mutation to kill; a running query is a Spark job.
    */
  private def killVerb(sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.isEmpty || toks.head.lower != "kill") return None
    throw new IllegalArgumentException(
      "KILL MUTATION/QUERY: mutations are synchronous in this engine " +
        "(ALTER ... UPDATE/DELETE materializes before returning), so " +
        "there is never an async mutation to kill; cancel the Spark " +
        "job to stop a running query")
  }

  /** `EXISTS [TABLE] t` — CH's existence probe: one row, `result` 1/0.
    * Covers both plain catalog tables and the dialect's partitioned
    * two-piece layout (whose declared name is a view).
    */
  private def existsTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.isEmpty || toks.head.lower != "exists") return None
    var i = 1
    if (toks.lift(i).exists(_.lower == "table")) i += 1
    if (toks.length != i + 1 || !isIdent(toks(i))) return None
    val table = toks(i).text
    val ok = spark.catalog.tableExists(table) ||
      partitionedTable(table).isDefined
    Some(spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(if (ok) 1L else 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("result",
          org.apache.spark.sql.types.LongType)))))
  }

  /** `SHOW TABLES [LIKE '<pattern>']` in CH's output shape: ONE `name`
    * column (Spark's builtin returns namespace/tableName/isTemporary).
    * The dialect's internal pieces (`__parts`, `__detached`, recycle
    * slots) are machinery, not tables — hidden, like CH hides its own
    * internals. LIKE uses CH `%`/`_` wildcards, case-sensitive.
    */
  private def showTables(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length < 2 || toks.head.lower != "show" ||
      toks(1).lower != "tables") return None
    val pat: Option[String] =
      if (toks.lift(2).exists(_.lower == "like"))
        "'([^']*)'".r.findFirstMatchIn(sqlText.substring(toks(2).end))
          .map(_.group(1))
      else if (toks.length == 2) None
      else return None // SHOW TABLES FROM/IN db — no databases here
    val rx = pat.map(p => ("^" + java.util.regex.Pattern.quote(p)
      .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r)
    val internal = Seq("__parts", "__detached", "__dropped", "__proj_")
    val names = spark.catalog.listTables().collect()
      .map(_.name)
      .filterNot(n => internal.exists(n.contains))
      .filter(n => rx.forall(_.findFirstIn(n).isDefined))
      .sorted
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList[org.apache.spark.sql.Row]
    names.foreach(n => rows.add(org.apache.spark.sql.Row(n)))
    Some(spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType)))))
  }

  /** `SHOW DATABASES` — one `name` column from the session catalog
    * (CH shape; this engine hosts one catalog, so typically just
    * `default`).
    */
  private def showDatabases(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length != 2 || toks.head.lower != "show" ||
      toks(1).lower != "databases") return None
    Some(oneStringColumn(spark, "name",
      spark.catalog.listDatabases().collect().map(_.name).sorted.toSeq))
  }

  /** `SHOW PROCESSLIST` — CH's running-query view. Dialect statements
    * here execute synchronously inside the caller's session, so the
    * list is always empty (the honest answer, not a stub error): the
    * columns exist, the rows never do.
    */
  private def showProcesslist(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length != 2 || toks.head.lower != "show" ||
      toks(1).lower != "processlist") return None
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    Some(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("query_id", StringType),
        StructField("user", StringType),
        StructField("elapsed", DoubleType),
        StructField("query", StringType)))))
  }

  /** `SHOW FUNCTIONS [LIKE '<pattern>']` — the dialect's registered CH
    * function-name surface, one `name` column (CH wildcards, like
    * SHOW TABLES).
    */
  private def showFunctions(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length < 2 || toks.head.lower != "show" ||
      toks(1).lower != "functions") return None
    val pat: Option[String] =
      if (toks.lift(2).exists(_.lower == "like"))
        "'([^']*)'".r.findFirstMatchIn(sqlText.substring(toks(2).end))
          .map(_.group(1))
      else if (toks.length == 2) None
      else return None
    val rx = pat.map(p => ("^" + java.util.regex.Pattern.quote(p)
      .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r)
    Some(oneStringColumn(spark, "name",
      ClickHouseDialect.names.distinct.sorted
        .filter(n => rx.forall(_.findFirstIn(n).isDefined))))
  }

  private def oneStringColumn(spark: SparkSession, col: String,
    values: Seq[String]): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList[org.apache.spark.sql.Row]
    values.foreach(v => rows.add(org.apache.spark.sql.Row(v)))
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(col,
          org.apache.spark.sql.types.StringType))))
  }

  /** CH `DETACH TABLE t [PERMANENTLY]` / `ATTACH TABLE t`: DETACH
    * renames the table (files, engine/partition/projection
    * registrations and all — the UNDROP recycle-slot machinery
    * reused) into an internal detached slot, invisible to queries and
    * SHOW TABLES the way CH detached tables are; ATTACH renames it
    * back. PERMANENTLY is accepted and identical — the distinction is
    * about server restarts, which this engine does not have. The
    * schema-ful `ATTACH TABLE t (cols…)` form is not supported:
    * rewrite as CREATE TABLE (this engine keeps no orphan metadata to
    * re-adopt).
    */
  private def detachedTableSlot(table: String): String =
    norm(table) + "__detached_tbl"
  private def detachAttachTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length < 3) return None
    val verb = toks.head.lower
    if ((verb != "detach" && verb != "attach") ||
      toks(1).lower != "table" || !isIdent(toks(2))) return None
    val table = toks(2).text
    val extra = toks.drop(3).map(_.lower)
    val slot = detachedTableSlot(table)
    def live(t: String): Boolean =
      spark.catalog.tableExists(t) || partitionedTable(t).isDefined
    if (verb == "detach") {
      require(extra.isEmpty || extra == Seq("permanently"),
        "DETACH TABLE: only the bare or PERMANENTLY form is supported")
      require(live(table), s"DETACH TABLE: no table $table")
      require(!live(slot), s"DETACH TABLE: $table is already detached")
      renameTable(spark, table, slot)
    } else {
      require(extra.isEmpty,
        "ATTACH TABLE: bare re-attach only — the schema-ful form " +
          "rewrites as CREATE TABLE")
      require(live(slot), s"ATTACH TABLE: nothing detached under $table")
      require(!live(table), s"ATTACH TABLE: $table already exists")
      renameTable(spark, slot, table)
    }
    Some(spark.emptyDataFrame)
  }

  /** `BACKUP TABLE t TO File('<path>')` / `RESTORE TABLE t [AS t2]
    * FROM File('<path>')` — the CH 22.8+ backup verbs (the bare quoted
    * `TO '<path>'` form is accepted too). A backup is a REAL copy:
    * the table's current rows land as parquet under `<path>/data` and
    * the normalized CH DDL (the SHOW CREATE statement — engine, sort
    * key, partition spec, TTL, Nullable) as `<path>/ddl.sql`, so the
    * backup is self-describing and survives the session. RESTORE
    * replays that DDL through the dialect (recreating the partitioned
    * two-piece layout and every registration) and appends the data
    * through the dialect write path (partition placement +
    * sort-key-ordered blocks, same as any INSERT). Like CH: BACKUP to
    * an existing path errors; RESTORE onto an existing table errors;
    * `RESTORE TABLE t AS t2` renames on the way in. All file I/O rides
    * the TARGET path's Hadoop FileSystem, so `hdfs://`/`s3a://`
    * destinations work unchanged on a cluster.
    */
  private def backupRestore(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText).filterNot(_.text == ";")
    if (toks.length < 4) return None
    val verb = toks.head.lower
    if ((verb != "backup" && verb != "restore") ||
      toks(1).lower != "table" || !isIdent(toks(2))) return None
    val table = toks(2).text
    var i = 3
    // RESTORE TABLE t AS t2
    var restoreAs = table
    if (verb == "restore" && toks.lift(i).exists(_.lower == "as") &&
      toks.lift(i + 1).exists(isIdent)) {
      restoreAs = toks(i + 1).text; i += 2
    }
    val kw = if (verb == "backup") "to" else "from"
    require(toks.lift(i).exists(_.lower == kw),
      s"${verb.toUpperCase} TABLE expects ${kw.toUpperCase} <destination>: $sqlText")
    val raw = sqlText.substring(toks(i).end)
    val path = "'([^']+)'".r.findFirstMatchIn(raw).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(
        s"${verb.toUpperCase} TABLE needs a quoted path: $sqlText"))
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(base, "data")
    val ddlFile = new org.apache.hadoop.fs.Path(base, "ddl.sql")
    if (verb == "backup") {
      require(spark.catalog.tableExists(table),
        s"BACKUP TABLE: no table $table")
      require(!fs.exists(base),
        s"BACKUP TABLE: destination already exists: $path")
      spark.table(table).write.parquet(dataDir.toString)
      val out = fs.create(ddlFile)
      try out.write(createStatementOf(spark, table)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } else {
      require(fs.exists(ddlFile),
        s"RESTORE TABLE: no backup at $path (missing ddl.sql)")
      require(!spark.catalog.tableExists(restoreAs) &&
        partitionedTable(restoreAs).isEmpty,
        s"RESTORE TABLE: $restoreAs already exists — drop it first " +
          "(CH: RESTORE onto an existing table errors)")
      val in = fs.open(ddlFile)
      val ddl =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      sql(spark, if (restoreAs == table) ddl
        else spliceTableName(ddl, restoreAs))
      appendAligned(spark, restoreAs, spark.read.parquet(dataDir.toString))
    }
    Some(spark.emptyDataFrame)
  }

  /** `SELECT … INTO OUTFILE '<path>' [TRUNCATE] [FORMAT <name>]` — CH's
    * client-side single-file export. The clause is cut from the text, the
    * remaining SELECT runs through [[rewrite]], and the result lands as
    * ONE file at the exact path (write-to-temp-dir then move the single
    * part, since a distributed writer emits directories). Formats: CSV /
    * CSVWithNames (header) / TSV / TabSeparated[WithNames] / Parquet /
    * JSONEachRow; with no FORMAT the extension decides (.csv/.tsv/
    * .parquet/.json|.jsonl), defaulting to CSV like ClickHouse. An
    * existing file errors unless TRUNCATE is given — CH's own contract.
    * The single-file move is the honest semantic: this is an EXPORT verb
    * for human-scale results, not the parallel table writer.
    */
  private def intoOutfile(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    toks.zipWithIndex.find { case (t, i) =>
      t.depth == 0 && t.lower == "into" &&
        toks.lift(i + 1).exists(n => n.depth == 0 && n.lower == "outfile")
    }.map { case (t, i) =>
      val outTok = toks(i + 1)
      val rawEnd = toks.lift(i + 2).map(_.start).getOrElse(sqlText.length)
      val raw = sqlText.substring(outTok.end, rawEnd)
      val m = "'([^']+)'".r.findFirstMatchIn(raw).getOrElse(
        throw new IllegalArgumentException(
          s"INTO OUTFILE needs a quoted path: $sqlText"))
      val path = m.group(1)
      var clauseEnd = outTok.end + m.end
      var j = i + 2
      var truncate = false
      if (toks.lift(j).exists(x => x.depth == 0 && x.lower == "truncate")) {
        truncate = true; clauseEnd = toks(j).end; j += 1
      }
      var fmtName: Option[String] = None
      if (toks.lift(j).exists(x => x.depth == 0 && x.lower == "format") &&
        toks.lift(j + 1).exists(isIdent)) {
        fmtName = Some(toks(j + 1).lower); clauseEnd = toks(j + 1).end; j += 2
      }
      val query = (sqlText.substring(0, t.start) + " " +
        sqlText.substring(clauseEnd)).trim.stripSuffix(";")
      val df = spark.sql(rewrite(query, tb => spark.table(tb).columns.toSeq))
      // all path handling goes through the Hadoop FileSystem of the
      // TARGET path: on a cluster the export lands on shared storage
      // (hdfs://, s3a://…) where java.io.File would silently look at the
      // driver's local disk instead
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
      require(truncate || !fs.exists(target),
        s"INTO OUTFILE target exists (add TRUNCATE to overwrite): $path")
      val ext = path.substring(path.lastIndexOf('.') + 1)
        .toLowerCase(java.util.Locale.ROOT)
      val fmt = fmtName.getOrElse(ext match {
        case "parquet" => "parquet"
        case "json" | "jsonl" => "jsoneachrow"
        case "tsv" => "tabseparated"
        case _ => "csv"
      })
      val tmp = path + ".__outfile_tmp"
      val w = df.coalesce(1).write.mode("overwrite")
      fmt match {
        case "csv" => w.option("header", "false").csv(tmp)
        case "csvwithnames" => w.option("header", "true").csv(tmp)
        case "tsv" | "tabseparated" =>
          w.option("header", "false").option("sep", "\t").csv(tmp)
        case "tsvwithnames" | "tabseparatedwithnames" =>
          w.option("header", "true").option("sep", "\t").csv(tmp)
        case "parquet" => w.parquet(tmp)
        case "jsoneachrow" => w.json(tmp)
        case other => throw new IllegalArgumentException(
          s"INTO OUTFILE format $other is not supported " +
            "(CSV[WithNames], TabSeparated[WithNames], Parquet, JSONEachRow)")
      }
      val tmpDir = new org.apache.hadoop.fs.Path(tmp)
      val part = fs.listStatus(tmpDir).map(_.getPath)
        .find(_.getName.startsWith("part-")).getOrElse(
          throw new IllegalStateException(s"no part file written under $tmp"))
      if (fs.exists(target) && !fs.delete(target, false))
        throw new IllegalStateException(s"could not replace $path")
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"could not move $part to $path")
      fs.delete(tmpDir, true)
      spark.emptyDataFrame
    }
  }

  /** ClickHouse dictionary DDL wired to the dialect's dictGet registry.
    *
    *   - `CREATE DICTIONARY [IF NOT EXISTS] name (cols…) PRIMARY KEY k
    *     SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(…) LIFETIME(…)` reads the
    *     source table, projects the declared columns, and registers the
    *     result via [[ClickHouseDialect.registerDictionary]] — after which
    *     `dictGet('name', 'attr', key)` resolves in any query. LAYOUT and
    *     LIFETIME are engine tuning (hash layout / refresh cadence) and are
    *     erased: the registry is an in-memory map compiled into plans, and
    *     refresh = re-running CREATE DICTIONARY. Only the CLICKHOUSE(TABLE)
    *     source is meaningful here — external HTTP/MySQL sources name
    *     infrastructure this library does not reach.
    *   - `DROP DICTIONARY [IF EXISTS] name` unregisters it.
    */
  private def dictionaryDdl(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    def noop: DataFrame = spark.emptyDataFrame
    if (toks.length >= 2 && toks.head.lower == "drop" &&
      toks(1).lower == "dictionary") {
      var i = 2
      val guarded =
        if (toks.lift(i).exists(_.lower == "if")) { i += 2; true } else false
      require(toks.length > i && isIdent(toks(i)),
        s"DROP DICTIONARY expects a name: $sqlText")
      val existed = ClickHouseDialect.dropDictionary(toks(i).text)
      require(existed || guarded, s"dictionary ${toks(i).text} is not registered")
      dictDefs.remove(norm(toks(i).text))
      return Some(noop)
    }
    if (!(toks.length >= 2 && toks.head.lower == "create" &&
      toks(1).lower == "dictionary")) return None
    var i = 2
    val guarded =
      if (toks.lift(i).exists(_.lower == "if")) { i += 3; true } else false
    require(toks.length > i + 1 && isIdent(toks(i)) && toks(i + 1).text == "(",
      s"CREATE DICTIONARY expects name (columns…): $sqlText")
    val name = toks(i).text
    if (guarded && ClickHouseDialect.dictionaryExists(name)) return Some(noop)
    // declared column names: the identifier opening each depth-1 item
    val open = i + 1
    val d = toks(open).depth
    var j = open + 1
    var colNames = Vector.empty[String]
    var atItemStart = true
    while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) {
      val t = toks(j)
      if (atItemStart && t.depth == d + 1 && isIdent(t)) {
        colNames :+= t.text; atItemStart = false
      } else if (t.text == "," && t.depth == d + 1) atItemStart = true
      j += 1
    }
    require(colNames.nonEmpty, s"CREATE DICTIONARY has no columns: $sqlText")
    val pk = toks.indexWhere(t => t.lower == "primary" && t.depth == 0)
    require(pk >= 0 && toks.lift(pk + 1).exists(_.lower == "key") &&
      toks.lift(pk + 2).exists(isIdent),
      s"CREATE DICTIONARY needs PRIMARY KEY <col>: $sqlText")
    require(!toks.lift(pk + 3).exists(t => t.text == "," && t.depth == 0),
      s"composite dictionary keys are not supported: $sqlText")
    val keyCol = toks(pk + 2).text
    val src = toks.indexWhere(_.lower == "source")
    require(src >= 0, s"CREATE DICTIONARY needs SOURCE(CLICKHOUSE(TABLE …)): $sqlText")
    val tbl = toks.indexWhere(t => t.lower == "table" && t.depth >= 2, src)
    require(tbl >= 0, s"only SOURCE(CLICKHOUSE(TABLE …)) is supported: $sqlText")
    // the table name is a string literal (lexed away) or a bare ident
    val srcTable =
      if (toks.lift(tbl + 1).exists(t => isIdent(t))) toks(tbl + 1).text
      else {
        val rawEnd = toks.lift(tbl + 1).map(_.start).getOrElse(sqlText.length)
        val raw = sqlText.substring(toks(tbl).end, rawEnd)
        val m = "'([^']*)'".r.findFirstMatchIn(raw)
        require(m.isDefined, s"SOURCE TABLE needs a name: $sqlText")
        m.get.group(1)
      }
    val srcDf = spark.table(srcTable)
    val have = srcDf.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = colNames.filterNot(c => have(c.toLowerCase(java.util.Locale.ROOT)))
    require(missing.isEmpty,
      s"dictionary columns not on $srcTable: ${missing.mkString(", ")}")
    ClickHouseDialect.registerDictionary(
      srcDf.selectExpr(colNames: _*), name, keyCol)
    // remember the definition so SYSTEM RELOAD DICTIONARY can
    // re-snapshot from the current source rows
    dictDefs.put(norm(name), DictDef(srcTable, colNames, keyCol))
    Some(noop)
  }

  /** Tables whose merges are administratively stopped (SYSTEM STOP
    * MERGES); the sentinel `*` means globally stopped. Read by the
    * OPTIMIZE gate.
    */
  private val stoppedMerges =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def mergesStopped(table: String): Boolean =
    stoppedMerges.contains("*") || stoppedMerges.contains(norm(table))

  /** CREATE DICTIONARY definitions (name → source table, columns, key)
    * so `SYSTEM RELOAD DICTIONARY` can re-snapshot from the CURRENT
    * source rows — registration itself is a point-in-time snapshot.
    */
  private final case class DictDef(srcTable: String, cols: Seq[String],
    keyCol: String)
  private val dictDefs =
    new java.util.concurrent.ConcurrentHashMap[String, DictDef]

  /** `SYSTEM <verb>` administration statements:
    *
    *   - `SYSTEM STOP MERGES [table]` / `SYSTEM START MERGES [table]` —
    *     with a table, gates that table's OPTIMIZE; bare form gates all
    *     tables. Background merges don't exist in this engine (merging
    *     happens at OPTIMIZE/FINAL time), so the OBSERVABLE contract is
    *     exactly the OPTIMIZE gate: while stopped, OPTIMIZE fails
    *     loudly instead of merging; FINAL reads still collapse at query
    *     time, as they do on a merges-stopped ClickHouse table.
    *   - `SYSTEM RELOAD DICTIONARY name` / `SYSTEM RELOAD DICTIONARIES`
    *     — re-snapshot the registered dictionary (or all of them) from
    *     the current source-table rows, CH's manual refresh.
    *   - `SYSTEM FLUSH LOGS` — accepted no-op: system log tables are
    *     ClickHouse server infrastructure with no analog here.
    *
    * Other SYSTEM verbs (replica/cluster management) name
    * infrastructure this engine does not have and fail loudly.
    */
  private def systemVerb(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.isEmpty || toks.head.lower != "system") return None
    def noop: DataFrame = spark.emptyDataFrame
    val verb = toks.lift(1).map(_.lower).getOrElse("")
    val obj = toks.lift(2).map(_.lower).getOrElse("")
    (verb, obj) match {
      case ("stop", "merges") | ("start", "merges") =>
        val key = toks.lift(3).filter(isIdent).map(t => norm(t.text))
          .getOrElse("*")
        if (verb == "stop") stoppedMerges.add(key)
        else if (key == "*") stoppedMerges.clear() // global START clears all
        else stoppedMerges.remove(key)
        Some(noop)
      case ("reload", "dictionary") =>
        require(toks.lift(3).exists(isIdent),
          s"SYSTEM RELOAD DICTIONARY expects a name: $sqlText")
        reloadDictionary(spark, toks(3).text)
        Some(noop)
      case ("reload", "dictionaries") =>
        import scala.jdk.CollectionConverters._
        dictDefs.keySet().asScala.toSeq.sorted
          .foreach(reloadDictionary(spark, _))
        Some(noop)
      case ("flush", "logs") => Some(noop)
      case _ => throw new IllegalArgumentException(
        s"unsupported SYSTEM statement (replica/cluster verbs name " +
          s"infrastructure this engine does not have): $sqlText")
    }
  }

  private def reloadDictionary(spark: SparkSession, name: String): Unit = {
    val d = dictDefs.get(norm(name))
    require(d != null, s"dictionary $name is not registered")
    ClickHouseDialect.registerDictionary(
      spark.table(d.srcTable).selectExpr(d.cols: _*), name, d.keyCol)
  }

  /** ClickHouse `transform(x, from, to[, default])` — value remapping
    * against literal arrays — collides with Spark's HIGHER-ORDER
    * `transform(arr, lambda)`: the registry never shadows builtins, so
    * the name itself is unmappable. The two are distinguishable from
    * text: Spark's form always has exactly TWO top-level arguments; CH's
    * has three or four. Those calls rename to the registered
    * `chTransform`, whose builder is a guarded array-position lookup.
    */
  private def rewriteChTransform(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      if (t.lower == "transform" && toks(i + 1).text == "(") {
        val d = toks(i + 1).depth
        var j = i + 2
        var commas = 0
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) {
          if (toks(j).text == "," && toks(j).depth == d + 1) commas += 1
          j += 1
        }
        if (commas == 2 || commas == 3) splices += ((t.start, t.end, "chTransform"))
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** `OPTIMIZE TABLE t [FINAL]` — ClickHouse's force-merge. The batch
    * analog MATERIALIZES the registered engine's read-time merge:
    * evaluate `SELECT * FROM t FINAL`, cut the lineage with an eager
    * local checkpoint (so the overwrite isn't reading the files it
    * replaces), and overwrite the table in place. Afterwards plain
    * reads — no FINAL — see merged data, exactly what a CH background
    * merge achieves. A table with no registered engine is already
    * merged; the statement is then a no-op, like CH on a merged part.
    */
  private def optimizeTable(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.isEmpty || toks.head.lower != "optimize") return None
    require(toks.length >= 3 && toks(1).lower == "table" && isIdent(toks(2)),
      s"unsupported OPTIMIZE statement: $sqlText")
    val table = toks(2).text
    // optional `PARTITION <value>` scope (CH merges never cross
    // partitions, so a scoped OPTIMIZE is exact CH semantics — and the
    // only scale-sensible form on a big table: rewrite one partition's
    // files, not the table)
    var rest = toks.drop(3)
    var partVal: Option[String] = None
    if (rest.headOption.exists(_.lower == "partition")) {
      // the lexer treats string literals as opaque (no token), so a
      // quoted value lives in the RAW text between this token and the
      // next; bare numeric values do lex as tokens
      val pTok = rest.head
      val nextStart = rest.lift(1).map(_.start).getOrElse(sqlText.length)
      "'((?:[^']|'')*)'".r
        .findFirstMatchIn(sqlText.substring(pTok.end, nextStart)) match {
        case Some(m) =>
          partVal = Some(m.group(1)); rest = rest.drop(1)
        case None =>
          require(rest.length >= 2,
            s"OPTIMIZE ... PARTITION expects a value: $sqlText")
          partVal = Some(rest(1).text); rest = rest.drop(2)
      }
    }
    require(rest.forall(t => t.lower == "final" || t.lower == ";" ||
      t.lower == "deduplicate" || t.lower == "by" || t.text == "," ||
      isIdent(t)),
      s"unsupported OPTIMIZE statement: $sqlText")
    // SYSTEM STOP MERGES gate: CH refuses to start the merge while
    // merges are stopped for the table (optimize_throw_if_noop
    // behavior) — failing loudly beats a silent no-op that callers
    // would read as "merged"
    require(!mergesStopped(table),
      s"OPTIMIZE TABLE $table: merges are stopped " +
        "(SYSTEM STOP MERGES) — run SYSTEM START MERGES first")
    val dedupIdx = toks.indexWhere(_.lower == "deduplicate")
    // relation the three transforms read, and how their result lands:
    // unscoped → the declared view, whole-table overwrite; scoped →
    // only the named partition's physical rows (partition-pruned scan),
    // and a DYNAMIC-overwrite write that replaces only that partition's
    // files — an all-rows-expired partition falls back to the native
    // DROP PARTITION (dynamic overwrite of an empty frame is a no-op).
    partVal.foreach { _ =>
      require(partitionedTable(table).isDefined,
        s"OPTIMIZE ... PARTITION: $table is not partitioned")
    }
    def sourceRelation(): String = sourceRelationFor(spark, table, partVal)
    def landBlock(df: DataFrame): Unit =
      landBlockFor(spark, table, partVal, df)
    engineOf(table).foreach { e =>
      val rel = sourceRelation()
      val merged =
        if (rel == table)
          spark.sql(rewrite(s"SELECT * FROM $table FINAL",
            t => spark.table(t).columns.toSeq))
        else spark.sql("SELECT * FROM " +
          finalSubquery(rel, spark.table(rel).columns.toSeq, e))
      landBlock(merged)
    }
    if (dedupIdx >= 0) {
      // `OPTIMIZE TABLE t [FINAL] DEDUPLICATE [BY c1, …]` — drop rows
      // that are exact duplicates (of the BY columns, or fully) keeping
      // one copy, like CH's merge-time dedup. The BY form keeps ONE
      // arbitrary-but-deterministic representative per key (min of each
      // other column is not CH's pick either — CH keeps an arbitrary
      // row; we take rank-1 under the table's column order for
      // reproducibility).
      val rel = sourceRelation()
      val cols = spark.table(rel).columns.toSeq
      val byCols =
        if (toks.lift(dedupIdx + 1).exists(_.lower == "by"))
          toks.drop(dedupIdx + 2).filter(isIdent).map(_.text)
        else cols
      require(byCols.nonEmpty, s"DEDUPLICATE BY: empty column list in $sqlText")
      val q = qcols(cols)
      val part = qcols(byCols)
      val deduped = spark.sql(
        s"SELECT ${q.mkString(", ")} FROM (SELECT ${q.mkString(", ")}, " +
          s"ROW_NUMBER() OVER (PARTITION BY ${part.mkString(", ")} " +
          s"ORDER BY ${q.mkString(", ")}) AS __ch_dd FROM $rel) " +
          "__ch_ddq WHERE __ch_dd = 1")
      landBlock(deduped)
    }
    // merge-time TTL: rows whose TTL timestamp has passed leave the
    // table with the merge OPTIMIZE just forced (CH applies TTL on
    // merges, never at read time). NULL TTL values never expire.
    Option(ttlExprs.get(norm(table))).foreach { ttl =>
      val rel = sourceRelation()
      val kept = spark.sql(rewrite(
        s"SELECT * FROM $rel WHERE NOT coalesce(($ttl) <= now(), false)",
        t => spark.table(t).columns.toSeq))
      landBlock(kept)
    }
    Some(spark.table(table).limit(0))
  }

  /** The relation a table-rewriting verb reads: the declared view for
    * an unscoped rewrite, or a temp view over ONLY the named
    * partition's physical rows (a partition-pruned scan) for a
    * `PARTITION v` scope. Shared by OPTIMIZE and MATERIALIZE TTL.
    */
  private def sourceRelationFor(spark: SparkSession, table: String,
    partVal: Option[String]): String = partVal match {
    case Some(v) =>
      import org.apache.spark.sql.functions.{col, lit}
      val pt = partitionedTable(table).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITION-scoped rewrite: $table is not partitioned"))
      val pcol = pt.partCols.head
      val physSchema = spark.table(pt.physical).schema
      spark.table(pt.physical)
        .where(col(q1(pcol)) === lit(v).cast(physSchema(pcol).dataType))
        .select(pt.declared.map(c => col(q1(c))): _*)
        .createOrReplaceTempView("__ch_opt_scope")
      "__ch_opt_scope"
    case None => table
  }

  /** Land a table-rewriting verb's result: whole-table overwrite when
    * unscoped; DYNAMIC partition overwrite (only the named partition's
    * files rewrite) when scoped, with an all-rows-gone partition
    * falling back to the native DROP PARTITION (dynamic overwrite of
    * an empty frame is a no-op).
    */
  private def landBlockFor(spark: SparkSession, table: String,
    partVal: Option[String], df: DataFrame): Unit = {
    val eager = df.localCheckpoint(true)
    partVal match {
      case Some(v) =>
        if (eager.isEmpty) {
          sql(spark, s"ALTER TABLE $table DROP PARTITION '$v'")
        } else {
          val key = "spark.sql.sources.partitionOverwriteMode"
          val prev = spark.conf.getOption(key).getOrElse("static")
          spark.conf.set(key, "dynamic")
          try writeBlock(spark, table, eager, "overwrite")
          finally spark.conf.set(key, prev)
        }
      case None => writeBlock(spark, table, eager, "overwrite")
    }
    // CH recalculates projections during merges; the batch analog
    // rebuilds them from the landed table
    rematerializeProjections(spark, table)
  }

  /** Apply the declared table TTL NOW (the TTL step of OPTIMIZE, alone
    * — no merge, no dedup), optionally scoped to one partition.
    */
  private def materializeTtl(spark: SparkSession, table: String,
    partVal: Option[String]): Unit = {
    val ttl = ttlExprs.get(norm(table))
    val rel = sourceRelationFor(spark, table, partVal)
    val kept = spark.sql(rewrite(
      s"SELECT * FROM $rel WHERE NOT coalesce(($ttl) <= now(), false)",
      t => spark.table(t).columns.toSeq))
    landBlockFor(spark, table, partVal, kept)
  }

  private def qcols(cs: Seq[String]): Seq[String] =
    cs.map(c => "`" + c.stripPrefix("`").stripSuffix("`") + "`")

  /** ClickHouse mutations, materialized the way OPTIMIZE is: evaluate
    * the surviving/updated rows, cut lineage with an eager local
    * checkpoint, overwrite the table in place.
    *
    *   - `ALTER TABLE t DELETE WHERE cond` (classic mutation) and the
    *     lightweight `DELETE FROM t WHERE cond`: rows where cond is
    *     TRUE go away; NULL-cond rows are kept (CH deletes only
    *     cond-true rows), hence the `NOT coalesce(cond, false)` guard.
    *   - `ALTER TABLE t UPDATE c1 = e1, c2 = e2 WHERE cond`: each
    *     assigned column becomes CASE WHEN cond THEN expr ELSE old END;
    *     unassigned columns pass through, so the projected schema keeps
    *     the table's column order and insertInto casts by position.
    *
    * On a cluster this is exactly what a CH mutation is underneath — a
    * full rewrite of the affected parts — expressed as one distributed
    * scan + overwrite instead of a background mutation queue. The
    * assignment/condition text goes through [[rewrite]], so CH dialect
    * functions are usable inside mutations.
    *
    * Partition lifecycle verbs (all single-partition-column, like DROP
    * PARTITION): `DETACH PARTITION v` (out of the active set, into the
    * `__detached` side table), `ATTACH PARTITION v` (back from
    * detached), `ATTACH PARTITION v FROM src` (copy from another
    * table), `REPLACE PARTITION v FROM src` (drop + copy), `MOVE
    * PARTITION v TO TABLE dst` (copy + drop), and `CLEAR COLUMN c IN
    * PARTITION v` (reset to the column default in one partition).
    * Detach/drop are metadata/file operations — no data rewrite;
    * attach/copy ride the dialect write path (declared-order
    * realignment, sorted parts) WITHOUT triggering materialized views,
    * because CH attaches are parts operations, not inserts.
    */
  private def alterMutation(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    def stripSemi(s: String): String = s.trim.stripSuffix(";").trim
    def run(table: String, body: String): DataFrame = {
      val df = spark.sql(rewrite(body, t => spark.table(t).columns.toSeq))
      writeBlock(spark, table, df.localCheckpoint(true), "overwrite")
      // CH recalculates projections when a mutation rewrites parts
      rematerializeProjections(spark, table)
      spark.table(table).limit(0)
    }
    if (toks.length >= 4 && toks.head.lower == "alter" &&
      toks(1).lower == "table" && isIdent(toks(2))) {
      val table = toks(2).text
      toks(3).lower match {
        case "delete" =>
          require(toks.length > 4 && toks(4).lower == "where",
            s"ALTER TABLE … DELETE requires WHERE: $sqlText")
          val cond = stripSemi(sqlText.substring(toks(4).end))
          require(cond.nonEmpty, s"empty DELETE condition: $sqlText")
          Some(run(table,
            s"SELECT * FROM $table WHERE NOT coalesce(($cond), false)"))
        case "update" =>
          val whereIdx = toks.indexWhere(t =>
            t.lower == "where" && t.depth == 0, 4)
          require(whereIdx > 4,
            s"ALTER TABLE … UPDATE requires WHERE: $sqlText")
          val cond = stripSemi(sqlText.substring(toks(whereIdx).end))
          require(cond.nonEmpty, s"empty UPDATE condition: $sqlText")
          val assignText = sqlText.substring(toks(3).end, toks(whereIdx).start)
          val assigns = splitAssignments(assignText).map { a =>
            val eq = a.indexOf('=')
            require(eq > 0, s"UPDATE assignment must be col = expr: $a")
            val col = a.substring(0, eq).trim
            require(col.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"UPDATE target must be a plain column name: $col")
            col.toLowerCase(java.util.Locale.ROOT) -> a.substring(eq + 1).trim
          }.toMap
          val cols = spark.table(table).columns
          val missing = assigns.keySet --
            cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          require(missing.isEmpty,
            s"UPDATE assigns to unknown column(s): ${missing.mkString(", ")}")
          val proj = cols.map { c =>
            assigns.get(c.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(expr) =>
                s"CASE WHEN coalesce(($cond), false) THEN ($expr) ELSE $c END AS $c"
              case None => c
            }
          }.mkString(", ")
          Some(run(table, s"SELECT $proj FROM $table"))
        case "add" | "drop" | "rename" | "modify"
          if toks.lift(4).exists(_.lower == "column") =>
          Some(alterColumn(spark, table, toks, sqlText))
        case "modify" if toks.lift(4).exists(_.lower == "ttl") =>
          // `ALTER TABLE t MODIFY TTL expr` — re-declare the table TTL;
          // takes effect at the next merge (OPTIMIZE), like CH
          require(spark.catalog.tableExists(table),
            s"MODIFY TTL: no table $table")
          ttlExprs.put(norm(table),
            cleanTtlText(stripSemi(sqlText.substring(toks(4).end)), sqlText))
          Some(spark.emptyDataFrame)
        case "remove" if toks.lift(4).exists(_.lower == "ttl") =>
          ttlExprs.remove(norm(table))
          Some(spark.emptyDataFrame)
        case "materialize" if toks.lift(4).exists(_.lower == "ttl") =>
          // `ALTER TABLE t MATERIALIZE TTL [IN PARTITION v]` — apply
          // the declared TTL NOW instead of waiting for the next merge
          // (CH runs this as a mutation, NOT a merge — versions stay
          // uncollapsed for plain reads). IN PARTITION scopes the
          // rewrite to one partition's files, like scoped OPTIMIZE.
          require(spark.catalog.tableExists(table),
            s"MATERIALIZE TTL: no table $table")
          require(ttlExprs.containsKey(norm(table)),
            s"MATERIALIZE TTL: $table declares no TTL")
          val partVal =
            if (toks.lift(5).exists(_.lower == "in") &&
              toks.lift(6).exists(_.lower == "partition")) {
              val tail = stripSemi(sqlText.substring(toks(6).end)).trim
              Some("'((?:[^']|'')*)'".r.findFirstMatchIn(tail)
                .map(_.group(1)).getOrElse(tail))
            } else None
          materializeTtl(spark, table, partVal)
          Some(spark.emptyDataFrame)
        case "drop" if toks.lift(4).exists(_.lower == "partition") =>
          // CH's retention verb. On a table created with PARTITION BY
          // this is Spark's native partition drop against the PHYSICAL
          // table (a metadata/file operation — no data rewrite); for an
          // expression partition the value is the expression's value
          // (`DROP PARTITION 202401` on toYYYYMM). A missing partition
          // is a no-op, as in CH. Only a failed native drop falls back
          // to the materialized delete — surfaced on stderr, never
          // swallowed silently (a half-done overwrite must not
          // masquerade as a metadata drop).
          val valueText = stripSemi(sqlText.substring(toks(4).end)).trim
          require(valueText.nonEmpty,
            s"ALTER TABLE … DROP PARTITION needs a value: $sqlText")
          import scala.jdk.CollectionConverters._
          val reg = partitionedTable(table)
          val phys = physicalFor(table)
          val pcols = reg.map(_.partCols).getOrElse(
            spark.catalog.listColumns(table).collectAsList()
              .asScala.filter(_.isPartition).map(_.name).toSeq)
          require(pcols.size <= 1,
            s"DROP PARTITION supports single-column partitioning; $table " +
              s"has (${pcols.mkString(", ")})")
          pcols.headOption match {
            case Some(pc) =>
              try spark.sql(
                s"ALTER TABLE $phys DROP PARTITION (${q1(pc)} = $valueText)")
              catch {
                // CH: dropping a missing partition is a no-op. Spark's
                // DROP PARTITION raises the PLURAL
                // NoSuchPartitionsException (InMemoryCatalog and Hive
                // alike); the singular variant exists for other partition
                // APIs — catch both so a routine already-absent drop
                // never falls through to the rewrite fallback below.
                case _: org.apache.spark.sql.catalyst.analysis
                  .NoSuchPartitionException =>
                case _: org.apache.spark.sql.catalyst.analysis
                  .NoSuchPartitionsException =>
                case e: org.apache.spark.sql.AnalysisException =>
                  System.err.println(
                    s"[graft] native DROP PARTITION on $phys failed " +
                      s"(${e.getClass.getSimpleName}: ${e.getMessage.linesIterator
                        .nextOption().getOrElse("")}); " +
                      "falling back to a full-table rewrite")
                  val keep = spark.table(table).columns.toSeq
                  run(table, s"SELECT ${qcols(keep).mkString(", ")} " +
                    s"FROM $phys WHERE NOT (${q1(pc)} <=> $valueText)")
              }
              // in CH projections are part-local, so a partition drop
              // removes their parts with it; this table-level store
              // must rebuild explicitly or a covered query would keep
              // answering from the dropped partition's partials
              rematerializeProjections(spark, table)
              Some(spark.table(table).limit(0))
            case None => throw new IllegalArgumentException(
              s"DROP PARTITION: $table has no partition column — " +
                "declare PARTITION BY <column> in CREATE TABLE, or use " +
                "ALTER TABLE … DELETE WHERE for row-level retention")
          }
        case "detach" if toks.lift(4).exists(_.lower == "partition") =>
          // CH takes the partition out of the active set — queries stop
          // seeing it, the data survives in detached storage for a later
          // ATTACH. Copy the partition to the `__detached` side table,
          // then route the active-set removal through the DROP PARTITION
          // handler (native metadata drop + its audited fallback).
          val valueText = stripSemi(sqlText.substring(toks(4).end)).trim
          require(valueText.nonEmpty,
            s"ALTER TABLE … DETACH PARTITION needs a value: $sqlText")
          detachPartition(spark, table, valueText)
          Some(spark.table(table).limit(0))
        case "attach" if toks.lift(4).exists(_.lower == "partition") =>
          // Two CH forms: `ATTACH PARTITION v` restores this table's
          // detached partition; `ATTACH PARTITION v FROM src` COPIES
          // the partition from another table (src keeps its data).
          val fromIdx = toks.indexWhere(t =>
            t.lower == "from" && t.depth == 0, 5)
          if (fromIdx > 0) {
            val valueText = stripSemi(
              sqlText.substring(toks(4).end, toks(fromIdx).start)).trim
            require(valueText.nonEmpty && toks.lift(fromIdx + 1).exists(isIdent),
              s"ATTACH PARTITION … FROM expects a value and a table: $sqlText")
            copyPartition(spark, toks(fromIdx + 1).text, table, valueText)
          } else {
            val valueText = stripSemi(sqlText.substring(toks(4).end)).trim
            require(valueText.nonEmpty,
              s"ALTER TABLE … ATTACH PARTITION needs a value: $sqlText")
            attachFromDetached(spark, table, valueText)
          }
          // ATTACH appends parts without the INSERT projection hook
          // (writeBlock, not playInsert) — rebuild the stores here
          rematerializeProjections(spark, table)
          Some(spark.table(table).limit(0))
        case "replace" if toks.lift(4).exists(_.lower == "partition") =>
          // `ALTER TABLE dst REPLACE PARTITION v FROM src` — dst's
          // partition is swapped for a copy of src's (src untouched):
          // drop, then copy, both through the audited paths.
          val fromIdx = toks.indexWhere(t =>
            t.lower == "from" && t.depth == 0, 5)
          require(fromIdx > 0 && toks.lift(fromIdx + 1).exists(isIdent),
            s"REPLACE PARTITION requires FROM <table>: $sqlText")
          val valueText = stripSemi(
            sqlText.substring(toks(4).end, toks(fromIdx).start)).trim
          require(valueText.nonEmpty,
            s"REPLACE PARTITION needs a value: $sqlText")
          sql(spark, s"ALTER TABLE $table DROP PARTITION $valueText")
          copyPartition(spark, toks(fromIdx + 1).text, table, valueText)
          // the copy lands via writeBlock (no projection hook) —
          // rebuild after the final table contents are in place
          rematerializeProjections(spark, table)
          Some(spark.table(table).limit(0))
        case "move" if toks.lift(4).exists(_.lower == "partition") =>
          // `ALTER TABLE src MOVE PARTITION v TO TABLE dst` — the data
          // changes tables: copy into dst, then drop from src.
          val toIdx = toks.indexWhere(t => t.lower == "to" && t.depth == 0, 5)
          require(toIdx > 0 && toks.lift(toIdx + 1).exists(_.lower == "table") &&
            toks.lift(toIdx + 2).exists(isIdent),
            s"MOVE PARTITION requires TO TABLE <dst>: $sqlText")
          val valueText = stripSemi(
            sqlText.substring(toks(4).end, toks(toIdx).start)).trim
          require(valueText.nonEmpty, s"MOVE PARTITION needs a value: $sqlText")
          val dst = toks(toIdx + 2).text
          copyPartition(spark, table, dst, valueText)
          // dst gained rows outside the INSERT projection hook; src's
          // own rebuild rides the DROP PARTITION handler below
          rematerializeProjections(spark, dst)
          sql(spark, s"ALTER TABLE $table DROP PARTITION $valueText")
          Some(spark.table(dst).limit(0))
        case "clear" if toks.lift(4).exists(_.lower == "column") =>
          // `ALTER TABLE t CLEAR COLUMN c IN PARTITION v` — reset the
          // column to its COLUMN default (NULL for declared-Nullable,
          // the type's zero otherwise — the INSERT-fill rule) inside one
          // partition; other partitions pass through untouched.
          require(toks.lift(5).exists(isIdent),
            s"CLEAR COLUMN needs a column name: $sqlText")
          val colName = toks(5).text
          require(toks.lift(6).exists(_.lower == "in") &&
            toks.lift(7).exists(_.lower == "partition"),
            s"CLEAR COLUMN requires IN PARTITION: $sqlText")
          val valueText = stripSemi(sqlText.substring(toks(7).end)).trim
          require(valueText.nonEmpty,
            s"CLEAR COLUMN … IN PARTITION needs a value: $sqlText")
          val schema = spark.table(table).schema
          val f = schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
            throw new IllegalArgumentException(
              s"CLEAR COLUMN: no column $colName on $table"))
          // expression-partitioned tables don't expose the generated
          // column through the declared view — recompute the expression
          val pcCond = partitionedTable(table).flatMap(_.genExpr)
            .map(g => s"($g) <=> ($valueText)")
            .getOrElse(s"${q1(partitionColumn(spark, table))} <=> ($valueText)")
          val dflt =
            if (isNullableCol(table, f.name)) "NULL"
            else zeroLiteral(f.dataType.sql)
          val proj = schema.map { c =>
            if (c.name.equalsIgnoreCase(colName))
              s"CASE WHEN $pcCond THEN CAST(($dflt) AS ${f.dataType.sql}) " +
                s"ELSE ${q1(c.name)} END AS ${q1(c.name)}"
            else q1(c.name)
          }.mkString(", ")
          Some(run(table, s"SELECT $proj FROM $table"))
        case other => throw new IllegalArgumentException(
          s"unsupported ALTER TABLE action: $other in $sqlText")
      }
    } else if (toks.length >= 3 && toks.head.lower == "delete" &&
      toks(1).lower == "from" && isIdent(toks(2))) {
      require(toks.length > 3 && toks(3).lower == "where",
        s"DELETE FROM requires WHERE: $sqlText")
      val table = toks(2).text
      val cond = stripSemi(sqlText.substring(toks(3).end))
      require(cond.nonEmpty, s"empty DELETE condition: $sqlText")
      Some(run(table,
        s"SELECT * FROM $table WHERE NOT coalesce(($cond), false)"))
    } else None
  }

  /** The single partition column of `table` — the physical one for
    * registered partitioned tables, the catalog's for plain Spark
    * partitioned tables. Partition lifecycle verbs (DETACH / ATTACH /
    * MOVE / REPLACE / CLEAR … IN PARTITION) share DROP PARTITION's
    * single-column restriction.
    */
  private def partitionColumn(spark: SparkSession, table: String): String = {
    import scala.jdk.CollectionConverters._
    val pcols = partitionedTable(table).map(_.partCols).getOrElse(
      spark.catalog.listColumns(table).collectAsList()
        .asScala.filter(_.isPartition).map(_.name).toSeq)
    require(pcols.size == 1,
      s"partition operations need single-column partitioning; $table " +
        s"has (${pcols.mkString(", ")})")
    pcols.head
  }

  /** The `<physical>__detached` side table backing DETACH/ATTACH
    * PARTITION — same schema as the physical table (partition column
    * included), created empty on first detach, dropped with the table.
    * Pure storage: never registered as a CH table.
    */
  private def detachedStore(spark: SparkSession, phys: String,
    pc: String): String = {
    val det = phys + "__detached"
    if (!spark.catalog.tableExists(det))
      spark.table(phys).limit(0).write.partitionBy(pc).saveAsTable(det)
    det
  }

  private def detachPartition(spark: SparkSession, table: String,
    valueText: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val phys = physicalFor(table)
    val pc = partitionColumn(spark, table)
    val det = detachedStore(spark, phys, pc)
    val detSchema = spark.table(det).schema
    spark.table(phys)
      .where(expr(s"${q1(pc)} <=> ($valueText)"))
      .select(detSchema.map(f =>
        col(q1(f.name)).cast(f.dataType).as(f.name)).toSeq: _*)
      .write.mode("append").insertInto(det)
    // active-set removal rides the DROP PARTITION handler: native
    // metadata drop, no-op when absent, audited rewrite fallback
    sql(spark, s"ALTER TABLE $table DROP PARTITION $valueText")
    ()
  }

  private def attachFromDetached(spark: SparkSession, table: String,
    valueText: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val phys = physicalFor(table)
    val pc = partitionColumn(spark, table)
    val det = phys + "__detached"
    // nothing ever detached → nothing to attach (CH: attaching a
    // partition with no detached parts attaches zero parts)
    if (!spark.catalog.tableExists(det)) return
    appendAligned(spark, table,
      spark.table(det).where(expr(s"${q1(pc)} <=> ($valueText)")))
    try spark.sql(s"ALTER TABLE $det DROP PARTITION (${q1(pc)} = $valueText)")
    catch {
      case _: org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException =>
      case _: org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionsException =>
    }
  }

  /** Copy `src`'s partition `valueText` into `dst` (src untouched) —
    * the shared half of ATTACH…FROM / REPLACE…FROM / MOVE…TO. CH
    * requires structurally identical tables; here the copy realigns by
    * NAME through the dialect write path, so a missing column fails
    * loudly at analysis.
    */
  private def copyPartition(spark: SparkSession, src: String, dst: String,
    valueText: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val srcPc = partitionColumn(spark, src)
    appendAligned(spark, dst, spark.table(physicalFor(src))
      .where(expr(s"${q1(srcPc)} <=> ($valueText)")))
  }

  /** Append `rows` (physical/declared columns present by name) into
    * `table` through the dialect write path: declared-order
    * realignment, generated-partition recompute, sorted parts. ATTACH
    * is a parts operation in ClickHouse, not an INSERT — materialized
    * views must NOT replay — hence [[writeBlock]], never playInsert.
    */
  private def appendAligned(spark: SparkSession, table: String,
    rows: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    partitionedTable(table) match {
      case Some(pt) =>
        writeBlock(spark, table,
          rows.select(pt.declared.map(c => col(q1(c))): _*), "append")
      case None =>
        val schema = spark.table(table).schema
        sortedForWrite(rows.select(schema.map(f =>
          col(q1(f.name)).cast(f.dataType).as(f.name)).toSeq: _*), table)
          .write.mode("append").insertInto(table)
    }
  }

  /** ClickHouse column DDL — `ADD COLUMN` / `DROP COLUMN` / `RENAME
    * COLUMN` / `MODIFY COLUMN` — materialized as a full table rewrite (projection →
    * eager checkpoint → saveAsTable overwrite), the same philosophy as
    * mutations: on a cluster these ARE part rewrites. The semantic
    * reason to materialize rather than metadata-ALTER: ClickHouse fills
    * existing rows of a new column with its DEFAULT — or the TYPE's zero
    * value (0, '', 1970-01-01, []) when none is declared — while Spark's
    * metadata-only ADD COLUMNS reads missing values as NULL. Rewriting
    * keeps CH read semantics exactly, and honors AFTER x / FIRST column
    * positioning, which Spark's parquet DDL cannot. DEFAULT expressions
    * go through [[rewrite]], so CH dialect functions work inside them.
    */
  private def alterColumn(spark: SparkSession, table: String,
    toks: Vector[Tok], sqlText: String): DataFrame = {
    import java.util.Locale.ROOT
    val cols = spark.table(table).columns.toVector
    val lc = cols.map(_.toLowerCase(ROOT))
    def noop: DataFrame = spark.table(table).limit(0)
    def materialize(projection: Seq[String]): DataFrame = {
      val df = spark.sql(rewrite(s"SELECT ${projection.mkString(", ")} FROM $table",
        t => spark.table(t).columns.toSeq))
      partitionedTable(table) match {
        case Some(pt) =>
          // schema-changing DDL on a partitioned table: both pieces
          // rebuild — the physical re-partitions on the (surviving)
          // partition columns, the view re-projects the new declared
          // order, and the registry updates. Dropping or renaming a
          // partition column (or, for expression partitioning, a column
          // the expression reads) fails loudly at analysis time.
          val newDeclared = df.columns.toSeq
          val missingPart = pt.genExpr match {
            case None => pt.partCols.filterNot(p =>
              newDeclared.exists(_.equalsIgnoreCase(p)))
            case Some(_) => Nil // gen expr analysis below surfaces it
          }
          require(missingPart.isEmpty,
            s"cannot drop/rename partition column(s) " +
              s"${missingPart.mkString(", ")} of $table")
          val block = df.localCheckpoint(true)
          val withGen = pt.genExpr match {
            case Some(g) => block.withColumn(GenPartCol,
              org.apache.spark.sql.functions.expr(g))
            case None => block
          }
          withGen.schema // force analysis BEFORE dropping anything
          spark.sql(s"DROP VIEW IF EXISTS $table")
          spark.sql(s"DROP TABLE IF EXISTS ${pt.physical}")
          withGen.write.partitionBy(pt.partCols: _*)
            .format("parquet").saveAsTable(pt.physical)
          spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT " +
            s"${newDeclared.map(q1).mkString(", ")} FROM ${pt.physical}")
          partTables.put(norm(table), pt.copy(declared = newDeclared))
        case None =>
          df.localCheckpoint(true).write.mode("overwrite")
            .format("parquet").saveAsTable(table)
      }
      noop
    }
    val action = toks(3).lower
    var i = 5 // after ADD|DROP|RENAME COLUMN
    val guarded = // IF [NOT] EXISTS
      if (toks.lift(i).exists(_.lower == "if")) {
        val not = toks.lift(i + 1).exists(_.lower == "not")
        i += (if (not) 3 else 2)
        true
      } else false
    require(toks.length > i && isIdent(toks(i)),
      s"expected a column name in: $sqlText")
    val name = toks(i).text
    val exists = lc.contains(name.toLowerCase(ROOT))
    action match {
      case "add" =>
        if (exists && guarded) return noop
        require(!exists, s"column $name already exists on $table")
        // type span: from after the name to the next depth-0
        // DEFAULT/AFTER/FIRST/; (type parens carry inner depth > 0)
        val stop = Set("default", "after", "first", ";")
        val boundIdx = toks.indexWhere(t => t.depth == 0 && stop(t.lower), i + 1)
        val typeEnd = if (boundIdx < 0) sqlText.length else toks(boundIdx).start
        val typeText = sqlText.substring(toks(i).end, typeEnd).trim
        require(typeText.nonEmpty, s"ADD COLUMN needs a type: $sqlText")
        val sparkType = mapChType(typeText)
        var defSql: Option[String] = None
        var pos: Option[String] = None // Some("") = FIRST, Some(col) = AFTER col
        if (boundIdx >= 0) toks(boundIdx).lower match {
          case "default" =>
            val next = toks.indexWhere(t => t.depth == 0 &&
              (t.lower == "after" || t.lower == "first" || t.text == ";"),
              boundIdx + 1)
            val end = if (next < 0) sqlText.length else toks(next).start
            defSql = Some(sqlText.substring(toks(boundIdx).end, end).trim)
            if (next >= 0 && toks(next).lower == "after")
              pos = Some(toks(next + 1).text)
            else if (next >= 0 && toks(next).lower == "first") pos = Some("")
          case "after" => pos = Some(toks(boundIdx + 1).text)
          case "first" => pos = Some("")
          case _ =>
        }
        val zero = zeroLiteral(sparkType)
        val newCol = s"CAST((${defSql.getOrElse(zero)}) AS $sparkType) AS $name"
        val ordered = pos match {
          case Some("") => newCol +: cols
          case Some(anchor) =>
            val at = lc.indexOf(anchor.toLowerCase(ROOT))
            require(at >= 0, s"AFTER column $anchor not found on $table")
            (cols.take(at + 1) :+ newCol) ++ cols.drop(at + 1)
          case None => cols :+ newCol
        }
        materialize(ordered)
      case "drop" =>
        if (!exists && guarded) return noop
        require(exists, s"column $name not found on $table")
        require(cols.length > 1, s"cannot drop the only column of $table")
        materialize(cols.filterNot(_.equalsIgnoreCase(name)))
      case "rename" =>
        if (!exists && guarded) return noop
        require(exists, s"column $name not found on $table")
        require(toks.lift(i + 1).exists(_.lower == "to") &&
          toks.lift(i + 2).exists(isIdent),
          s"RENAME COLUMN expects a TO b: $sqlText")
        val to = toks(i + 2).text
        require(!lc.contains(to.toLowerCase(ROOT)),
          s"column $to already exists on $table")
        materialize(cols.map(c =>
          if (c.equalsIgnoreCase(name)) s"$c AS $to" else c))
      case "modify" =>
        // `MODIFY COLUMN c NewType` — the type migration: existing values
        // CAST in place, position and name kept (CH rewrites the parts;
        // we rewrite the table). CH errors on an uncastable value where
        // Spark (ANSI off) nulls it — the migration guide calls this out.
        // `MODIFY COLUMN c DEFAULT …` without a type has no stored-default
        // analog here and fails loudly.
        if (!exists && guarded) return noop
        require(exists, s"column $name not found on $table")
        val stop = Set("default", ";")
        val boundIdx = toks.indexWhere(t => t.depth == 0 && stop(t.lower), i + 1)
        val typeEnd = if (boundIdx < 0) sqlText.length else toks(boundIdx).start
        val typeText = sqlText.substring(toks(i).end, typeEnd).trim
        require(typeText.nonEmpty,
          s"MODIFY COLUMN needs a target type (stored DEFAULTs have no " +
            s"analog on parquet tables): $sqlText")
        val sparkType = mapChType(typeText)
        materialize(cols.map(c =>
          if (c.equalsIgnoreCase(name)) s"CAST($c AS $sparkType) AS $c" else c))
    }
  }

  /** The SQL literal ClickHouse uses as a type's implicit default. */
  private def zeroLiteral(sparkType: String): String = {
    val t = sparkType.toUpperCase(java.util.Locale.ROOT)
    if (t.startsWith("ARRAY")) "array()"
    else if (t.startsWith("MAP")) "map()"
    else if (t.startsWith("STRING") || t.startsWith("VARCHAR") ||
      t.startsWith("CHAR")) "''"
    else if (t == "BOOLEAN") "false"
    else if (t == "DATE") "DATE '1970-01-01'"
    else if (t.startsWith("TIMESTAMP")) "TIMESTAMP '1970-01-01 00:00:00'"
    else "0"
  }

  /** The default a column of `table` takes when an INSERT omits it:
    * NULL for a column declared Nullable(T) in the CH DDL (ClickHouse's
    * Nullable default), the type's zero otherwise. All three fill sites
    * (INSERT column list, FORMAT column list, JSONEachRow absent field)
    * route through this so the rule cannot drift.
    */
  private def defaultFill(table: String,
    f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    val lit = if (isNullableCol(table, f.name)) "NULL"
              else zeroLiteral(f.dataType.sql)
    expr(s"CAST(($lit) AS ${f.dataType.sql})")
  }

  /** ClickHouse table-management verbs Spark spells differently:
    *
    *   - `RENAME TABLE a TO b[, c TO d …]` → sequential Spark
    *     `ALTER TABLE a RENAME TO b` statements (CH renames the list
    *     left to right, not atomically across pairs — same here);
    *   - `EXCHANGE TABLES a AND b` → the classic three-rename swap via
    *     a temp name. CH's EXCHANGE is atomic; three renames are not —
    *     callers that need atomicity on a live catalog should gate DDL
    *     externally, and the temp name is collision-checked loudly.
    *
    * Engine registrations (MergeTree metadata for FINAL) follow the
    * tables through both verbs.
    */
  /** Delete a STALE default-location warehouse directory for `name` —
    * one left on disk by a previous session whose in-memory catalog is
    * gone (the catalog is per-session; the warehouse dir is not).
    * Spark's managed-table RENAME validates the destination location
    * is empty, so a leftover `<warehouse>/t__dropped` from an earlier
    * run would fail every later delayed DROP of `t`. Only fires when
    * the catalog does NOT know the table — a live table's directory is
    * never touched.
    */
  private def clearStaleLocation(spark: SparkSession, name: String): Unit = {
    if (spark.catalog.tableExists(name)) return
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, norm(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Rename `from` to `to`, carrying the two-piece partitioned layout
    * and every registry entry (engine, sort key, Nullable set, TTL)
    * along. Shared by RENAME TABLE, EXCHANGE TABLES, and the delayed
    * DROP / UNDROP recycle path — all CH verbs that move a table are
    * metadata renames, never data copies.
    */
  private def renameTable(spark: SparkSession, from: String,
    to: String): Unit = {
    partitionedTable(from) match {
      case Some(pt) =>
        // two-piece layout: rename the physical, re-point the view
        val newPhys = to + "__parts"
        clearStaleLocation(spark, newPhys)
        spark.sql(s"ALTER TABLE ${pt.physical} RENAME TO $newPhys")
        // the detached-partition side table follows its owner
        if (spark.catalog.tableExists(pt.physical + "__detached")) {
          clearStaleLocation(spark, s"${newPhys}__detached")
          spark.sql(s"ALTER TABLE ${pt.physical}__detached RENAME TO " +
            s"${newPhys}__detached")
        }
        spark.sql(s"DROP VIEW IF EXISTS $from")
        spark.sql(s"CREATE OR REPLACE VIEW $to AS SELECT " +
          s"${pt.declared.map(q1).mkString(", ")} FROM $newPhys")
        partTables.remove(norm(from))
        partTables.put(norm(to), pt.copy(physical = newPhys))
      case None =>
        clearStaleLocation(spark, to)
        spark.sql(s"ALTER TABLE $from RENAME TO $to")
    }
    engineOf(from).foreach { e =>
      engines.remove(norm(from)); registerEngine(to, e)
    }
    Option(sortKeys.remove(norm(from)))
      .foreach(sk => sortKeys.put(norm(to), sk))
    Option(nullableCols.remove(norm(from)))
      .foreach(nc => nullableCols.put(norm(to), nc))
    Option(ttlExprs.remove(norm(from)))
      .foreach(tt => ttlExprs.put(norm(to), tt))
    // a renamed MATERIALIZED VIEW keeps its insert trigger (keyed by the
    // view's own name; the source reference inside is name-based and
    // survives a source's drop/undrop round trip unchanged)
    Option(mvDefs.remove(norm(from)))
      .foreach(d => mvDefs.put(norm(to), d.copy(view = norm(to))))
    // projections follow their owner (rename, delayed DROP, UNDROP)
    projRename(spark, from, to)
  }

  private def renameOrExchange(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    def rename(from: String, to: String): Unit =
      renameTable(spark, from, to)
    if (toks.length >= 3 && toks.head.lower == "rename" &&
      toks(1).lower == "table") {
      // pairs: ident TO ident [, ident TO ident]*
      var i = 2
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (i < toks.length && toks(i).text != ";") {
        require(i + 2 < toks.length && isIdent(toks(i)) &&
          toks(i + 1).lower == "to" && isIdent(toks(i + 2)),
          s"RENAME TABLE expects a TO b[, c TO d]: $sqlText")
        pairs += ((toks(i).text, toks(i + 2).text))
        i += 3
        if (i < toks.length && toks(i).text == ",") i += 1
      }
      pairs.foreach { case (a, b) => rename(a, b) }
      Some(spark.emptyDataFrame)
    } else if (toks.length >= 5 && toks.head.lower == "exchange" &&
      toks(1).lower == "tables" && isIdent(toks(2)) &&
      toks(3).lower == "and" && isIdent(toks(4))) {
      val (a, b) = (toks(2).text, toks(4).text)
      val tmp = s"graft_xchg_${norm(a)}_${norm(b)}_tmp"
      require(!spark.catalog.tableExists(tmp),
        s"EXCHANGE temp name $tmp already exists — drop it first")
      rename(a, tmp); rename(b, a); rename(tmp, b)
      Some(spark.emptyDataFrame)
    } else None
  }

  /** Split `c1 = e1, c2 = e2` on top-level commas (paren- and
    * string-aware via the shared lexer).
    */
  private def splitAssignments(text: String): Seq[String] = {
    val toks = lex(text)
    val cuts = toks.filter(t => t.text == "," && t.depth == 0).map(_.start)
    val bounds = (-1 +: cuts) :+ text.length
    bounds.sliding(2).map { case Seq(a, b) =>
      text.substring(a + 1, b).trim
    }.toSeq.filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------- scan

  /** One lexical token: word / backquoted identifier / punctuation, with
    * its source span and paren depth (both parens carry the OUTER depth,
    * so clause-boundary checks are a plain depth compare).
    */
  private final case class Tok(text: String, start: Int, end: Int, depth: Int) {
    def lower: String = text.toLowerCase(java.util.Locale.ROOT)
  }

  private def lex(sqlText: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = sqlText.length
    var i = 0
    var depth = 0
    while (i < n) {
      val c = sqlText.charAt(i)
      if (c == '\'' || c == '"') {
        // string literal / quoted identifier: opaque (handles '' and "")
        var j = i + 1
        var open = true
        while (j < n && open) {
          if (sqlText.charAt(j) == c) {
            if (j + 1 < n && sqlText.charAt(j + 1) == c) j += 2
            else open = false
          } else j += 1
        }
        i = j + 1
      } else if (c == '`') {
        var j = i + 1
        while (j < n && sqlText.charAt(j) != '`') j += 1
        val end = math.min(j + 1, n)
        out += Tok(sqlText.substring(i, end), i, end, depth)
        i = end
      } else if (c == '-' && i + 1 < n && sqlText.charAt(i + 1) == '-') {
        while (i < n && sqlText.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sqlText.charAt(i + 1) == '*') {
        val close = sqlText.indexOf("*/", i + 2)
        i = if (close < 0) n else close + 2
      } else if (c == '(') {
        out += Tok("(", i, i + 1, depth); depth += 1; i += 1
      } else if (c == ')') {
        depth -= 1; out += Tok(")", i, i + 1, depth); i += 1
      } else if (Character.isLetter(c) || c == '_') {
        var j = i + 1
        while (j < n && (Character.isLetterOrDigit(sqlText.charAt(j)) ||
          sqlText.charAt(j) == '_' || sqlText.charAt(j) == '.')) j += 1
        out += Tok(sqlText.substring(i, j), i, j, depth)
        i = j
      } else if (Character.isDigit(c)) {
        var j = i + 1
        while (j < n && (Character.isDigit(sqlText.charAt(j)) ||
          sqlText.charAt(j) == '.')) j += 1
        out += Tok(sqlText.substring(i, j), i, j, depth)
        i = j
      } else {
        if (!Character.isWhitespace(c)) out += Tok(c.toString, i, i + 1, depth)
        i += 1
      }
    }
    out.result()
  }

  /** Keywords that cannot be a table alias and clause starters that end
    * a predicate.
    */
  private val nonAlias = Set("final", "on", "using", "where", "prewhere",
    "group", "having", "order", "limit", "window", "union", "intersect",
    "except", "settings", "join", "inner", "left", "right", "full",
    "cross", "semi", "anti", "lateral", "as", "sample", "qualify",
    "distribute", "cluster", "sort", "from", "select", "by", "array",
    "tablesample", "values", "with", "global", "format")

  private val clauseStart = Set("where", "group", "having", "order",
    "limit", "window", "union", "intersect", "except", "settings",
    "qualify", "distribute", "cluster", "sort")

  private def isIdent(t: Tok): Boolean = {
    val c = t.text.charAt(0)
    (Character.isLetter(c) || c == '_' || c == '`') && !nonAlias(t.lower)
  }

  // ------------------------------------------------------------- rewrite

  /** Rewrite ClickHouse surface syntax to Spark SQL. `columnsOf` supplies
    * a table's column list (only consulted for FINAL tables with a
    * registered engine). Standard SQL passes through byte-identical.
    */
  def rewrite(sqlText: String, columnsOf: String => Seq[String]): String = {
    val l = sqlText.toLowerCase(java.util.Locale.ROOT)
    var out = sqlText
    if (l.contains("materialized") &&
      l.trim.replaceAll("\\s+", " ").startsWith("create materialized view"))
      return rewriteMaterializedView(out, columnsOf)
    if (l.contains("engine") &&
      l.trim.replaceAll("\\s+", " ").startsWith("create table"))
      return rewriteCreateTable(out, columnsOf)
    if (l.contains("with")) out = rewriteScalarWith(out)
    if (paramCallNames.exists(l.contains)) out = rewriteParamCall(out)
    if (l.contains("if")) out = rewriteIfCombinator(out)
    if (l.contains("distinct") || l.contains("ornull") ||
      l.contains("ordefault") || l.contains("array"))
      out = rewriteAggCombinators(out)
    if (l.contains("count")) out = rewriteBareCount(out)
    if (out.contains("MD5") || out.contains("SHA") ||
      out.contains("monthName") || l.contains("char(") ||
      l.contains("initcap"))
      out = rewriteHashNames(out)
    if (l.contains("datediff")) out = rewriteDateDiff(out)
    if (l.contains("extract")) out = rewriteExtract(out)
    if (l.contains("arrayfirst") || l.contains("arraylast"))
      out = rewriteArrayFirst(out)
    if (l.contains("mapexists") || l.contains("mapall") ||
      l.contains("mapapply")) out = rewriteMapHof(out)
    if (l.contains("transform")) out = rewriteChTransform(out)
    if (l.contains("?")) out = rewriteTernary(out)
    if (l.contains("final")) out = rewriteFinal(out, columnsOf)
    if (l.contains("arrayjoin") && l.contains("group"))
      out = rewriteArrayJoinGroupAlias(out)
    if (l.contains("array")) out = rewriteArrayJoin(out)
    if (l.contains("sample")) out = rewriteSample(out)
    if (l.contains("qualify")) out = rewriteQualify(out)
    if (l.contains("distinct")) out = rewriteDistinctOn(out)
    if (l.contains("limit")) {
      out = rewriteLimitBy(out)
      if (l.contains("ties")) out = rewriteLimitWithTies(out)
      out = rewriteLimitOffset(out)
    }
    if (l.contains("prewhere")) out = rewritePrewhere(out)
    if (l.contains("columns")) out = rewriteColumnsSelector(out, columnsOf)
    if (l.contains("apply")) out = rewriteStarApply(out, columnsOf)
    if (l.contains("except") || l.contains("replace"))
      out = rewriteStarModifiers(out, columnsOf)
    if (l.contains("asof")) out = rewriteAsofJoin(out, columnsOf)
    if (l.contains("fill")) out = rewriteWithFill(out)
    if (l.contains("numbers")) out = rewriteNumbers(out)
    if (l.contains("rollup") || l.contains("cube")) out = rewriteRollupCube(out)
    if (l.contains("collate")) out = rewriteCollate(out)
    if (l.contains("totals")) out = rewriteWithTotals(out)
    if (l.contains("any")) out = rewriteAnyJoin(out, columnsOf)
    if (l.contains("global")) { out = stripGlobalJoin(out); out = stripGlobalIn(out) }
    // any whitespace may precede/follow IN ("user_id\nIN allowed");
    // the token-level matcher inside does the real work — this gate
    // only has to be a superset of it
    if ("(?s)\\sin\\s".r.findFirstIn(l).isDefined)
      out = rewriteInTable(out)
    if (l.contains("settings")) out = stripSettings(out)
    if (l.contains("format")) out = stripFormat(out)
    out = rewritePartitionPrune(out) // no-op unless an expression-
    // partitioned table is referenced with its partition expression
    out
  }

  // ------------------------------------------------------------ DDL

  /** ClickHouse scalar type → Spark SQL type (lowercased keys). UInt64
    * lands on BIGINT — the pragmatic mapping every CH-to-columnar
    * migration picks; values above 2^63 would need DECIMAL(20,0).
    */
  private val chScalarTypes = Map(
    "string" -> "STRING", "fixedstring" -> "STRING", "uuid" -> "STRING",
    "json" -> "STRING", "ipv4" -> "STRING", "ipv6" -> "STRING",
    "int8" -> "TINYINT", "uint8" -> "SMALLINT",
    "int16" -> "SMALLINT", "uint16" -> "INT",
    "int32" -> "INT", "uint32" -> "BIGINT",
    "int64" -> "BIGINT", "uint64" -> "BIGINT",
    "float32" -> "FLOAT", "float64" -> "DOUBLE",
    "bool" -> "BOOLEAN", "boolean" -> "BOOLEAN",
    "date" -> "DATE", "date32" -> "DATE",
    "datetime" -> "TIMESTAMP", "datetime64" -> "TIMESTAMP")

  /** Map one ClickHouse type expression (possibly nested) to Spark SQL.
    * Unknown names pass through — they may already be Spark types.
    */
  def mapChType(s0: String): String = {
    val s = s0.trim
    val open = s.indexOf('(')
    if (open < 0) {
      chScalarTypes.getOrElse(s.toLowerCase(java.util.Locale.ROOT), s)
    } else {
      val name = s.substring(0, open).trim
      val lower = name.toLowerCase(java.util.Locale.ROOT)
      require(s.endsWith(")"), s"unbalanced type expression: $s0")
      val inner = s.substring(open + 1, s.length - 1)
      // split inner at top-level commas (quotes + parens aware)
      val parts = Vector.newBuilder[String]
      var depth = 0; var inQ = false; var last = 0
      var i = 0
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => parts += inner.substring(last, i); last = i + 1
          case _ =>
        }
        i += 1
      }
      parts += inner.substring(last)
      val args = parts.result().map(_.trim).filter(_.nonEmpty)
      lower match {
        case "nullable" | "lowcardinality" => mapChType(args.head)
        case "array" => s"ARRAY<${mapChType(args.head)}>"
        case "map" => s"MAP<${mapChType(args.head)}, ${mapChType(args(1))}>"
        case "decimal" => s"DECIMAL(${args.mkString(", ")})"
        case "decimal32" => s"DECIMAL(9, ${args.head})"
        case "decimal64" => s"DECIMAL(18, ${args.head})"
        case "datetime64" | "datetime" => "TIMESTAMP"
        case "fixedstring" => "STRING"
        case "enum8" | "enum16" | "enum" => "STRING"
        case "tuple" => throw new IllegalArgumentException(
          s"unsupported ClickHouse type $s0 — declare a STRUCT column explicitly")
        case "aggregatefunction" | "simpleaggregatefunction" =>
          // linear aggregate states store as the value type itself
          // (validated against the linear set at CREATE TABLE time)
          if (args.length >= 2) mapChType(args(1)) else "BIGINT"
        case _ => s // already a parameterized Spark type (VARCHAR(10), …)
      }
    }
  }

  /** `CREATE TABLE … (cols…) ENGINE = <XMergeTree>(…) [PARTITION BY …]
    * [PRIMARY KEY …] ORDER BY (…) [TTL …] [SETTINGS …]` → a Spark
    * `CREATE TABLE … (mapped cols) USING parquet`, with the engine +
    * sort key registered in [[registerEngine]] so later `SELECT … FROM t
    * FINAL` text gets the read-time merge semantics. Column types map
    * through [[mapChType]]; per-column CODEC/TTL/MATERIALIZED/ALIAS/
    * DEFAULT clauses are dropped (storage/ingest directives with no
    * Spark analog). SummingMergeTree with no argument sums every
    * numeric non-key column, like ClickHouse.
    */
  private def rewriteCreateTable(sqlText: String,
    columnsOf: String => Seq[String] = _ => Nil): String = {
    val toks = lex(sqlText)
    if (toks.length < 3 || toks.head.lower != "create" ||
      toks(1).lower != "table") return sqlText
    val engIdx = toks.indexWhere(t => t.depth == 0 && t.lower == "engine")
    if (engIdx < 0) return sqlText
    // table name: after TABLE, skipping IF NOT EXISTS
    var ni = 2
    if (toks(ni).lower == "if") ni += 3
    val table = toks(ni).text
    // column group — absent means the CTAS form (`CREATE TABLE t
    // ENGINE = … ORDER BY … AS SELECT …`)
    val openIdx = ni + 1
    if (toks.lift(openIdx).forall(_.text != "("))
      return rewriteCtas(sqlText, toks, table, ni, columnsOf)
    val closeIdx = toks.indexWhere(t => t.text == ")" && t.depth == 0, openIdx)
    val colsInner = sqlText.substring(toks(openIdx).end, toks(closeIdx).start)
    // split column defs at top-level commas of the group
    val defs = {
      val items = Vector.newBuilder[String]
      var depth = 0; var inQ = false; var last = 0
      var i = 0
      while (i < colsInner.length) {
        val c = colsInner.charAt(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => items += colsInner.substring(last, i); last = i + 1
          case _ =>
        }
        i += 1
      }
      items += colsInner.substring(last)
      items.result().map(_.trim).filter(_.nonEmpty)
    }
    // inline `PROJECTION p (SELECT …)` items (CH keeps projections
    // inside the column group; SHOW CREATE round-trips through here) —
    // registered on the table, stripped from the emitted Spark DDL
    val (projItems, colDefs0) = defs.partition(d =>
      lex(d).headOption.exists(_.lower == "projection"))
    projItems.foreach { item =>
      val its = lex(item)
      require(its.length >= 2 && isIdent(its(1)),
        s"bad PROJECTION item: $item")
      val pname = its(1).text
      val open = item.indexOf('(', its(1).end)
      val close = item.lastIndexOf(')')
      require(open > 0 && close > open,
        s"PROJECTION expects (SELECT …): $item")
      val innerSel = item.substring(open + 1, close).trim
      projDefs.put(projKey(table, pname),
        parseProjectionBody(table, pname, innerSel, item))
    }
    val colDirectives =
      Set("default", "materialized", "alias", "codec", "ttl", "comment")
    case class ColDef(name: String, sparkType: String, chType: String)
    val mapped = colDefs0.map { d =>
      val dToks = lex(d)
      require(dToks.nonEmpty && isIdent(dToks.head), s"bad column def: $d")
      val name = dToks.head.text
      // the type expression runs until the first top-level directive
      val stop = dToks.indexWhere(t =>
        t.depth == 0 && colDirectives(t.lower), 1)
      val typeEnd = if (stop < 0) d.length else dToks(stop).start
      val chType = d.substring(dToks.head.end, typeEnd).trim
      ColDef(name, mapChType(chType), chType)
    }
    // engine name + args
    val eqOff = if (toks.lift(engIdx + 1).exists(_.text == "=")) 1 else 0
    val engNameTok = toks(engIdx + 1 + eqOff)
    val engName = engNameTok.lower
    var engArgs = Seq.empty[String]
    var engEnd = engNameTok.end
    if (toks.lift(engIdx + 2 + eqOff).exists(t =>
      t.text == "(" && t.depth == 0)) {
      val ec = toks.indexWhere(t => t.text == ")" && t.depth == 0,
        engIdx + 2 + eqOff)
      engArgs = toks.slice(engIdx + 3 + eqOff, ec).filter(isIdent).map(_.text)
      engEnd = toks(ec).end
    }
    // ORDER BY sort key (identifiers only; expressions are rejected)
    val obIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "order", closeIdx)
    val sortKey: Seq[String] =
      if (obIdx < 0) Seq.empty
      else if (toks.lift(obIdx + 2).exists(_.text == "(")) {
        val oc = toks.indexWhere(t => t.text == ")" && t.depth == 0, obIdx + 2)
        val inner = toks.slice(obIdx + 3, oc)
        require(inner.forall(t => isIdent(t) || t.text == ","),
          "CREATE TABLE: ORDER BY expressions are not supported — use columns")
        inner.filter(isIdent).map(_.text)
      } else Seq(toks(obIdx + 2).text)
    val numericTypes = Set("TINYINT", "SMALLINT", "INT", "BIGINT",
      "FLOAT", "DOUBLE")
    def isKey(c: String) = sortKey.exists(_.equalsIgnoreCase(c))
    val summingDefault = () => mapped.filter(c => !isKey(c.name) &&
      numericTypes(c.sparkType.toUpperCase(java.util.Locale.ROOT)))
      .map(_.name)
    // AggregateFunction(f, T) columns: record the merge function each
    // state column needs at FINAL time — only the LINEAR aggregates
    // whose state is the value itself (partial counts merge by SUM)
    val stateFnMerge = Map("sum" -> "SUM", "count" -> "SUM",
      "min" -> "MIN", "max" -> "MAX",
      "any" -> "any_value", "anylast" -> "any_value")
    val aggregatingMerges = () => mapped.flatMap { c =>
      val m = "(?i)^(?:Simple)?AggregateFunction\\s*\\(\\s*(\\w+)".r
        .findFirstMatchIn(c.chType)
      m.map { g =>
        val fn = g.group(1).toLowerCase(java.util.Locale.ROOT)
        val merge = stateFnMerge.getOrElse(fn, throw new
            IllegalArgumentException(
          s"AggregateFunction($fn, …) state on ${c.name} is " +
            "engine-opaque — restate as linear columns (avg → " +
            "sum+count, the q61_agg_state model)"))
        c.name.toLowerCase(java.util.Locale.ROOT) -> merge
      }
    }.toMap
    registerEngineFromDdl(table, engName, engArgs, sortKey, summingDefault,
      aggregatingMerges)
    // record Nullable(T) declarations before mapChType erases them —
    // INSERT default fills consult this (NULL, not the type's zero)
    val nullables = mapped.filter(c =>
      "(?i)^Nullable\\s*\\(".r.findFirstIn(c.chType.trim).isDefined)
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
    if (nullables.nonEmpty) nullableCols.put(norm(table), nullables)
    else nullableCols.remove(norm(table))
    // table-level TTL (after the column group, so top-level by depth;
    // per-column TTLs inside the group are directives, dropped above)
    val ttlIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "ttl", closeIdx)
    if (ttlIdx >= 0) {
      val endIdx = toks.indexWhere(t => t.depth == 0 &&
        (t.lower == "settings" || t.text == ";"), ttlIdx + 1)
      val rawEnd = if (endIdx < 0) sqlText.length else toks(endIdx).start
      ttlExprs.put(norm(table),
        cleanTtlText(sqlText.substring(toks(ttlIdx).end, rawEnd), sqlText))
    } else ttlExprs.remove(norm(table))
    // PARTITION BY is NOT emitted here: Spark moves partition columns
    // to the END of a `PARTITIONED BY` table's schema, which would
    // silently re-bind positional INSERTs and reorder `SELECT *` away
    // from the ClickHouse-declared order. [[sql]] intercepts partitioned
    // CREATEs first ([[createPartitionedTable]]) and builds the
    // two-piece physical-table + declared-order-view layout instead;
    // this text-level rewrite (reachable via direct [[rewrite]] calls)
    // erases the clause, keeping the declared schema exact.
    val colsSql = mapped.map(c => s"${c.name} ${c.sparkType}").mkString(", ")
    sqlText.substring(0, toks(openIdx).start) +
      s"($colsSql) USING parquet"
  }

  /** ClickHouse CTAS: `CREATE TABLE t ENGINE = <X>MergeTree(…)
    * [PARTITION BY …] ORDER BY (…) [SETTINGS …] AS SELECT …` → a Spark
    * `CREATE TABLE t USING parquet AS <rewritten select>`, with the
    * engine + sort key registered exactly like the column-list form so
    * FINAL reads merge. The column types come from the SELECT, so
    * no-argument SummingMergeTree and AggregatingMergeTree (which need
    * declared types to infer measures/states) fail loudly with the
    * restatement. PARTITION BY on the CTAS form is handled by
    * [[createPartitionedTable]] when executed through [[sql]]; at this
    * text level it is erased (correct, just unpruned).
    */
  private def rewriteCtas(sqlText: String, toks: Vector[Tok],
    table: String, ni: Int, columnsOf: String => Seq[String]): String = {
    val asIdx = toks.zipWithIndex.indexWhere { case (t, i) =>
      i > ni && t.depth == 0 && t.lower == "as" &&
        toks.lift(i + 1).exists(x =>
          x.lower == "select" || x.lower == "with" || x.text == "(")
    }
    require(asIdx > 0,
      "CREATE TABLE … ENGINE: explicit column list or AS SELECT required")
    val engIdx = toks.indexWhere(t => t.depth == 0 && t.lower == "engine")
    require(engIdx > 0 && engIdx < asIdx,
      s"CREATE TABLE AS SELECT: ENGINE clause must precede AS: $sqlText")
    val eqOff = if (toks.lift(engIdx + 1).exists(_.text == "=")) 1 else 0
    val engNameTok = toks(engIdx + 1 + eqOff)
    var engArgs = Seq.empty[String]
    if (toks.lift(engIdx + 2 + eqOff).exists(t =>
      t.text == "(" && t.depth == 0)) {
      val ec = toks.indexWhere(t => t.text == ")" && t.depth == 0,
        engIdx + 2 + eqOff)
      engArgs = toks.slice(engIdx + 3 + eqOff, ec).filter(isIdent).map(_.text)
    }
    val obIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "order", engIdx)
    val sortKey: Seq[String] =
      if (obIdx < 0 || obIdx >= asIdx) Seq.empty
      else if (toks.lift(obIdx + 2).exists(_.text == "(")) {
        val oc = toks.indexWhere(t => t.text == ")" && t.depth == 0, obIdx + 2)
        toks.slice(obIdx + 3, oc).filter(isIdent).map(_.text)
      } else Seq(toks(obIdx + 2).text)
    val thrower: () => Seq[String] = () => throw new IllegalArgumentException(
      "CTAS declares no column types — use the explicit column-list " +
        "CREATE TABLE for measure/state inference")
    registerEngineFromDdl(table, engNameTok.lower, engArgs, sortKey,
      thrower)
    val selectText = sqlText.substring(toks(asIdx + 1).start)
      .trim.stripSuffix(";")
    val sel = rewrite(selectText, columnsOf)
    // sorted-write layout for CTAS too: SORT BY = within-partition sort,
    // so the created files hold sort-key-ordered runs like CH parts
    val sorted =
      if (sortKey.isEmpty) sel
      else s"SELECT * FROM ($sel) __ch_ctas SORT BY " +
        sortKey.map(q1).mkString(", ")
    sqlText.substring(0, toks(ni).end) + " USING parquet AS " + sorted
  }

  /** Shared DDL engine registration (CREATE TABLE and CREATE
    * MATERIALIZED VIEW). `summingDefault` supplies SummingMergeTree's
    * no-argument measure inference where a column list is available
    * (CREATE TABLE); contexts without declared types pass a thrower.
    */
  private def registerEngineFromDdl(table: String, engName: String,
    engArgs: Seq[String], sortKey: Seq[String],
    summingDefault: () => Seq[String],
    aggregatingMerges: () => Map[String, String] = () =>
      throw new IllegalArgumentException(
        "AggregatingMergeTree needs AggregateFunction(f, T) column " +
          "declarations — a materialized view has none; declare the " +
          "target table explicitly")): Unit = {
    if (sortKey.nonEmpty) sortKeys.put(norm(table), sortKey)
    engName match {
    case "aggregatingmergetree" =>
      require(sortKey.nonEmpty, "AggregatingMergeTree needs ORDER BY")
      registerEngine(table, Aggregating(sortKey, aggregatingMerges()))
    case "replacingmergetree" =>
      require(sortKey.nonEmpty, "ReplacingMergeTree needs ORDER BY")
      require(engArgs.nonEmpty,
        "ReplacingMergeTree: a version column is required " +
          "(batch reads have no insert order to fall back on)")
      registerEngine(table, Replacing(sortKey, engArgs))
    case "collapsingmergetree" =>
      require(sortKey.nonEmpty, "CollapsingMergeTree needs ORDER BY")
      require(engArgs.length >= 2,
        "CollapsingMergeTree: declare (sign, versionCols…) — batch " +
          "reads need an explicit version order for the surviving row")
      registerEngine(table, Collapsing(sortKey, engArgs.head, engArgs.tail))
    case "summingmergetree" =>
      require(sortKey.nonEmpty, "SummingMergeTree needs ORDER BY")
      val measures = if (engArgs.nonEmpty) engArgs else summingDefault()
      registerEngine(table, Summing(sortKey, measures))
    case "mergetree" => // plain: FINAL is the identity, no merge engine
      // (the sort key still registered above for sorted-write layout)
    case other => throw new IllegalArgumentException(
      s"unsupported table engine $other — supported: MergeTree, " +
        "ReplacingMergeTree(ver…), CollapsingMergeTree(sign, ver…), " +
        "SummingMergeTree([measures…]), AggregatingMergeTree")
    }
  }

  /** ClickHouse `CREATE MATERIALIZED VIEW mv ENGINE = <X>MergeTree(…)
    * ORDER BY (…) [POPULATE] AS SELECT …` — the batch analog: the
    * SELECT materializes as a parquet CTAS (CH only backfills existing
    * data with POPULATE, so without it the view is created EMPTY with
    * the query's schema), the engine + sort key register so FINAL
    * reads of the view merge, and the (view, source, select) triple
    * registers as an INSERT trigger: [[sql]]'s INSERT path replays each
    * inserted block through the SELECT ([[insertMvRefresh]]) — CH's
    * actual MV contract. The streaming analog (stream_materialized*)
    * covers continuous sources; re-running the CTAS (DROP + CREATE)
    * remains the full-rebuild path.
    */
  private def rewriteMaterializedView(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val toks = lex(sqlText)
    if (toks.length < 4 || toks.head.lower != "create" ||
      toks(1).lower != "materialized" || toks(2).lower != "view")
      return sqlText
    var ni = 3
    if (toks(ni).lower == "if") ni += 3
    val view = toks(ni).text
    // AS SELECT boundary
    val asIdx2 = toks.zipWithIndex.indexWhere { case (t, i) =>
      i > ni && t.depth == 0 && t.lower == "as" &&
        toks.lift(i + 1).exists(_.lower == "select")
    }
    require(asIdx2 > 0, "CREATE MATERIALIZED VIEW: missing AS SELECT")
    val populate = toks.slice(ni, asIdx2).exists(_.lower == "populate")
    // engine + sort key (between the name and AS)
    val engIdx = toks.indexWhere(t =>
      t.depth == 0 && t.lower == "engine", ni)
    if (engIdx > 0 && engIdx < asIdx2) {
      val eqOff = if (toks.lift(engIdx + 1).exists(_.text == "=")) 1 else 0
      val engNameTok = toks(engIdx + 1 + eqOff)
      var engArgs = Seq.empty[String]
      if (toks.lift(engIdx + 2 + eqOff).exists(t =>
        t.text == "(" && t.depth == 0)) {
        val ec = toks.indexWhere(t => t.text == ")" && t.depth == 0,
          engIdx + 2 + eqOff)
        engArgs = toks.slice(engIdx + 3 + eqOff, ec).filter(isIdent).map(_.text)
      }
      val obIdx = toks.indexWhere(t =>
        t.depth == 0 && t.lower == "order", ni)
      val sortKey: Seq[String] =
        if (obIdx < 0 || obIdx > asIdx2) Seq.empty
        else if (toks.lift(obIdx + 2).exists(_.text == "(")) {
          val oc = toks.indexWhere(t => t.text == ")" && t.depth == 0, obIdx + 2)
          toks.slice(obIdx + 3, oc).filter(isIdent).map(_.text)
        } else Seq(toks(obIdx + 2).text)
      registerEngineFromDdl(view, engNameTok.lower, engArgs, sortKey,
        () => throw new IllegalArgumentException(
          "SummingMergeTree materialized views must list their measure " +
            "columns explicitly — the view has no declared column types"))
    }
    val select = sqlText.substring(toks(asIdx2 + 1).start)
    // insert-trigger registration: CH MVs re-run their SELECT over each
    // block inserted into the LEFTMOST FROM table (joined right sides
    // never trigger) — record (view, source, select) so [[sql]]'s
    // INSERT path can replay it
    val st = lex(select)
    st.zipWithIndex.find { case (t, i) =>
      t.lower == "from" && st.lift(i + 1).exists(isIdent)
    }.foreach { case (_, i) =>
      registerMaterializedView(view, st(i + 1).text, select)
    }
    val body =
      if (populate) select
      else s"SELECT * FROM ($select) WHERE 1 = 0"
    rewrite(s"CREATE TABLE $view USING parquet AS $body", columnsOf)
  }

  /** CH TSV field unescape (the inverse of lib/clickhouse.sh's
    * jq-@tsv escaping that sbom_insert_escape replays): backslash
    * escapes tab/newline/return/backslash; a backslash before any
    * other character escapes that character. Fields are split on RAW
    * tabs first — escaped tabs are the two-character sequence \t and
    * never collide.
    */
  private def unescapeTsv(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** ClickHouse inline-data INSERT — `INSERT INTO [db.]t [(cols)]
    * FORMAT <fmt>` with the rows as raw text after the format name:
    * the EXACT statement the reference's entrypoint sends over the CH
    * HTTP interface (entrypoint.sh:408 — `INSERT INTO db.t (name,
    * version, license, source) FORMAT TSV` with a jq-@tsv body).
    * Formats: TSV/TabSeparated (CH backslash escapes, `\N` = NULL),
    * CSV, JSONEachRow (fields matched by NAME; missing fields take CH
    * type defaults — 0 / '' / epoch — not NULL; unknown fields are a
    * loud error), Values (the standard payload). The parsed block
    * takes [[playInsert]], so materialized-view triggers fire exactly
    * as for a SQL INSERT.
    */
  private def insertFormat(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.{StringType, StructField}
    import org.apache.spark.sql.functions.{col, expr}
    val toks = lex(sqlText)
    if (toks.length < 4 || toks.head.lower != "insert" ||
      toks(1).lower != "into") return None
    var i = 2
    if (toks(i).lower == "table") i += 1
    if (!isIdent(toks(i))) return None
    val table = toks(i).text
    i += 1
    var listed = Seq.empty[String]
    if (toks.lift(i).exists(_.text == "(")) {
      val close = toks.indexWhere(t => t.text == ")" &&
        t.depth == toks(i).depth, i)
      listed = toks.slice(i + 1, close).filter(isIdent).map(_.text)
      i = close + 1
    }
    // the format name is word-like but may be a SQL keyword (Values),
    // so check the shape directly rather than through isIdent
    if (!toks.lift(i).exists(t => t.depth == 0 && t.lower == "format") ||
      !toks.lift(i + 1).exists(t => Character.isLetter(t.text.charAt(0))))
      return None
    val fmt = toks(i + 1).lower
    // CH strips exactly one newline after the format name; be tolerant
    // of surrounding whitespace
    val body = sqlText.substring(toks(i + 1).end)
      .dropWhile(c => c == ' ' || c == '\t').stripPrefix("\r\n")
      .stripPrefix("\n")
    val schema = spark.table(table).schema
    val target: Seq[StructField] =
      if (listed.isEmpty) schema.fields.toSeq
      else listed.map(n => schema.fields.find(_.name.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(
          s"INSERT column $n not found on $table")))
    def lines: Seq[String] =
      body.split("\n").toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)
    def fromCells(cells: Seq[Array[String]]): DataFrame = {
      val strDf = spark.createDataFrame(
        java.util.Arrays.asList(cells.map(a =>
          org.apache.spark.sql.Row(a.toIndexedSeq: _*)): _*),
        org.apache.spark.sql.types.StructType(
          target.map(f => StructField(f.name, StringType, nullable = true))))
      strDf.select(target.map(f =>
        col(q1(f.name)).cast(f.dataType).as(f.name)): _*)
    }
    val block: DataFrame = fmt match {
      case "tsv" | "tabseparated" =>
        fromCells(lines.map { ln =>
          val fs = ln.split("\t", -1)
          require(fs.length == target.length,
            s"FORMAT TSV row has ${fs.length} fields, " +
              s"expected ${target.length}: $ln")
          fs.map(f => if (f == "\\N") null else unescapeTsv(f))
        })
      case "csv" =>
        import spark.implicits._
        spark.read
          .schema(org.apache.spark.sql.types.StructType(target.toArray))
          .csv(spark.createDataset(lines))
      case "jsoneachrow" =>
        import spark.implicits._
        val parsed = spark.read.json(spark.createDataset(lines))
        val known = target.map(_.name.toLowerCase(java.util.Locale.ROOT))
        val unknown = parsed.columns.filterNot(c =>
          known.contains(c.toLowerCase(java.util.Locale.ROOT)))
        require(unknown.isEmpty,
          s"JSONEachRow fields ${unknown.mkString(", ")} not on $table")
        parsed.select(target.map { f =>
          val dflt = defaultFill(table, f)
          parsed.columns.find(_.equalsIgnoreCase(f.name)) match {
            // absent PER ROW (and explicit null) → CH column default
            // (NULL for declared-Nullable columns, the type's zero
            // otherwise); absence is per-row in JSONEachRow, so
            // coalesce, not a column-presence check alone
            case Some(c) => org.apache.spark.sql.functions
              .coalesce(col(q1(c)).cast(f.dataType), dflt).as(f.name)
            case None => dflt.as(f.name)
          }
        }: _*)
      case "values" =>
        spark.sql(rewrite(s"SELECT * FROM VALUES $body",
          t => spark.table(t).columns.toSeq)).toDF(target.map(_.name): _*)
      case other => throw new IllegalArgumentException(
        s"INSERT … FORMAT $other is not supported " +
          "(TSV/TabSeparated, CSV, JSONEachRow, Values)")
    }
    val full =
      if (listed.isEmpty) block.toDF(schema.fieldNames.toSeq: _*)
      else block.select(schema.map { f =>
        if (listed.exists(_.equalsIgnoreCase(f.name))) col(q1(f.name))
        // columns omitted from the INSERT list get the COLUMN default,
        // like ClickHouse: NULL for declared-Nullable columns, the
        // type's zero (0/''/epoch) otherwise — same rule as the per-row
        // JSONEachRow fill above
        else defaultFill(table, f).as(f.name)
      }.toSeq: _*)
    playInsert(spark, table, full.localCheckpoint(true), depth = 0)
    Some(spark.table(table).limit(0))
  }

  private def q1(c: String): String =
    "`" + c.stripPrefix("`").stripSuffix("`") + "`"

  /** CH's materialized-view insert trigger, batch analog: an INSERT
    * INTO a table with registered MVs evaluates its payload ONCE (eager
    * checkpoint — the table and every view must see identical rows),
    * appends it to the target, then plays the block through each MV's
    * SELECT with the source relation rebound to the block and appends
    * the result to the view's storage — aggregating engines thus
    * accumulate partial states exactly like CH, merged at FINAL read.
    * Cascades: a view reading a view re-triggers (depth-capped).
    * Inserts into tables with no registered MV return None and take the
    * untouched generic path.
    */
  private def insertMvRefresh(spark: SparkSession,
    sqlText: String): Option[DataFrame] = {
    val toks = lex(sqlText)
    if (toks.length < 4 || toks.head.lower != "insert" ||
      toks(1).lower != "into") return None
    var i = 2
    if (toks(i).lower == "table") i += 1
    if (!isIdent(toks(i))) return None
    val table = toks(i).text
    // claimed for MV-triggering tables, partitioned tables (their
    // declared name is a view, so the generic spark.sql INSERT path
    // cannot take them, and positional VALUES must bind to the DECLARED
    // order), ORDER BY tables (the write path sorts each block by
    // the declared sort key — CH sorted parts), and tables with live
    // projections (the block must contribute its partial part)
    if (materializedViewsOn(table).isEmpty &&
      partitionedTable(table).isEmpty &&
      sortKeyOf(table).isEmpty &&
      !projectionsOn(table).exists(_.materialized)) return None
    i += 1
    var listed = Seq.empty[String]
    if (toks.lift(i).exists(_.text == "(")) {
      val close = toks.indexWhere(t => t.text == ")" &&
        t.depth == toks(i).depth, i)
      listed = toks.slice(i + 1, close).filter(isIdent).map(_.text)
      i = close + 1
    }
    require(toks.lift(i).isDefined, s"INSERT INTO $table: missing payload")
    val payload = sqlText.substring(toks(i).start).trim.stripSuffix(";")
    val blockSql =
      if (toks(i).lower == "values") s"SELECT * FROM $payload" else payload
    val raw = spark.sql(rewrite(blockSql, t => spark.table(t).columns.toSeq))
    val schema = spark.table(table).schema
    import org.apache.spark.sql.functions.{col, lit}
    val aligned =
      if (listed.isEmpty) {
        require(raw.columns.length == schema.length,
          s"INSERT INTO $table: ${raw.columns.length} values for " +
            s"${schema.length} columns")
        // bind positionally to the DECLARED order, coercing literal
        // types to the stored types (CH INSERT casts '2024-01-01' into
        // a Date column)
        raw.toDF(schema.map(_.name).toSeq: _*)
          .select(schema.map(f =>
            col(q1(f.name)).cast(f.dataType).as(f.name)).toSeq: _*)
      } else {
        val named = raw.toDF(listed: _*)
        named.select(schema.map { f =>
          listed.find(_.equalsIgnoreCase(f.name)) match {
            case Some(n) => col(n).cast(f.dataType).as(f.name)
            // unlisted → CH column default (NULL for Nullable columns),
            // matching insertFormat's rule
            case None => defaultFill(table, f).as(f.name)
          }
        }.toSeq: _*)
      }
    playInsert(spark, table, aligned.localCheckpoint(true), depth = 0)
    Some(spark.table(table).limit(0))
  }

  /** Append `block` to `table` and cascade it through every MV sourced
    * on the table (block rows → MV SELECT → view storage, recursively —
    * CH chains MVs the same way). `block` must be materialized (eager
    * checkpoint) before the call.
    */
  private def playInsert(spark: SparkSession, table: String,
    block: DataFrame, depth: Int): Unit = {
    require(depth < 8, s"materialized-view cascade too deep at $table " +
      "(cycle between views?)")
    writeBlock(spark, table, block, "append")
    // projection maintenance: the inserted block contributes its own
    // partial-aggregate (or sorted) part to every live projection
    if (projectionsOn(table).exists(_.materialized)) {
      val declared = partitionedTable(table).map(_.declared)
        .getOrElse(spark.table(table).columns.toSeq)
      projOnInsert(spark, table, block.toDF(declared: _*))
    }
    materializedViewsOn(table).foreach { mv =>
      if (!spark.catalog.tableExists(mv.view)) dropMaterializedView(mv.view)
      else {
        val tmp = s"__mv_block_${mv.view}"
        block.createOrReplaceTempView(tmp)
        val bound = rebindRelation(mv.select, mv.source, tmp)
        val out = spark
          .sql(rewrite(bound, t => spark.table(t).columns.toSeq))
          .localCheckpoint(true)
        playInsert(spark, mv.view, out, depth + 1)
      }
    }
  }

  /** Token-level relation rebind: the FIRST identifier naming `src` in
    * relation position (directly after FROM or JOIN) becomes `to`;
    * later occurrences, column references, and strings are untouched.
    * Only the leftmost is rebound because that is ClickHouse's MV
    * trigger contract: the inserted block substitutes for the leftmost
    * table only — a SELECT that self-joins the source (`FROM src JOIN
    * src`) reads the FULL stored table on the right side.
    */
  private def rebindRelation(select: String, src: String, to: String): String = {
    val ts = lex(select)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      isIdent(t) && norm(t.text) == norm(src) &&
        ts.lift(i - 1).exists(p => p.lower == "from" || p.lower == "join")
    }
    hit match {
      case Some((t, _)) =>
        select.substring(0, t.start) + to + select.substring(t.end)
      case None => select
    }
  }

  /** Names the dialect registers with params-first flattened signatures
    * (lowercased; see ClickHouseDialect: quantile family, topK family,
    * uniqUpTo).
    */
  private val paramCallNames = Set("quantile", "quantileexact",
    "quantiletdigest", "quantiles", "quantilesexact", "topk",
    "topkweighted", "uniqupto",
    // -If variants flatten the same way, then rewriteIfCombinator
    // peels the condition into a FILTER clause
    "quantileif", "quantileexactif", "quantiletdigestif", "quantilesif",
    "quantilesexactif", "topkif", "topkweightedif",
    // event-sequence family: windowFunnel(w)(ts, c1, …)
    "windowfunnel", "sequencematch", "sequencecount",
    "grouparraysorted", "grouparraysortedif",
    // seventh batch
    "histogram", "quantiledeterministic",
    // eighth batch: the sketch-variant quantile spellings land on the
    // same approx family (documented divergence: estimates within
    // sketch error)
    "quantiletiming", "quantilebfloat16",
    "quantiletimingif", "quantilebfloat16if",
    // flattens so the registered thrower can teach its rewrite
    "grouparraylast",
    // ninth batch: exact weighted/low/high quantiles + the LTTB
    // thrower (flattened so it can teach the q97 recipe)
    "quantileexactweighted", "quantileexactlow", "quantileexacthigh",
    "quantileexactweightedif", "largesttrianglethreebuckets",
    // tenth batch: groupArray(N)(x) head-slice, the GK sketch, and the
    // EMA thrower (flattened so it can teach the q114 recipe)
    "grouparray", "quantilegk", "exponentialmovingaverage",
    // fifteenth batch: flattened so the registered throwers can teach
    // their recipes instead of dying in the parser
    "meanztest", "quantileinterpolatedweighted", "grouparraysample",
    "sequencenextnode",
    // r14: the plural/median sketch spellings mapped onto the GK family
    "quantilestdigest", "quantilestiming", "quantilesbfloat16",
    "quantilestdigestif", "quantilestimingif", "quantilesbfloat16if")

  /** ClickHouse parameterized-aggregate call syntax `f(p, …)(args…)` →
    * the dialect's flattened params-first form `f(p, …, args…)` —
    * `quantile(0.9)(x)` becomes `quantile(0.9, x)`. Only names in
    * [[paramCallNames]] are touched; `f(p)` with no second group (and
    * all standard SQL) passes through byte-identical.
    */
  private def rewriteParamCall(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      if (paramCallNames(t.lower) && toks(i + 1).text == "(") {
        val d = toks(i + 1).depth
        var j = i + 2
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) j += 1
        if (j + 1 < toks.length && toks(j + 1).text == "(" &&
          toks(j + 1).depth == d)
          splices += ((toks(j).start, toks(j + 1).end, ", "))
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** Aggregate bases eligible for the GENERIC ClickHouse `-If`
    * combinator (lowercased). ClickHouse allows `<agg>If(args…, cond)`
    * for every aggregate; the handful of hot names (countIf/sumIf/…)
    * are native dialect registrations, and everything else rewrites to
    * ANSI `agg(args…) FILTER (WHERE cond)` — same partial-aggregable
    * plan, no extra CASE projection.
    */
  private val ifCombinatorBases = Set("sum", "avg", "min", "max", "count",
    "any", "stddevpop", "stddevsamp", "varpop", "varsamp", "corr",
    "covarpop", "covarsamp", "uniq", "uniqexact", "uniqhll12",
    "uniqcombined", "argmax", "argmin", "grouparray", "groupuniqarray",
    "quantile", "quantileexact", "quantiletdigest", "quantiles",
    "quantilesexact", "topk", "topkweighted", "median", "medianexact",
    "mediantdigest", "mediantiming", "medianbfloat16",
    "quantilestdigest", "quantilestiming", "quantilesbfloat16",
    "groupbitand", "groupbitor", "groupbitxor", "summap")

  /** `<agg>If(args…, cond)` → `agg(args…) FILTER (WHERE cond)` for any
    * aggregate base in [[ifCombinatorBases]] whose -If name is NOT a
    * native dialect registration (those stay as-is). The last top-level
    * comma splits args from the condition; nested calls rewrite too
    * (their splice spans are disjoint). Runs after [[rewriteParamCall]],
    * so `quantileExactIf(0.5)(x, cond)` arrives here already flattened.
    */
  private def rewriteIfCombinator(sqlText: String): String = {
    val registered =
      ClickHouseDialect.names.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val toks = lex(sqlText)
    // (start, end, replacement)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      val lower = t.lower
      // stacked `<agg>IfOrNull`: CH applies suffixes left-to-right, so
      // this is (aggIf)OrNull — Spark's FILTER already yields NULL over
      // zero matching rows for every base except the count-like ones,
      // which return 0 and need an explicit nullif wrap
      val isIfOrNull = lower.length > 8 && lower.endsWith("ifornull") &&
        ifCombinatorBases(lower.dropRight(8))
      val isPlainIf = lower.length > 2 && lower.endsWith("if") &&
        ifCombinatorBases(lower.dropRight(2))
      if ((isIfOrNull || isPlainIf) && !registered(lower) &&
        toks(i + 1).text == "(") {
        val base = if (isIfOrNull) lower.dropRight(8) else lower.dropRight(2)
        val baseText =
          if (isIfOrNull) t.text.dropRight(6) else t.text // "<Base>If" form
        val countLike = Set("count", "uniq", "uniqexact", "uniqhll12",
          "uniqcombined")
        val d = toks(i + 1).depth
        var j = i + 2
        var lastComma = -1
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) {
          // parens carry the OUTER depth; the group's own commas sit one
          // level deeper
          if (toks(j).text == "," && toks(j).depth == d + 1) lastComma = j
          j += 1
        }
        if (j < toks.length && lastComma < 0 && base == "count") {
          // CH countIf takes the CONDITION alone — no args/cond comma
          val nullifOpen = if (isIfOrNull) "nullif(" else ""
          splices += ((t.start, toks(i + 1).end,
            nullifOpen + "count(*) FILTER (WHERE "))
          if (nullifOpen.nonEmpty)
            splices += ((toks(j).end, toks(j).end, ", 0)"))
        } else if (j < toks.length && lastComma >= 0) {
          val nullifOpen =
            if (isIfOrNull && countLike(base)) "nullif(" else ""
          // uniqExact registers as a pre-wrapped distinct-count
          // AggregateExpression, which the FILTER clause can't wrap —
          // spell it as ANSI count(DISTINCT …) instead
          if (base == "uniqexact") {
            splices += ((t.start, t.end, nullifOpen + "count"))
            splices += ((toks(i + 1).end, toks(i + 1).end, "DISTINCT "))
          } else if (base == "any") {
            // the bare base would resolve to Spark's builtin `any`
            // (boolean aggregate) — a silent-wrong-answer trap; CH anyIf
            // means any_value FILTER
            splices += ((t.start, t.end, nullifOpen + "any_value"))
          } else {
            splices += ((t.start, t.end,
              nullifOpen + baseText.dropRight(2)))
          }
          splices += ((toks(lastComma).start, toks(lastComma).end,
            ") FILTER (WHERE "))
          if (nullifOpen.nonEmpty)
            splices += ((toks(j).end, toks(j).end, ", 0)"))
        }
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  private val distinctCombBases = Set("sum", "avg", "count", "min", "max")
  private val arrayCombBases = Set("sum", "avg", "count", "min", "max",
    "grouparray", "uniq", "uniqexact")

  /** The remaining ClickHouse aggregate combinators with faithful ANSI
    * lowerings (beyond the generic `-If` above):
    *
    *   - `<agg>Distinct(x)` → `agg(DISTINCT x)` — including
    *     countDistinct/sumDistinct, where the rewrite is the identity
    *     Spark already accepts;
    *   - `<agg>OrNull(x)` → the suffix DROPS for every base except
    *     count: Spark aggregates already return NULL over zero
    *     aggregated rows, which is exactly -OrNull's contract (CH needs
    *     the combinator because ITS empty sum is 0); `countOrNull(x)` →
    *     `nullif(count(x), 0)`;
    *   - `<agg>Array(arr)` → per-row fold + combine, each
    *     type-faithful where the fold is (min/max via
    *     array_min/array_max, count via size) and an explicit DOUBLE
    *     fold for sum/avg (a migration from CH's widened integer sums
    *     loses exactness past 2^53 — the loud alternative is exploding
    *     the array, which changes the query shape); `groupArrayArray`
    *     (a.k.a. array concat across rows) → `flatten(collect_list(…))`.
    */
  private def rewriteAggCombinators(sqlText: String): String = {
    val registered =
      ClickHouseDialect.names.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      val lower = t.lower
      val isCall = toks(i + 1).text == "(" && !registered(lower)
      def closeIdx: Int = {
        val d = toks(i + 1).depth
        var j = i + 2
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d))
          j += 1
        j
      }
      if (isCall && lower.length > 8 && lower.endsWith("distinct") &&
        distinctCombBases(lower.dropRight(8))) {
        splices += ((t.start, t.end, t.text.dropRight(8)))
        splices += ((toks(i + 1).end, toks(i + 1).end, "DISTINCT "))
      } else if (isCall && lower.length > 6 && lower.endsWith("ornull") &&
        ifCombinatorBases(lower.dropRight(6))) {
        val j = closeIdx
        if (j < toks.length) {
          if (lower.dropRight(6) == "count") {
            splices += ((t.start, t.end, "nullif(count"))
            splices += ((toks(j).end, toks(j).end, ", 0)"))
          } else splices += ((t.start, t.end, t.text.dropRight(6)))
        }
      } else if (isCall && lower.length > 5 && lower.endsWith("array") &&
        arrayCombBases(lower.dropRight(5))) {
        val j = closeIdx
        if (j < toks.length) {
          val open = toks(i + 1)
          val close = toks(j)
          val arg = sqlText.substring(open.end, close.start).trim
          lower.dropRight(5) match {
            case "count" =>
              splices += ((t.start, open.end, "sum(coalesce(size("))
              splices += ((close.start, close.end, "), 0))"))
            case "min" =>
              splices += ((t.start, open.end, "min(array_min("))
              splices += ((close.start, close.end, "))"))
            case "max" =>
              splices += ((t.start, open.end, "max(array_max("))
              splices += ((close.start, close.end, "))"))
            case "sum" =>
              splices += ((t.start, open.end, "sum(aggregate("))
              splices += ((close.start, close.end,
                ", 0D, (__ca_a, __ca_x) -> __ca_a + __ca_x))"))
            case "avg" =>
              // try_divide: zero elements → NULL (CH emits nan there;
              // NULL is the engine-idiomatic empty-average)
              splices += ((t.start, close.end,
                s"try_divide(sum(aggregate($arg, 0D, (__ca_a, __ca_x) -> " +
                  s"__ca_a + __ca_x)), sum(coalesce(size($arg), 0)))"))
            case "grouparray" =>
              splices += ((t.start, open.end, "flatten(collect_list("))
              splices += ((close.start, close.end, "))"))
            case "uniq" | "uniqexact" =>
              // distinct elements across every row's array — exact
              // (uniqArray's HLL estimate reads the same small-set
              // values); the collect buffer is bounded by TOTAL element
              // count per group, the same contract as groupArrayArray
              splices += ((t.start, open.end,
                "size(array_distinct(flatten(collect_list("))
              splices += ((close.start, close.end, "))))"))
            case _ =>
          }
        }
      } else if (isCall && lower.length > 9 && lower.endsWith("ordefault") &&
        ifCombinatorBases(lower.dropRight(9))) {
        // `<agg>OrDefault(x)` — CH returns the RESULT TYPE's default
        // over an empty set; for the numeric bases here that default is
        // 0 (string/array bases are not taken — they'd need a typed
        // default and none of CH's common uses touch them)
        val j = closeIdx
        if (j < toks.length) {
          splices += ((t.start, t.end,
            "coalesce(" + t.text.dropRight(9)))
          splices += ((toks(j).end, toks(j).end, ", 0)"))
        }
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** Expression boundaries for the ternary rewrite: a token at the
    * ternary's own depth from this set (or ANY token at lower depth)
    * delimits the condition / else-branch. AND/OR are deliberately NOT
    * here — ClickHouse's `?:` binds lower than both, so `a AND b ? x : y`
    * conditions on `a AND b`.
    */
  private val exprStop = Set(",", "select", "when", "then", "else", "end",
    "where", "having", "by", "as", "on", "case", "distinct", "all",
    "limit", "offset", "prewhere", "union", "intersect", "except",
    "from", "group", "order", "settings", "format", "window")

  /** ClickHouse ternary `cond ? a : b` → `CASE WHEN cond THEN a ELSE b
    * END`. Each ?:-pair is rewritten independently against the original
    * token stream; a right-nested ternary in the else branch works out
    * because the outer `:` delimits the inner condition and both END
    * insertions land on the same boundary. `::` casts are skipped
    * (adjacent colon pair).
    */
  private def rewriteTernary(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    // a `::` cast colon is part of the expression, never a boundary
    def castColon(k: Int): Boolean = toks(k).text == ":" &&
      ((k + 1 < toks.length && toks(k + 1).text == ":" &&
        toks(k + 1).start == toks(k).end) ||
        (k > 0 && toks(k - 1).text == ":" &&
          toks(k - 1).end == toks(k).start))
    def isStop(k: Int, d: Int): Boolean = {
      val t = toks(k)
      t.depth < d || (t.depth == d && exprStop(t.lower) && !castColon(k))
    }
    var i = 0
    while (i < toks.length) {
      val q = toks(i)
      if (q.text == "?") {
        val d = q.depth
        // the matching ELSE colon: same depth, skipping :: cast pairs
        var j = i + 1
        var colon = -1
        var blocked = false
        while (j < toks.length && colon < 0 && !blocked) {
          if (toks(j).text == ":" && toks(j).depth == d && !castColon(j))
            colon = j
          else if (isStop(j, d)) blocked = true
          j += 1
        }
        if (colon > 0) {
          // condition start: walk back to the previous boundary. Unlike
          // the forward scans, an earlier `?` or non-cast `:` IS a
          // boundary here — in `c1 ? a : c2 ? b : d` the inner condition
          // c2 starts right after the outer colon (right-associativity),
          // while the outer else-branch swallows the whole inner ternary.
          var k = i - 1
          while (k >= 0 && !isStop(k, d) &&
            !(toks(k).depth == d && (toks(k).text == "?" ||
              (toks(k).text == ":" && !castColon(k))))) k -= 1
          val condStart = toks(k + 1).start
          // else-branch end: walk forward to the next boundary. String
          // literals are OPAQUE to the lexer (no token), so the branch
          // end is anchored at the STOP token's start (or end of text),
          // never at the previous token's end — a trailing 'literal'
          // would be silently excluded otherwise.
          var e = colon + 1
          while (e < toks.length && !isStop(e, d)) e += 1
          val (elseEnd, endTxt) =
            if (e == toks.length) (sqlText.length, " END")
            else (toks(e).start, " END ")
          splices += ((condStart, condStart, "CASE WHEN "))
          splices += ((q.start, q.end, " THEN "))
          splices += ((toks(colon).start, toks(colon).end, " ELSE "))
          splices += ((elseEnd, elseEnd, endTxt))
        }
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** ClickHouse `SELECT DISTINCT ON (k1, …) …` — first row per key
    * group — re-expressed as the equivalent `LIMIT 1 BY k1, …`, which
    * [[rewriteLimitBy]] then lowers to the ROW_NUMBER window shape. The
    * ORDER BY (when present) decides which row is "first", exactly like
    * ClickHouse; without one the pick is arbitrary-but-single. The
    * LIMIT BY clause lands before any trailing plain LIMIT of the same
    * block (ClickHouse applies DISTINCT ON before LIMIT).
    */
  private def rewriteDistinctOn(sqlText: String): String = {
    val toks = lex(sqlText)
    val hit = toks.zipWithIndex.find { case (t, i) =>
      t.lower == "distinct" &&
        toks.lift(i + 1).exists(n => n.depth == t.depth && n.lower == "on") &&
        toks.lift(i + 2).exists(p => p.text == "(" && p.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((t, i)) =>
        val d = t.depth
        val close = toks.indexWhere(x => x.text == ")" && x.depth == d, i + 2)
        if (close < 0)
          throw new IllegalArgumentException("DISTINCT ON: unclosed column list")
        val cols = sqlText.substring(toks(i + 2).end, toks(close).start).trim
        if (cols.isEmpty)
          throw new IllegalArgumentException("DISTINCT ON: empty column list")
        // insertion point: before this block's trailing plain LIMIT, or
        // at the block's end (next same-depth set-op / shallower token)
        var j = close + 1
        var insertAt = -1
        while (j < toks.length && insertAt < 0) {
          val x = toks(j)
          if (x.depth < d ||
            (x.depth == d && Set("union", "intersect", "except")(x.lower)))
            insertAt = x.start
          else if (x.depth == d && x.lower == "limit") insertAt = x.start
          j += 1
        }
        val at = if (insertAt < 0) sqlText.length else insertAt
        val out = sqlText.substring(0, t.start) +
          sqlText.substring(toks(close).end, at).stripPrefix(" ") +
          s" LIMIT 1 BY $cols " + sqlText.substring(at)
        rewriteDistinctOn(rewriteLimitBy(out))
    }
  }

  /** ClickHouse's dynamic column selector `COLUMNS('regex') [APPLY(f)…]`:
    * expands to the FROM table's columns whose name partially matches
    * the regex (CH's re2 `find` semantics), optionally wrapped by an
    * APPLY chain. The string literal is invisible to the lexer, so the
    * selector surfaces as `COLUMNS ( )` with the pattern recovered from
    * the source span between the parens.
    */
  private def rewriteColumnsSelector(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    var i = 0
    while (i < ts.length - 2) {
      val t = ts(i)
      if (t.lower == "columns" &&
        (i > 0 && { val p = ts(i - 1); p.lower == "select" || p.text == "," }) &&
        ts(i + 1).text == "(" && ts(i + 1).depth == t.depth &&
        ts(i + 2).text == ")" && ts(i + 2).depth == t.depth) {
        val lit = sqlText.substring(ts(i + 1).end, ts(i + 2).start).trim
        if (lit.length >= 2 && lit.startsWith("'") && lit.endsWith("'")) {
          val regex = java.util.regex.Pattern.compile(
            lit.substring(1, lit.length - 1))
          val d = t.depth
          // optional APPLY chain
          val fns = Vector.newBuilder[String]
          var j = i + 3
          var end = ts(i + 2).end
          while (ts.lift(j).exists(x => x.depth == d && x.lower == "apply") &&
            ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d) &&
            ts.lift(j + 2).exists(isIdent) &&
            ts.lift(j + 3).exists(p => p.text == ")" && p.depth == d)) {
            fns += ts(j + 2).text
            end = ts(j + 3).end
            j += 4
          }
          val fromIdx = ts.indexWhere(x =>
            x.depth == d && x.lower == "from", i)
          if (fromIdx < 0 || !ts.lift(fromIdx + 1).exists(isIdent) ||
            ts(fromIdx + 1).depth != d)
            throw new IllegalArgumentException(
              "COLUMNS('…') needs a single-table FROM to resolve the schema")
          val matched =
            columnsOf(ts(fromIdx + 1).text).filter(c => regex.matcher(c).find())
          if (matched.isEmpty)
            throw new IllegalArgumentException(
              s"COLUMNS($lit) matches no column of ${ts(fromIdx + 1).text}")
          val fnList = fns.result()
          val expanded = matched.map { c =>
            if (fnList.isEmpty) q(c)
            else s"${fnList.foldLeft(q(c))((e, f) => s"$f($e)")} AS ${q(c)}"
          }.mkString(", ")
          return rewriteColumnsSelector(
            sqlText.substring(0, t.start) + expanded + sqlText.substring(end),
            columnsOf)
        }
      }
      i += 1
    }
    sqlText
  }

  /** ClickHouse's column-transformer `* [EXCEPT …] APPLY(f) [APPLY(g)]`:
    * expands the star against the block's single FROM table and wraps
    * every kept column — `* EXCEPT(k) APPLY(sum)` →
    * `sum(col1) AS col1, …`. Chained APPLYs nest left-to-right
    * (`APPLY(f) APPLY(g)` → g(f(col))). Runs before
    * [[rewriteStarModifiers]]; a star with no APPLY is left for that
    * rewrite (or Spark's native EXCEPT) to handle.
    */
  private def rewriteStarApply(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    var found: Option[(Int, Int, Set[String], Seq[String])] = None // star idx, end idx, excluded, fns
    var i = 0
    while (i < ts.length && found.isEmpty) {
      val t = ts(i)
      if (t.text == "*" &&
        (i > 0 && { val p = ts(i - 1); p.lower == "select" || p.text == "," })) {
        val d = t.depth
        var j = i + 1
        var excluded = Set.empty[String]
        // optional EXCEPT list (parenless or parenthesized)
        if (ts.lift(j).exists(x => x.depth == d && x.lower == "except")) {
          if (ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d)) {
            val close = ts.indexWhere(x => x.text == ")" && x.depth == d, j + 1)
            if (close > 0) {
              excluded = ts.slice(j + 2, close).filter(isIdent)
                .map(_.text.toLowerCase(java.util.Locale.ROOT)).toSet
              j = close + 1
            }
          } else if (ts.lift(j + 1).exists(c => c.depth == d && isIdent(c))) {
            excluded = Set(ts(j + 1).text.toLowerCase(java.util.Locale.ROOT))
            j = j + 2
          }
        }
        // one or more APPLY(fn)
        val fns = Vector.newBuilder[String]
        var end = -1
        while (ts.lift(j).exists(x => x.depth == d && x.lower == "apply") &&
          ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d) &&
          ts.lift(j + 2).exists(isIdent) &&
          ts.lift(j + 3).exists(p => p.text == ")" && p.depth == d)) {
          fns += ts(j + 2).text
          end = ts(j + 3).end
          j += 4
        }
        val fnList = fns.result()
        if (fnList.nonEmpty) found = Some((i, end, excluded, fnList))
      }
      i += 1
    }
    found match {
      case None => sqlText
      case Some((si, end, excluded, fns)) =>
        val star = ts(si)
        val d = star.depth
        val fromIdx = ts.indexWhere(t =>
          t.depth == d && t.lower == "from", si)
        if (fromIdx < 0 || !ts.lift(fromIdx + 1).exists(isIdent) ||
          ts(fromIdx + 1).depth != d)
          throw new IllegalArgumentException(
            "* APPLY needs a single-table FROM to resolve the schema")
        val cols = columnsOf(ts(fromIdx + 1).text)
        val unknown =
          excluded.diff(cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"* APPLY: EXCEPT names not in ${ts(fromIdx + 1).text}: " +
              unknown.mkString(", "))
        val expanded = cols
          .filterNot(c => excluded(c.toLowerCase(java.util.Locale.ROOT)))
          .map { c =>
            val wrapped = fns.foldLeft(q(c))((e, f) => s"$f($e)")
            s"$wrapped AS ${q(c)}"
          }.mkString(", ")
        rewriteStarApply(
          sqlText.substring(0, star.start) + expanded + sqlText.substring(end),
          columnsOf)
    }
  }

  /** `QUALIFY <pred>` (ClickHouse/BigQuery/Snowflake window filter —
    * Spark has no such clause): the block is wrapped so the predicate
    * evaluates WITH the window functions and the filter runs outside —
    *
    *   SELECT <sel> FROM … QUALIFY p [ORDER BY …]
    *   → SELECT * EXCEPT (`__qual`) FROM (
    *       SELECT <sel>, (p) AS `__qual` FROM …) WHERE `__qual` [ORDER BY …]
    *
    * ORDER BY/LIMIT after QUALIFY stay on the outer query (they see the
    * block's column names). DISTINCT + QUALIFY is rejected loudly — the
    * helper column would change the distinct key.
    */
  private def rewriteQualify(sqlText: String): String = {
    val toks = lex(sqlText)
    val qi = toks.indexWhere(_.lower == "qualify")
    if (qi < 0) return sqlText
    val qt = toks(qi)
    val d = qt.depth
    val selIdx = toks.lastIndexWhere(t =>
      t.depth == d && t.lower == "select", qi)
    if (selIdx < 0)
      throw new IllegalArgumentException("QUALIFY: no enclosing SELECT")
    if (toks.lift(selIdx + 1).exists(_.lower == "distinct"))
      throw new IllegalArgumentException(
        "QUALIFY with SELECT DISTINCT is not supported — filter in a subquery")
    val fromIdx = toks.indexWhere(t =>
      t.depth == d && t.lower == "from", selIdx)
    if (fromIdx < 0 || fromIdx > qi)
      throw new IllegalArgumentException("QUALIFY: no FROM in its block")
    // predicate span: until the next same-depth trailing clause
    val predStopSet = Set("order", "limit", "union", "intersect", "except",
      "settings", "format", "window", "offset")
    var e = qi + 1
    while (e < toks.length && !(toks(e).depth < d ||
      (toks(e).depth == d && predStopSet(toks(e).lower)))) e += 1
    val predEnd = if (e == toks.length) sqlText.length else toks(e).start
    val pred = sqlText.substring(qt.end, predEnd).trim
    if (pred.isEmpty)
      throw new IllegalArgumentException("QUALIFY: empty predicate")
    val out = sqlText.substring(0, toks(selIdx).start) +
      "SELECT * EXCEPT (`__qual`) FROM (SELECT" +
      sqlText.substring(toks(selIdx).end, toks(fromIdx).start) +
      s", ($pred) AS `__qual` " +
      sqlText.substring(toks(fromIdx).start, qt.start).trim +
      ") WHERE `__qual` " + sqlText.substring(predEnd)
    rewriteQualify(out)
  }

  /** ClickHouse/MySQL `LIMIT offset, count` → ANSI
    * `LIMIT count OFFSET offset`. Distinct from `LIMIT n BY cols`
    * (handled by [[rewriteLimitBy]]): here the token after the comma is
    * a number, there it's the BY keyword.
    */
  private def rewriteLimitOffset(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 3) {
      val t = toks(i)
      if (t.lower == "limit" &&
        toks(i + 1).depth == t.depth &&
        Character.isDigit(toks(i + 1).text.charAt(0)) &&
        toks(i + 2).text == "," && toks(i + 2).depth == t.depth &&
        Character.isDigit(toks(i + 3).text.charAt(0)))
        splices += ((toks(i + 1).start, toks(i + 3).end,
          s"${toks(i + 3).text} OFFSET ${toks(i + 1).text}"))
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** ClickHouse's bare `count()` → ANSI `count(*)`. */
  private def rewriteBareCount(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 2) {
      if (toks(i).lower == "count" && toks(i + 1).text == "(" &&
        toks(i + 2).text == ")")
        splices += ((toks(i + 1).end, toks(i + 2).start, "*"))
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** CH `arrayFirst(λ, a)` / `arrayFirstIndex(λ, a)` → compositions of
    * Spark HOFs (`element_at(filter(a, λ), 1)` /
    * `array_position(transform(a, λ), true)`). These can't be registry
    * builders: a call with a lambda argument must RESOLVE to a
    * higher-order expression at top level, and the compositions don't.
    * arrayFirstIndex returns 0 for no match (array_position's miss
    * value), same as ClickHouse.
    */
  private def rewriteArrayFirst(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      val isFirst = t.lower == "arrayfirst"
      val isIdx = t.lower == "arrayfirstindex"
      val isLast = t.lower == "arraylast"
      val isLastIdx = t.lower == "arraylastindex"
      if ((isFirst || isIdx || isLast || isLastIdx) &&
        toks(i + 1).text == "(") {
        val d = toks(i + 1).depth
        var j = i + 2
        var comma = -1
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) {
          if (comma < 0 && toks(j).text == "," && toks(j).depth == d + 1)
            comma = j
          j += 1
        }
        if (j < toks.length && comma > 0) {
          val lam = sqlText.substring(toks(i + 1).end, toks(comma).start).trim
          val arr = sqlText.substring(toks(comma).end, toks(j).start).trim
          val repl =
            if (isFirst) s"element_at(filter($arr, $lam), 1)"
            else if (isLast) s"element_at(filter($arr, $lam), -1)"
            else if (isLastIdx)
              // last matching index = size − first match on the
              // reversed flags + 1; array_position's 0-when-absent
              // must stay 0
              s"CASE WHEN array_position(reverse(transform($arr, $lam)), " +
                s"true) = 0 THEN 0 ELSE size($arr) - " +
                s"array_position(reverse(transform($arr, $lam)), true) " +
                s"+ 1 END"
            else s"array_position(transform($arr, $lam), true)"
          // one splice per pass, then recurse — a nested arrayFirst in
          // the argument text would otherwise overlap this span
          splices += ((t.start, toks(j).end, repl))
          return rewriteArrayFirst(applySplices(sqlText, splices))
        }
      }
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** CH map higher-order functions whose natural rewrite is NOT a
    * top-level higher-order expression (the arrayFirst restriction):
    * mapExists/mapAll become size(map_filter(…)) comparisons, and
    * mapApply's two-argument (k, v) lambda re-binds onto one
    * map_entries struct parameter by TEXT substitution of the
    * parameter identifiers.
    */
  private def rewriteMapHof(sqlText: String): String = {
    val toks = lex(sqlText)
    var i = 0
    while (i < toks.length - 1) {
      val t = toks(i)
      val kind = t.lower match {
        case "mapexists" | "mapall" | "mapapply" => t.lower
        case _ => ""
      }
      if (kind.nonEmpty && toks(i + 1).text == "(") {
        val d = toks(i + 1).depth
        var j = i + 2
        var comma = -1
        while (j < toks.length && !(toks(j).text == ")" && toks(j).depth == d)) {
          if (comma < 0 && toks(j).text == "," && toks(j).depth == d + 1)
            comma = j
          j += 1
        }
        if (j < toks.length && comma > 0) {
          val lam = sqlText.substring(toks(i + 1).end, toks(comma).start).trim
          val m = sqlText.substring(toks(comma).end, toks(j).start).trim
          val repl = kind match {
            case "mapexists" =>
              s"(size(map_keys(map_filter($m, $lam))) > 0)"
            case "mapall" =>
              s"(size(map_keys(map_filter($m, $lam))) = size(map_keys($m)))"
            case _ =>
              // (k, v) -> body : substitute the param identifiers in
              // the body with the entry struct's fields
              val arrow = lam.indexOf("->")
              require(arrow > 0, s"mapApply expects a lambda: $lam")
              val params = lam.substring(0, arrow).trim
                .stripPrefix("(").stripSuffix(")").split(",").map(_.trim)
              require(params.length == 2,
                s"mapApply expects a two-argument lambda (k, v): $lam")
              val body = lam.substring(arrow + 2)
              val bToks = lex(body)
              val sb = new StringBuilder(body)
              for (bt <- bToks.reverse if isIdent(bt)) {
                if (bt.text == params(0))
                  sb.replace(bt.start, bt.end, "__graft_me.key")
                else if (bt.text == params(1))
                  sb.replace(bt.start, bt.end, "__graft_me.value")
              }
              s"map_from_entries(transform(map_entries($m), " +
                s"__graft_me -> ${sb.toString.trim}))"
          }
          return rewriteMapHof(applySplices(sqlText,
            scala.collection.mutable.ArrayBuffer((t.start, toks(j).end, repl))))
        }
      }
      i += 1
    }
    sqlText
  }

  /** CH `dateDiff('unit', a, b)` (quoted unit, boundary-count
    * semantics) → the dialect's `chDateDiff` — Spark's parser reserves
    * the `dateDiff(` spelling for its own unquoted-unit builtin, whose
    * complete-units semantics differ. The quoted unit is invisible to
    * the lexer (string literal), so the call surfaces as
    * `dateDiff ( ,` — that comma-right-after-paren shape is the cue.
    */
  /** CH spellings whose exact names collide with Spark builtins of
    * DIFFERENT semantics, renamed (case-SENSITIVELY, as CH requires) to
    * the dialect's ch* forms: MD5/SHA1/SHA224/SHA256 return BYTES in CH
    * while Spark's md5/sha1/sha2 return lowercase hex STRINGS — the
    * ubiquitous CH idiom `hex(MD5(x))` would silently double-hex — and
    * Spark 4's builtin monthname returns the short form ("Mar") where
    * CH returns full English. Lexer-driven: string literals and other
    * identifiers are untouched, and only a CALL (identifier directly
    * followed by `(`) is renamed, so a column named MD5 survives.
    */
  private def rewriteHashNames(sqlText: String): String = {
    val names = Map("MD5" -> "chMD5", "SHA1" -> "chSHA1",
      "SHA224" -> "chSHA224", "SHA256" -> "chSHA256",
      "SHA512" -> "chSHA512",
      "monthName" -> "chMonthName")
    // initcap and char are case-INSENSITIVE in CH (unlike the hash
    // names above), so INITCAP/InitCap must hit the CH-semantics
    // rewrite too — falling through to Spark's builtin silently
    // switches to whitespace-word capitalization ('FOO-BAR' diverges;
    // r14 ADVICE). Keyed by lowercased token.
    val ciNames = Map(
      // CH initcap upcases the first char of each ALNUM RUN; Spark's
      // builtin splits on whitespace only ('foo-bar' diverges)
      "initcap" -> "chInitcap",
      // CH's multi-arg byte-assembling char() vs Spark's 1-arg builtin;
      // `CAST(x AS char(n))` type positions are excluded below
      "char" -> "chChar")
    // `CHAR(5)` directly after a bare identifier is a column TYPE in a
    // definition list (`c CHAR(5)`), never a call — in expression
    // context a call is always preceded by punctuation, an operator,
    // or a keyword (SELECT/WHEN/THEN/…). Keying off the statement
    // prefix instead (the first r15 cut) regressed CTAS: `CREATE
    // TABLE t AS SELECT char(72, 105)` must still splice.
    val ts = lex(sqlText)
    val exprKeywords = Set("select", "when", "then", "else", "case",
      "end", "and", "or", "not", "where", "by", "on", "using", "in",
      "like", "ilike", "between", "all", "distinct", "union", "from",
      "join", "over", "having", "limit", "offset", "escape", "return",
      "returning", "if", "elseif", "is", "xor", "div", "mod",
      // expression-introducing keywords inside definition lists: a
      // `DEFAULT char(72, 105)` column default is a CALL even though
      // the previous token is a bare identifier (r15 ADVICE); VALUES
      // rows are expression context for the same reason
      "default", "values")
    def typePosition(i: Int): Boolean = ts.lift(i - 1).exists { p =>
      // a preceding ':' is the tail of a '::' cast — `x::CHAR(3)` is a
      // TYPE slot even though no bare identifier precedes (r15 ADVICE:
      // classifying it as a call spliced chChar into the cast)
      p.text == ":" ||
        (p.text.matches("[A-Za-z_][A-Za-z0-9_]*") &&
          !exprKeywords.contains(p.lower))
    }
    val sb = new StringBuilder(sqlText)
    // right-to-left so earlier token offsets stay valid as we splice
    for (i <- ts.indices.reverse) {
      val t = ts(i)
      val target = names.get(t.text).orElse(ciNames.get(t.lower))
        .filterNot(_ => t.lower == "char" && typePosition(i))
      if (target.isDefined && ts.lift(i + 1).exists(_.text == "(") &&
        !ts.lift(i - 1).exists(_.lower == "as"))
        sb.replace(t.start, t.end, target.get)
    }
    sb.toString
  }

  private def rewriteDateDiff(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 2) {
      if (toks(i).lower == "datediff" && toks(i + 1).text == "(" &&
        toks(i + 2).text == ",")
        splices += ((toks(i).start, toks(i).end, "chDateDiff"))
      i += 1
    }
    applySplices(sqlText, splices)
  }

  /** CH `extract(haystack, re)` → the dialect's `chExtract` — Spark's
    * parser owns the `EXTRACT(field FROM ts)` spelling. The cue is a
    * top-level COMMA inside the parens (the SQL-standard form has FROM
    * there instead), so both spellings coexist in one statement.
    */
  private def rewriteExtract(sqlText: String): String = {
    val toks = lex(sqlText)
    val splices = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    for (i <- toks.indices) {
      if (toks(i).lower == "extract" &&
        toks.lift(i + 1).exists(_.text == "(")) {
        val depth = toks(i + 1).depth
        var j = i + 2
        var isCall = false
        var done = false
        while (j < toks.length && !done) {
          val t = toks(j)
          if (t.text == ")" && t.depth == depth) done = true
          else if (t.depth == depth + 1 || (t.text == "(" && t.depth == depth + 1)) {
            if (t.text == ",") { isCall = true; done = true }
            if (t.lower == "from") done = true
          }
          j += 1
        }
        if (isCall) splices += ((toks(i).start, toks(i).end, "chExtract"))
      }
    }
    applySplices(sqlText, splices)
  }

  private def applySplices(sqlText: String,
      splices: scala.collection.mutable.ArrayBuffer[(Int, Int, String)]): String =
    if (splices.isEmpty) sqlText
    else {
      val sb = new StringBuilder(sqlText)
      splices.sortBy(-_._1).foreach { case (s, e, r) => sb.replace(s, e, r) }
      sb.toString
    }

  /** Drop `GLOBAL` before a join keyword. ClickHouse's GLOBAL is a
    * distribution directive (ship the right side to every node — i.e. a
    * broadcast); Spark picks broadcast vs shuffle from statistics/AQE,
    * so the correct translation is to erase the keyword and let the
    * planner decide.
    */
  private def stripGlobalJoin(sqlText: String): String = {
    val joinish = Set("join", "inner", "left", "right", "full", "cross",
      "semi", "anti")
    val ts = lex(sqlText)
    ts.zipWithIndex.find { case (t, i) =>
      t.lower == "global" &&
        ts.lift(i + 1).exists(n => n.depth == t.depth && joinish(n.lower))
    } match {
      case None => sqlText
      case Some((g, i)) =>
        stripGlobalJoin(
          sqlText.substring(0, g.start) + sqlText.substring(ts(i + 1).start))
    }
  }

  /** Drop `GLOBAL` before `IN` / `NOT IN`. Same reasoning as
    * [[stripGlobalJoin]]: ClickHouse's `GLOBAL IN (subquery)` ships the
    * subquery result to every node — a broadcast directive Spark derives
    * from statistics — so the keyword erases and the semi-join semantics
    * stay with the planner.
    */
  private def stripGlobalIn(sqlText: String): String = {
    val ts = lex(sqlText)
    ts.zipWithIndex.find { case (t, i) =>
      t.lower == "global" &&
        ts.lift(i + 1).exists(n => n.depth == t.depth &&
          (n.lower == "in" || (n.lower == "not" &&
            ts.lift(i + 2).exists(m => m.depth == t.depth && m.lower == "in"))))
    } match {
      case None => sqlText
      case Some((g, i)) =>
        stripGlobalIn(
          sqlText.substring(0, g.start) + sqlText.substring(ts(i + 1).start))
    }
  }

  /** ClickHouse allows a bare table name as the right side of IN —
    * `x IN allowed_users` reads the named table/set. ANSI requires a list
    * or subquery, so expand to `IN (SELECT * FROM t)`. Only fires on
    * `IN <ident>` NOT followed by `(` (a following paren is a table
    * function / expression list, and plain `IN (…)` never matches because
    * `(` is not an identifier); standard SQL has no `IN ident` form, so
    * the rewrite cannot hijack valid Spark text.
    */
  private def rewriteInTable(sqlText: String): String = {
    val ts = lex(sqlText)
    ts.zipWithIndex.find { case (t, i) =>
      t.lower == "in" &&
        ts.lift(i + 1).exists(n => n.depth == t.depth && isIdent(n) &&
          !ts.lift(i + 2).exists(m => m.text == "(" && m.depth == t.depth)) &&
        // `in` must follow an expression, not be an identifier in its own
        // right (nothing before, or a clause keyword before, means `in`
        // is someone's column/alias — leave it alone)
        ts.lift(i - 1).exists(p => p.text == ")" || p.text.last == '`' ||
          (isIdent(p) || Character.isDigit(p.text.charAt(0))) && !clauseStart(p.lower))
    } match {
      case None => sqlText
      case Some((t, i)) =>
        val tbl = ts(i + 1)
        rewriteInTable(
          sqlText.substring(0, t.start) + "IN (SELECT * FROM " + tbl.text + ")" +
            sqlText.substring(tbl.end))
    }
  }

  /** ClickHouse scalar WITH: `WITH <expr> AS <ident>[, …] SELECT …` binds
    * each ident to the EXPRESSION (re-evaluated per use — it is an alias,
    * not a materialized value), visible through the whole statement
    * including subqueries. ANSI WITH only admits `ident AS (subquery)`
    * CTEs, so the scalar items are erased from the clause and every
    * reference is substituted with the parenthesized expression. CTE items
    * in the same list are kept (ClickHouse allows mixing); scalar aliases
    * may reference earlier scalar aliases. `WITH (SELECT …) AS x` (scalar
    * subquery alias) lands as a per-use scalar subquery, which Spark
    * evaluates once — same value, CH just caches it explicitly.
    *
    * Only fires when WITH starts a statement or subquery (previous token
    * is nothing, `(`, `;`, or a set-op keyword) — `WITH FILL`, `WITH
    * TOTALS`, `WITH ROLLUP/CUBE` are preceded by expressions and never
    * match; their rewrites run later on the substituted text.
    */
  private def rewriteScalarWith(sqlText: String): String = {
    val ts = lex(sqlText)
    val starters = Set("all", "union", "intersect", "except")
    val cand = ts.zipWithIndex.filter { case (t, i) =>
      t.lower == "with" &&
        (i == 0 || {
          val p = ts(i - 1)
          p.text == "(" || p.text == ";" || starters(p.lower)
        })
    }
    cand.foreach { case (w, wi) =>
      val d = w.depth
      // item boundaries: commas at depth d; the list ends at the first
      // depth-d SELECT (the statement body)
      var j = wi + 1
      var items = Vector.empty[(Int, Int)] // token index range [from, until)
      var from = wi + 1
      var selIdx = -1
      while (j < ts.length && selIdx >= -1) {
        val t = ts(j)
        if (t.depth < d) selIdx = -2 // fell out of the subquery — malformed
        else if (t.depth == d && t.lower == "select") {
          items :+= ((from, j)); selIdx = j; j = ts.length
        } else if (t.depth == d && t.text == ",") {
          items :+= ((from, j)); from = j + 1
        }
        j += 1
      }
      if (selIdx >= 0 && items.forall { case (a, b) => b > a }) {
        // classify each item: scalar (… AS ident) vs CTE (ident AS (…))
        val classified = items.map { case (a, b) =>
          val slice = ts.slice(a, b)
          val isCte = slice.length >= 3 && isIdent(slice(0)) &&
            slice(1).lower == "as" && slice(2).text == "("
          val isScalar = !isCte && slice.length >= 2 &&
            slice(slice.length - 2).lower == "as" &&
            slice(slice.length - 2).depth == d && isIdent(slice.last)
          if (isScalar) {
            val alias = slice.last.text
            val expr = sqlText.substring(ts(a).start, slice(slice.length - 2).start).trim
            Left(alias -> expr)
          } else Right(sqlText.substring(ts(a).start, ts(b - 1).end))
        }
        val scalars0 = classified.collect { case Left(ae) => ae }
        if (scalars0.nonEmpty) {
          // earlier aliases substitute into later exprs (CH scoping)
          val scalars = scalars0.foldLeft(Vector.empty[(String, String)]) {
            case (acc, (a, e)) => acc :+ (a -> substituteAliases(e, acc))
          }
          val ctes = classified.collect { case Right(txt) => txt }
          val restStart = ts(selIdx).start
          val head =
            if (ctes.isEmpty) ""
            else "WITH " + ctes.map(substituteAliases(_, scalars)).mkString(", ") + " "
          val rebuilt = sqlText.substring(0, w.start) + head +
            substituteAliases(sqlText.substring(restStart), scalars)
          return rewriteScalarWith(rebuilt)
        }
      }
    }
    sqlText
  }

  /** Replace each bare occurrence of an alias identifier with its
    * parenthesized expression (exact-case match — ClickHouse identifiers
    * are case-sensitive; qualified refs `t.x` lex as one token and never
    * match; a following `(` means a function call and is skipped).
    */
  private def substituteAliases(text: String, aliases: Seq[(String, String)]): String = {
    if (aliases.isEmpty) return text
    val m = aliases.toMap
    val ts = lex(text)
    val sb = new StringBuilder
    var pos = 0
    ts.zipWithIndex.foreach { case (t, i) =>
      if (m.contains(t.text) && !ts.lift(i + 1).exists(_.text == "(") &&
        !ts.lift(i - 1).exists(_.lower == "as")) {
        sb.append(text.substring(pos, t.start)).append("(").append(m(t.text)).append(")")
        pos = t.end
      }
    }
    sb.append(text.substring(pos))
    sb.toString
  }

  /** Drop a `SETTINGS k = v [, k = v …]` clause (per-query engine knobs:
    * max_threads, join_algorithm, …). They tune ClickHouse's executor;
    * Spark's equivalents are session confs, so the clause is erased
    * rather than translated. Runs until the next same-depth `FORMAT`,
    * a shallower token, or end of text.
    */
  private def stripSettings(sqlText: String): String = {
    val ts = lex(sqlText)
    ts.zipWithIndex.find { case (t, i) =>
      t.lower == "settings" &&
        // a real settings list follows: ident = …
        ts.lift(i + 1).exists(n => n.depth == t.depth && isIdent(n)) &&
        ts.lift(i + 2).exists(n => n.depth == t.depth && n.text == "=")
    } match {
      case None => sqlText
      case Some((s, i)) =>
        // literals lex to no token, so the clause ends at the next KEPT
        // token's start (FORMAT / `;` / shallower), or end of text
        val end = ts.drop(i + 1).find(t =>
          t.depth < s.depth || (t.depth == s.depth &&
            (t.lower == "format" || t.text == ";")))
          .map(_.start).getOrElse(sqlText.length)
        stripSettings(
          sqlText.substring(0, s.start) + sqlText.substring(end))
    }
  }

  /** Drop a trailing `FORMAT <name>` (ClickHouse output serialization:
    * JSONEachRow, TabSeparated, Pretty, …). Result shape in Spark is the
    * DataFrame; serialization belongs to the writer, so the clause is
    * erased. Only matches at top level with the format name as the last
    * token (optionally before `;`) — `format` as an identifier anywhere
    * else passes through.
    */
  private def stripFormat(sqlText: String): String = {
    val ts0 = lex(sqlText)
    val ts = if (ts0.nonEmpty && ts0.last.text == ";") ts0.dropRight(1) else ts0
    if (ts.length > 2 && ts.last.depth == 0 && isIdent(ts.last) &&
      ts(ts.length - 2).lower == "format" && ts(ts.length - 2).depth == 0 &&
      // not a relation named `format` (`FROM format j`, `JOIN format j`,
      // `, format j`) — anything else trailing `FORMAT <name>` is the
      // ClickHouse output clause (string literals lex to no token, so a
      // whitelist of expression-enders would miss `= 'x' FORMAT JSON`)
      {
        val p = ts(ts.length - 3)
        !Set("from", "join", "as").contains(p.lower) && p.text != ","
      })
      sqlText.substring(0, ts(ts.length - 2).start) +
        sqlText.substring(ts.last.end)
    else sqlText
  }

  /** Expand every `FROM|JOIN <table> [AS] [alias] FINAL` whose table has
    * a registered engine. One pass per occurrence (offsets shift).
    */
  private def rewriteFinal(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    var found: Option[(Tok, Tok, String)] = None // (tableTok, finalTok, alias)
    var i = 0
    while (found.isEmpty && i < ts.length - 2) {
      val t = ts(i)
      if ((t.lower == "from" || t.lower == "join") && isIdent(ts(i + 1)) &&
        ts(i + 1).depth == t.depth) {
        val tbl = ts(i + 1)
        // from t FINAL | from t a FINAL | from t AS a FINAL
        val rest = ts.drop(i + 2).takeWhile(_.depth >= t.depth)
        rest.headOption match {
          case Some(f) if f.lower == "final" && f.depth == t.depth =>
            found = Some((tbl, f, norm(tbl.text)))
          case Some(a) if isIdent(a) && a.depth == t.depth &&
            rest.lift(1).exists(x => x.lower == "final" && x.depth == t.depth) =>
            found = Some((tbl, rest(1), a.text))
          case Some(as) if as.lower == "as" && as.depth == t.depth &&
            rest.lift(1).exists(isIdent) &&
            rest.lift(2).exists(x => x.lower == "final" && x.depth == t.depth) =>
            found = Some((tbl, rest(2), rest(1).text))
          case _ =>
        }
        // only rewrite when the engine is known — otherwise `final` keeps
        // its ANSI reading (a table alias) and the text is untouched
        if (found.isDefined && engineOf(found.get._1.text).isEmpty) found = None
      }
      i += 1
    }
    found match {
      case None => sqlText
      case Some((tbl, fin, alias)) =>
        val e = engineOf(tbl.text).get
        val sub = finalSubquery(tbl.text, columnsOf(tbl.text), e)
        val replaced = sqlText.substring(0, tbl.start) +
          sub + " AS " + alias + sqlText.substring(fin.end)
        rewriteFinal(replaced, columnsOf) // next occurrence, fresh offsets
    }
  }

  /** The engine's read-time collapse as a subquery, preserving the
    * table's column order (so `SELECT *` keeps its schema).
    */
  private def finalSubquery(table: String, cols: Seq[String],
    e: Engine): String = {
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    def isKey(c: String) = e.sortKey.exists(_.equalsIgnoreCase(c))
    val keys = e.sortKey.map(q).mkString(", ")
    e match {
      case Replacing(_, version) =>
        val sel = cols.map(q).mkString(", ")
        val ord = version.map(v => q(v) + " DESC").mkString(", ")
        s"(SELECT $sel FROM (SELECT $sel, ROW_NUMBER() OVER " +
          s"(PARTITION BY $keys ORDER BY $ord) AS __ch_rn FROM $table) " +
          s"__ch_v WHERE __ch_rn = 1)"
      case Collapsing(_, sign, version) =>
        val ver = "struct(" + version.map(q).mkString(", ") + ")"
        val plus = s"${q(sign)} = 1"
        val sel = cols.map { c =>
          if (isKey(c)) q(c)
          else s"max_by(CASE WHEN $plus THEN ${q(c)} END, " +
            s"CASE WHEN $plus THEN $ver END) AS ${q(c)}"
        }.mkString(", ")
        s"(SELECT $sel FROM $table GROUP BY $keys " +
          s"HAVING SUM(${q(sign)}) > 0)"
      case Summing(_, measures) =>
        val sel = cols.map { c =>
          if (isKey(c)) q(c)
          else if (measures.exists(_.equalsIgnoreCase(c)))
            s"SUM(${q(c)}) AS ${q(c)}"
          else s"any_value(${q(c)}) AS ${q(c)}"
        }.mkString(", ")
        s"(SELECT $sel FROM $table GROUP BY $keys)"
      case Aggregating(_, merges) =>
        val sel = cols.map { c =>
          if (isKey(c)) q(c)
          else {
            val fn = merges.getOrElse(
              c.stripPrefix("`").stripSuffix("`")
                .toLowerCase(java.util.Locale.ROOT), "any_value")
            s"$fn(${q(c)}) AS ${q(c)}"
          }
        }.mkString(", ")
        s"(SELECT $sel FROM $table GROUP BY $keys)"
    }
  }

  /** A select-list `arrayJoin(e) AS a` whose SELECT groups by `a` (Spark
    * cannot group by a generator's alias): the item becomes the column
    * `a` and the FROM clause gains `ARRAY JOIN e AS a`, which
    * [[rewriteArrayJoin]] lowers to a LATERAL VIEW. ClickHouse unfolds a
    * select-list arrayJoin before grouping, so both forms mean the same.
    */
  private def rewriteArrayJoinGroupAlias(sqlText: String): String = {
    val ts = lex(sqlText)
    val hits = ts.indices.iterator.filter(ts(_).lower == "select").flatMap { si =>
      val d = ts(si).depth
      // the SELECT's tokens at its own depth, up to a set operator or SELECT
      val same = si +: (si + 1 until ts.length).takeWhile(j => ts(j).depth >= d &&
        !(ts(j).depth == d && Set("select", "union", "intersect", "except")(ts(j).lower)))
        .filter(ts(_).depth == d)
      def at(k: Int) = same.lift(k).fold("")(ts(_).lower)
      val from = same.indexWhere(ts(_).lower == "from")
      val group = same.indexWhere(ts(_).lower == "group")
      val keys = same.drop(group + 2).takeWhile(j => !clauseStart(ts(j).lower)).map(j => norm(ts(j).text))
      // `arrayJoin ( e ) AS a` as one whole select item
      (1 until from).find(k => at(k) == "arrayjoin" && Set("select", ",")(at(k - 1)) &&
        at(k + 1) == "(" && at(k + 2) == ")" && at(k + 3) == "as" && isIdent(ts(same(k + 4))) &&
        Set(",", "from")(at(k + 5)) && keys.contains(norm(ts(same(k + 4)).text)))
        .filter(_ => group > from && at(group + 1) == "by")
        .map { k =>
          val alias = ts(same(k + 4)).text
          val expr = sqlText.substring(ts(same(k + 1)).end, ts(same(k + 2)).start).trim
          val fromEnd = ts(same.drop(from + 1)
            .find(j => clauseStart(ts(j).lower) || ts(j).lower == "prewhere").get).start
          sqlText.substring(0, ts(same(k)).start) + alias +
            sqlText.substring(ts(same(k + 4)).end, fromEnd) +
            s"ARRAY JOIN $expr AS $alias " + sqlText.substring(fromEnd)
        }
    }
    if (hits.hasNext) rewriteArrayJoinGroupAlias(hits.next()) else sqlText
  }

  /** `[LEFT] ARRAY JOIN` as a clause (ClickHouse's explode):
    *
    *   - `ARRAY JOIN <expr> AS x` → `LATERAL VIEW [OUTER] explode(<expr>)
    *     AS x` (a new column beside the source row, CH's aliased form);
    *   - `ARRAY JOIN <col>` (bare column, no alias) → the relation
    *     becomes `(SELECT * EXCEPT (col), explode[_outer](col) AS col
    *     FROM <table>) AS <alias>` — ClickHouse REPLACES the array
    *     column with its elements, and a LATERAL VIEW alias of the same
    *     name would be ambiguous, so the rewrite replaces it too.
    *
    * Multiple comma-separated arrays (CH iterates them in lockstep) are
    * not supported — the rewrite fails loudly rather than producing a
    * cross product.
    */
  private def rewriteArrayJoin(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "array" && ts.lift(i + 1).exists(n =>
        n.lower == "join" && n.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((aj, i)) =>
        val d = aj.depth
        val left = i > 0 && ts(i - 1).lower == "left" && ts(i - 1).depth == d
        val start = if (left) ts(i - 1) else aj
        // the array expression: tokens after JOIN until the next
        // same-depth clause/join keyword or shallower depth
        val stops = clauseStart ++ Set("join", "inner", "left", "right",
          "full", "cross", "prewhere", "array", "on", "using")
        val exprToks = ts.drop(i + 2).takeWhile(t =>
          t.depth > d || (t.depth == d && !stops(t.lower)))
        if (exprToks.isEmpty)
          throw new IllegalArgumentException("ARRAY JOIN: missing array expression")
        if (exprToks.exists(t => t.depth == d && t.text == ","))
          throw new IllegalArgumentException(
            "ARRAY JOIN over multiple arrays (lockstep iteration) is not supported")
        val exprEnd = exprToks.last.end
        val explodeFn = if (left) "explode_outer" else "explode"
        val lateral = if (left) "LATERAL VIEW OUTER" else "LATERAL VIEW"
        val asIdx = exprToks.lastIndexWhere(t => t.depth == d && t.lower == "as")
        val replaced =
          if (asIdx >= 0 && asIdx == exprToks.length - 2 && isIdent(exprToks.last)) {
            // aliased form → LATERAL VIEW
            val expr = sqlText.substring(exprToks.head.start, exprToks(asIdx).start).trim
            val alias = exprToks.last.text
            sqlText.substring(0, start.start) +
              s"$lateral $explodeFn($expr) AS $alias" +
              sqlText.substring(exprEnd)
          } else if (exprToks.length == 1 && isIdent(exprToks.head)) {
            // bare column → column-replacing subquery over the table ref
            val colName = exprToks.head.text
            // preceding relation: FROM|JOIN <table> [AS] [alias]
            val before = ts.take(if (left) i - 1 else i)
            val relEnd = before.length - 1
            var relStart = relEnd
            while (relStart > 0 && !Set("from", "join").contains(before(relStart - 1).lower))
              relStart -= 1
            if (relStart == 0 || !isIdent(before(relStart)))
              throw new IllegalArgumentException(
                "ARRAY JOIN on a bare column needs a named table to rewrite; " +
                  "alias the array expression (ARRAY JOIN expr AS x) instead")
            val table = before(relStart).text
            val alias = before(relEnd).text match {
              case a if !a.equalsIgnoreCase(table) && !a.equalsIgnoreCase("as") => a
              case _ => norm(table)
            }
            sqlText.substring(0, before(relStart).start) +
              s"(SELECT * EXCEPT ($colName), $explodeFn($colName) AS $colName " +
              s"FROM $table) AS $alias" + sqlText.substring(exprEnd)
          } else
            throw new IllegalArgumentException(
              "ARRAY JOIN on an expression needs an alias: ARRAY JOIN <expr> AS x")
        rewriteArrayJoin(replaced)
    }
  }

  /** `SAMPLE k` (fraction ≤ 1) / `SAMPLE n` (row count) after a table
    * reference → `TABLESAMPLE (… PERCENT|ROWS) REPEATABLE (7)`.
    * ClickHouse samples deterministically by the table's SAMPLE BY key;
    * REPEATABLE gives run-to-run determinism (though not CH's exact
    * row selection — no sampling key exists here). Spark's grammar puts
    * TABLESAMPLE before the alias, so `t a SAMPLE k` swaps to
    * `t TABLESAMPLE (…) a`.
    */
  private def rewriteSample(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "sample" && i > 0 && isIdent(ts(i - 1)) &&
        ts(i - 1).depth == t.depth &&
        ts.lift(i + 1).exists(n => n.depth == t.depth &&
          Character.isDigit(n.text.charAt(0)))
    }
    hit match {
      case None => sqlText
      case Some((sm, i)) =>
        val num = ts(i + 1)
        val v = num.text.toDouble
        val clause =
          if (v <= 1.0) s"TABLESAMPLE (${v * 100} PERCENT) REPEATABLE (7)"
          else s"TABLESAMPLE (${num.text} ROWS)"
        // is the token before SAMPLE an alias (ident not preceded by
        // FROM/JOIN)? then the sample clause must move before it
        val prevIsAlias = i >= 2 && isIdent(ts(i - 2)) &&
          !Set("from", "join").contains(ts(i - 2).lower) &&
          (ts.lift(i - 3).exists(p => Set("from", "join").contains(p.lower)) ||
            (i >= 3 && ts(i - 3).lower == "as"))
        val replaced =
          if (prevIsAlias)
            sqlText.substring(0, ts(i - 1).start) + clause + " " +
              ts(i - 1).text + sqlText.substring(num.end)
          else
            sqlText.substring(0, sm.start) + clause + sqlText.substring(num.end)
        rewriteSample(replaced)
    }
  }

  /** `LIMIT n BY c1, c2` (ClickHouse per-group row cap) and its offset
    * forms `LIMIT o, n BY …` / `LIMIT n OFFSET o BY …` (skip the first
    * `o` rows of each group, then take `n`): wrap the query block with a
    * ROW_NUMBER partitioned by the BY columns, ordered by the block's
    * ORDER BY (arbitrary within group without one, exactly like
    * ClickHouse), filter to the (o, o+n] rank band, and drop the helper
    * column with `SELECT * EXCEPT`. A trailing plain `LIMIT m` stays on
    * the outer query.
    */
  private def rewriteLimitBy(sqlText: String): String = {
    val ts = lex(sqlText)
    // (offset, n, index of the BY token) when tokens from `limit` at ts(i)
    // spell one of the three LIMIT…BY shapes
    def shape(i: Int): Option[(Long, Long, Int)] = {
      val d = ts(i).depth
      def num(k: Int): Option[Long] = ts.lift(k)
        .filter(t => t.depth == d && Character.isDigit(t.text.charAt(0)))
        .flatMap(t => t.text.toLongOption)
      def kw(k: Int, w: String) =
        ts.lift(k).exists(t => t.depth == d && t.lower == w)
      num(i + 1).flatMap { a =>
        if (kw(i + 2, "by")) Some((0L, a, i + 2))
        else if (ts.lift(i + 2).exists(t => t.text == "," && t.depth == d))
          num(i + 3).collect { case b if kw(i + 4, "by") => (a, b, i + 4) }
        else if (kw(i + 2, "offset"))
          num(i + 3).collect { case b if kw(i + 4, "by") => (b, a, i + 4) }
        else None
      }
    }
    val hit = ts.zipWithIndex.collectFirst {
      case (t, i) if t.lower == "limit" && shape(i).isDefined =>
        (t, i, shape(i).get)
    }
    hit match {
      case None => sqlText
      case Some((lim, i, (off, n, byIdx))) =>
        val d = lim.depth
        // the BY column list: until next shallower token or same-depth
        // LIMIT/clause keyword
        val byToks = ts.drop(byIdx + 1).takeWhile(t =>
          t.depth > d || (t.depth == d && !clauseStart(t.lower) && t.lower != "limit"))
        if (byToks.isEmpty)
          throw new IllegalArgumentException("LIMIT n BY: missing column list")
        val byEnd = byToks.last.end
        val byCols = sqlText.substring(ts(byIdx + 1).start, byEnd).trim
        // enclosing block: nearest SELECT at this depth before LIMIT
        val selIdx = ts.lastIndexWhere(t =>
          t.depth == d && t.lower == "select", i)
        if (selIdx < 0)
          throw new IllegalArgumentException("LIMIT n BY: no enclosing SELECT")
        val sel = ts(selIdx)
        // the block's ORDER BY (between SELECT and LIMIT, same depth)
        val ordIdx = ts.lastIndexWhere(t =>
          t.depth == d && t.lower == "order", i)
        val (bodyEnd, orderText) =
          if (ordIdx > selIdx)
            (ts(ordIdx).start,
              " " + sqlText.substring(ts(ordIdx).start, lim.start).trim)
          else (lim.start, "")
        val windowOrder =
          if (ordIdx > selIdx)
            sqlText.substring(ts(ordIdx).start, lim.start).trim
              .replaceAll("(?i)^order\\s+by", "ORDER BY")
          else s"ORDER BY $byCols"
        val body = sqlText.substring(sel.start, bodyEnd).trim
        // append the rank column to the block's select list (before FROM)
        val fromIdx = ts.indexWhere(t => t.depth == d && t.lower == "from", selIdx)
        if (fromIdx < 0 || fromIdx > i)
          throw new IllegalArgumentException("LIMIT n BY: no FROM in the block")
        val fromOff = ts(fromIdx).start - sel.start
        val bodyWithRank = body.substring(0, fromOff) +
          s", ROW_NUMBER() OVER (PARTITION BY $byCols $windowOrder) AS __ch_lb " +
          body.substring(fromOff)
        val band =
          if (off == 0L) s"__ch_lb <= $n"
          else s"__ch_lb > $off AND __ch_lb <= ${off + n}"
        val replaced = sqlText.substring(0, sel.start) +
          s"SELECT * EXCEPT (__ch_lb) FROM ($bodyWithRank) __ch_lbq " +
          s"WHERE $band" + orderText + sqlText.substring(byEnd)
        rewriteLimitBy(replaced)
    }
  }

  /** `ORDER BY … LIMIT n WITH TIES` — ClickHouse returns the first n
    * rows PLUS every row tying the n-th row's sort key. Spark has no
    * WITH TIES; the exact equivalent is a RANK() band: rank ≤ n admits
    * a row iff its sort-key group starts within the first n positions,
    * which is precisely the ties rule. The block is wrapped so the rank
    * window runs over the block's OUTPUT (the ORDER BY may reference
    * select aliases), the ORDER BY is re-applied for result order, and
    * the helper column is dropped.
    */
  private def rewriteLimitWithTies(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.collectFirst {
      case (t, i) if t.lower == "limit" &&
        ts.lift(i + 1).exists(x => x.depth == t.depth &&
          x.text.forall(Character.isDigit)) &&
        ts.lift(i + 2).exists(x => x.depth == t.depth && x.lower == "with") &&
        ts.lift(i + 3).exists(x => x.depth == t.depth && x.lower == "ties") =>
        (t, i)
    }
    hit match {
      case None => sqlText
      case Some((lim, i)) =>
        val d = lim.depth
        val n = ts(i + 1).text
        // anchor at the FIRST depth-d SELECT: for a set operation
        // (SELECT … UNION ALL SELECT … ORDER BY x LIMIT n WITH TIES)
        // the trailing ORDER BY/LIMIT govern the WHOLE compound, so the
        // RANK() band must wrap every branch — anchoring at the last
        // SELECT would band only the final branch, silently wrong
        val selIdx = ts.indexWhere(t =>
          t.depth == d && t.lower == "select")
        if (selIdx < 0 || selIdx >= i)
          throw new IllegalArgumentException(
            "LIMIT n WITH TIES: no enclosing SELECT")
        val ordIdx = ts.lastIndexWhere(t =>
          t.depth == d && t.lower == "order", i)
        if (ordIdx <= selIdx)
          throw new IllegalArgumentException("LIMIT n WITH TIES requires " +
            "ORDER BY — ties are defined by the sort key")
        val orderText = sqlText.substring(ts(ordIdx).start, lim.start).trim
        val body = sqlText.substring(ts(selIdx).start, ts(ordIdx).start).trim
        val replaced = sqlText.substring(0, ts(selIdx).start) +
          s"SELECT * EXCEPT (__ch_wt) FROM (SELECT *, RANK() OVER " +
          s"($orderText) AS __ch_wt FROM ($body) __ch_wtq) __ch_wtr " +
          s"WHERE __ch_wt <= $n $orderText" +
          sqlText.substring(ts(i + 3).end)
        rewriteLimitWithTies(replaced)
    }
  }

  /** ClickHouse star modifiers. `SELECT * EXCEPT (a, b)` is Spark-native
    * and passes through; this handles the two CH spellings Spark lacks:
    *
    *   - parenless single-column `* EXCEPT c` → `* EXCEPT (c)`;
    *   - `* [EXCEPT (…)] REPLACE (expr AS col, …)` → the star expanded to
    *     the FROM table's explicit column list with each replaced column
    *     rewritten as `expr AS col` IN PLACE (CH keeps the column's
    *     position and name).
    *
    * The REPLACE expansion needs the star's source schema, so it only
    * fires for a single-table FROM (no joins/subqueries at that depth) —
    * anything else fails loudly rather than expanding the wrong schema.
    * The star must be a select item (preceded by SELECT or a comma), so
    * `a * replace(b, 'x', 'y')` — multiplication by the scalar function —
    * is untouched.
    */
  private def rewriteStarModifiers(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.text == "*" &&
        (i > 0 && { val p = ts(i - 1); p.lower == "select" || p.text == "," }) &&
        ts.lift(i + 1).exists { n =>
          n.depth == t.depth &&
            ((n.lower == "except" &&
              // parenless EXCEPT: next token is a bare identifier
              ts.lift(i + 2).exists(c => c.depth == t.depth && isIdent(c))) ||
              (n.lower == "replace" &&
                ts.lift(i + 2).exists(p => p.text == "(" && p.depth == t.depth)))
        }
    }
    val hit2 = hit.orElse {
      // * EXCEPT (…) REPLACE (…): the Spark-native EXCEPT followed by a
      // REPLACE list still needs the full expansion
      ts.zipWithIndex.find { case (t, i) =>
        t.text == "*" &&
          (i > 0 && { val p = ts(i - 1); p.lower == "select" || p.text == "," }) &&
          ts.lift(i + 1).exists(n => n.lower == "except" && n.depth == t.depth) &&
          ts.lift(i + 2).exists(p => p.text == "(" && p.depth == t.depth) && {
            val close = ts.indexWhere(x => x.text == ")" && x.depth == t.depth, i + 2)
            close > 0 && ts.lift(close + 1).exists(r =>
              r.lower == "replace" && r.depth == t.depth)
          }
      }
    }
    hit2 match {
      case None => sqlText
      case Some((star, i)) =>
        val d = star.depth
        // parse EXCEPT list (parenless or parenthesized)
        var j = i + 1
        var excluded = Set.empty[String]
        if (ts.lift(j).exists(_.lower == "except")) {
          if (ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d)) {
            val close = ts.indexWhere(x => x.text == ")" && x.depth == d, j + 1)
            excluded = ts.slice(j + 2, close).filter(isIdent)
              .map(_.text.toLowerCase(java.util.Locale.ROOT)).toSet
            j = close + 1
          } else {
            excluded = Set(ts(j + 1).text.toLowerCase(java.util.Locale.ROOT))
            j = j + 2
          }
        }
        val hasReplace = ts.lift(j).exists(r =>
          r.lower == "replace" && r.depth == d &&
            ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d))
        if (!hasReplace) {
          // parenless EXCEPT only → parenthesize for Spark
          val exceptTok = ts(i + 1)
          val colTok = ts(i + 2)
          return rewriteStarModifiers(
            sqlText.substring(0, exceptTok.start) +
              s"EXCEPT (${colTok.text})" + sqlText.substring(colTok.end),
            columnsOf)
        }
        // REPLACE list: top-level comma-split `expr AS col` items
        val open = j + 1
        val close = ts.indexWhere(x => x.text == ")" && x.depth == d, open)
        if (close < 0)
          throw new IllegalArgumentException("* REPLACE: unclosed list")
        val inner = ts.slice(open + 1, close)
        val items = {
          val buf = Vector.newBuilder[Vector[Tok]]
          var cur = Vector.empty[Tok]
          inner.foreach { t =>
            if (t.text == "," && t.depth == d + 1) { buf += cur; cur = Vector.empty }
            else cur = cur :+ t
          }
          buf += cur
          buf.result()
        }
        val replacements: Map[String, String] = items.map { item =>
          val asIdx = item.lastIndexWhere(t => t.depth == d + 1 && t.lower == "as")
          if (asIdx < 0 || asIdx != item.length - 2 || !isIdent(item.last))
            throw new IllegalArgumentException(
              "* REPLACE items must be `expr AS column`")
          val exprText =
            sqlText.substring(item.head.start, item(asIdx).start).trim
          item.last.text.toLowerCase(java.util.Locale.ROOT) -> exprText
        }.toMap
        // the star's source: single plain table in the block's FROM
        val fromIdx = ts.indexWhere(t => t.depth == d && t.lower == "from", i)
        if (fromIdx < 0 || !ts.lift(fromIdx + 1).exists(isIdent) ||
          ts(fromIdx + 1).depth != d)
          throw new IllegalArgumentException(
            "* REPLACE needs a single-table FROM to resolve the schema")
        val table = ts(fromIdx + 1).text
        val joinish = Set("join", "inner", "left", "right", "full", "cross")
        val restOfFrom = ts.drop(fromIdx + 2).takeWhile(t =>
          t.depth > d || (t.depth == d && !clauseStart(t.lower)))
        if (restOfFrom.exists(t => t.depth == d &&
          (t.text == "," || joinish(t.lower))))
          throw new IllegalArgumentException(
            "* REPLACE over a join is not supported — list columns explicitly")
        val cols = columnsOf(table)
        val unknown = (excluded ++ replacements.keySet)
          .diff(cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"* EXCEPT/REPLACE names not in $table: ${unknown.mkString(", ")}")
        val expanded = cols
          .filterNot(c => excluded(c.toLowerCase(java.util.Locale.ROOT)))
          .map { c =>
            replacements.get(c.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(e) => s"$e AS ${q(c)}"
              case None => q(c)
            }
          }.mkString(", ")
        rewriteStarModifiers(
          sqlText.substring(0, star.start) + expanded +
            sqlText.substring(ts(close).end),
          columnsOf)
    }
  }

  /** `[LEFT] ASOF JOIN t [AS a] USING (k1, …, ts)` — ClickHouse's
    * as-of join: equi-match on the leading keys, then the LATEST right
    * row with `t.ts <= left.ts` (CH's default `>=` direction). Rewritten
    * to a LATERAL correlated subquery (`ORDER BY ts DESC LIMIT 1`), which
    * Catalyst decorrelates into the same window-then-join shape the q49
    * operator builds by hand — the SQL text scales exactly like the
    * operator, no per-row re-scan survives in the physical plan. The
    * left relation must be a named table/alias directly before ASOF (its
    * columns anchor the correlation); ON-form ASOF is rejected loudly.
    *
    * Output shape follows CH USING semantics: the left side's columns
    * plus the right side's non-USING columns.
    */
  private def rewriteAsofJoin(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "asof" &&
        ts.lift(i + 1).exists(n => n.depth == t.depth &&
          (n.lower == "join" || (n.lower == "left" &&
            ts.lift(i + 2).exists(j => j.lower == "join" && j.depth == t.depth))))
    }
    hit match {
      case None => sqlText
      case Some((asofTok, i)) =>
        val d = asofTok.depth
        // CH accepts both ASOF LEFT JOIN and LEFT ASOF JOIN
        val leftBefore = i > 0 && ts(i - 1).lower == "left" && ts(i - 1).depth == d
        val leftAfter = ts(i + 1).lower == "left"
        val isLeft = leftBefore || leftAfter
        val joinIdx = if (leftAfter) i + 2 else i + 1
        if (!ts.lift(joinIdx).exists(t => t.lower == "join" && t.depth == d))
          throw new IllegalArgumentException("ASOF: expected JOIN")
        if (!ts.lift(joinIdx + 1).exists(n => isIdent(n) && n.depth == d))
          throw new IllegalArgumentException(
            "ASOF JOIN: only a plain named table is supported on the right")
        val tbl = ts(joinIdx + 1)
        var k = joinIdx + 2
        var ralias = norm(tbl.text)
        if (ts.lift(k).exists(t => t.lower == "as" && t.depth == d) &&
          ts.lift(k + 1).exists(isIdent)) { ralias = ts(k + 1).text; k += 2 }
        else if (ts.lift(k).exists(t => isIdent(t) && t.depth == d)) {
          ralias = ts(k).text; k += 1
        }
        val usingKw = ts.lift(k)
        if (!usingKw.exists(t => t.lower == "using" && t.depth == d))
          throw new IllegalArgumentException(
            "ASOF JOIN needs USING (k…, ts) — ON-form inequality extraction " +
              "is not supported")
        if (!ts.lift(k + 1).exists(p => p.text == "(" && p.depth == d))
          throw new IllegalArgumentException("ASOF JOIN USING: missing (…)")
        val close = ts.indexWhere(x => x.text == ")" && x.depth == d, k + 1)
        val keys = ts.slice(k + 2, close).filter(isIdent).map(_.text)
        if (keys.length < 2)
          throw new IllegalArgumentException(
            "ASOF JOIN USING needs at least one equi key plus the ordering key")
        val eqKeys = keys.dropRight(1)
        val ordKey = keys.last
        // the left relation: FROM|JOIN <table> [AS] [alias] directly before
        val before = ts.take(if (leftBefore) i - 1 else i)
        var relStart = before.length - 1
        while (relStart > 0 && !Set("from", "join").contains(before(relStart - 1).lower))
          relStart -= 1
        if (relStart == 0 || !isIdent(before(relStart)))
          throw new IllegalArgumentException(
            "ASOF JOIN needs a named left table/alias to correlate on")
        val lalias = before.last.text match {
          case a if !a.equalsIgnoreCase(before(relStart).text) &&
            !a.equalsIgnoreCase("as") => a
          case _ => norm(before(relStart).text)
        }
        val rcols = columnsOf(tbl.text)
        val keySet = keys.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val payload = rcols.filterNot(c =>
          keySet(c.toLowerCase(java.util.Locale.ROOT)))
        if (payload.isEmpty)
          throw new IllegalArgumentException(
            s"ASOF JOIN: ${tbl.text} has no columns beyond the USING keys")
        val corr = (eqKeys.map(c => s"${q(c)} = $lalias.${q(c)}") :+
          s"${q(ordKey)} <= $lalias.${q(ordKey)}").mkString(" AND ")
        val sel = payload.map(q).mkString(", ")
        val sub = s"(SELECT $sel FROM ${tbl.text} WHERE $corr " +
          s"ORDER BY ${q(ordKey)} DESC LIMIT 1)"
        // LEFT keeps unmatched left rows (empty lateral → nulls);
        // INNER's empty lateral result drops the row — exactly CH ASOF.
        val joinKind = if (isLeft) "LEFT JOIN LATERAL" else "JOIN LATERAL"
        // splice: replace `[LEFT] ASOF [LEFT] JOIN tbl [alias] USING (…)`
        // with the lateral subquery, aliased to the right table's alias so
        // qualified references (`q.quote`) keep resolving.
        val spliceStart = (if (leftBefore) ts(i - 1) else asofTok).start
        sqlText.substring(0, spliceStart) +
          s"$joinKind $sub AS $ralias ON TRUE" +
          sqlText.substring(ts(close).end)
    }
  }

  /** `[LEFT|INNER] ANY JOIN t [AS a] USING (k1, …)` — ClickHouse's
    * at-most-one-match join. Spark has no ANY join, but deduplicating
    * the right side to one row per join key gives the same shape; the
    * kept row is the lexicographically-least full row (ROW_NUMBER over
    * the key ordered by every column), which is deterministic where
    * ClickHouse's pick is arbitrary. ON-form ANY joins are rejected
    * loudly (the equi-key extraction from a free ON predicate is not
    * worth guessing wrong).
    */
  private def rewriteAnyJoin(sqlText: String,
    columnsOf: String => Seq[String]): String = {
    val ts = lex(sqlText)
    def q(c: String) = "`" + c.stripPrefix("`").stripSuffix("`") + "`"
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "any" &&
        ts.lift(i + 1).exists(n => n.lower == "join" && n.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((anyTok, i)) =>
        val d = anyTok.depth
        if (!ts.lift(i + 2).exists(n => isIdent(n) && n.depth == d))
          throw new IllegalArgumentException(
            "ANY JOIN: only a plain named table is supported on the right")
        val tbl = ts(i + 2)
        // optional [AS] alias
        var k = i + 3
        var alias = norm(tbl.text)
        if (ts.lift(k).exists(t => t.lower == "as" && t.depth == d) &&
          ts.lift(k + 1).exists(isIdent)) { alias = ts(k + 1).text; k += 2 }
        else if (ts.lift(k).exists(t => isIdent(t) && t.depth == d)) {
          alias = ts(k).text; k += 1
        }
        val usingKw = ts.lift(k)
        if (!usingKw.exists(t => t.lower == "using" && t.depth == d))
          throw new IllegalArgumentException(
            "ANY JOIN needs USING (…) — rewrite ON-form joins explicitly")
        if (!ts.lift(k + 1).exists(p => p.text == "(" && p.depth == d))
          throw new IllegalArgumentException("ANY JOIN USING: missing (…)")
        val close = ts.indexWhere(x => x.text == ")" && x.depth == d, k + 1)
        val keys = ts.slice(k + 2, close).filter(isIdent).map(_.text)
        if (keys.isEmpty)
          throw new IllegalArgumentException("ANY JOIN USING: empty key list")
        val cols = columnsOf(tbl.text)
        val sel = cols.map(q).mkString(", ")
        val part = keys.map(q).mkString(", ")
        val ord = cols.map(q).mkString(", ")
        val sub = s"(SELECT $sel FROM (SELECT $sel, ROW_NUMBER() OVER " +
          s"(PARTITION BY $part ORDER BY $ord) AS __ch_any FROM ${tbl.text}) " +
          s"__ch_anyq WHERE __ch_any = 1)"
        val replaced = sqlText.substring(0, anyTok.start) +
          "JOIN " + sub + " AS " + alias + " " +
          sqlText.substring(usingKw.get.start)
        rewriteAnyJoin(replaced, columnsOf)
    }
  }

  /** `GROUP BY c1, … WITH ROLLUP` / `WITH CUBE` — ClickHouse's grouping
    * modifiers (prefix subtotal levels / all key subsets). Rewritten to
    * the ANSI `GROUP BY ROLLUP(…)` / `CUBE(…)` forms, which carry NULL
    * subtotal keys — CH's own rendering under `group_by_use_nulls = 1`
    * (its legacy default fills type defaults instead; migrations flip
    * the setting precisely to get the ANSI behavior this rewrite emits).
    */
  private def rewriteRollupCube(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "with" && ts.lift(i + 1).exists(n =>
        (n.lower == "rollup" || n.lower == "cube") && n.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((wt, wi)) =>
        val d = wt.depth
        val fn = ts(wi + 1).lower.toUpperCase(java.util.Locale.ROOT)
        val byIdx = ts.lastIndexWhere(t => t.depth == d && t.lower == "by", wi)
        if (byIdx <= 0 || ts(byIdx - 1).lower != "group" ||
          ts(byIdx - 1).depth != d)
          throw new IllegalArgumentException(s"WITH $fn: no enclosing GROUP BY")
        val keys = sqlText.substring(ts(byIdx).end, wt.start).trim
        if (keys.isEmpty)
          throw new IllegalArgumentException(s"WITH $fn: empty GROUP BY key list")
        rewriteRollupCube(
          sqlText.substring(0, ts(byIdx).end) + s" $fn($keys)" +
            sqlText.substring(ts(wi + 1).end))
    }
  }

  /** `ORDER BY expr COLLATE 'locale' [ASC|DESC]` — ClickHouse's
    * locale-aware ordering (documented case-insensitive). Spark 4's ICU
    * collations express the same thing, so the rewrite wraps the sort
    * expression as `collate(expr, '<locale>_CI')` and erases the COLLATE
    * clause; ASC/DESC/NULLS ordering stays outside the wrapper. The
    * locale literal passes through (`-` normalized to `_`), so any ICU
    * language tag Spark recognizes works; an unknown tag fails loudly in
    * Spark's collation resolver rather than silently sorting binary.
    */
  private def rewriteCollate(sqlText: String): String = {
    val ts = lex(sqlText)
    // the CH postfix operator is COLLATE followed by a quoted literal
    // (opaque to the lexer, so the raw span between COLLATE and the next
    // token starts with a quote); the collate(…) FUNCTION call this
    // rewrite emits has `(` right after and is skipped
    val i = ts.indices.find { k =>
      ts(k).lower == "collate" && {
        val spanEnd = ts.lift(k + 1).map(_.start).getOrElse(sqlText.length)
        sqlText.substring(ts(k).end, spanEnd).trim.startsWith("'")
      }
    }.getOrElse(-1)
    if (i < 0) return sqlText
    val t = ts(i)
    val d = t.depth
    val litSpanEnd = ts.lift(i + 1).map(_.start).getOrElse(sqlText.length)
    val raw = sqlText.substring(t.end, litSpanEnd)
    val lit = raw.trim
    if (!(lit.length >= 2 && lit.startsWith("'") && lit.endsWith("'")))
      throw new IllegalArgumentException(
        "COLLATE: expected a quoted locale literal")
    val locale = lit.substring(1, lit.length - 1).replace('-', '_')
    val litStop = t.end + raw.indexOf('\'') + lit.length
    // sort-expression start: walk back to the previous same-depth
    // boundary (a list comma or the BY keyword; a shallower token means
    // we left the enclosing parenthesis)
    var k = i - 1
    while (k >= 0 && (ts(k).depth > d || (ts(k).depth == d &&
      ts(k).text != "," && ts(k).lower != "by"))) k -= 1
    if (k < 0 || ts(k).lower != "by" && ts(k).text != ",")
      throw new IllegalArgumentException("COLLATE: not inside an ORDER BY list")
    val exprStart = ts(k + 1).start
    rewriteCollate(
      sqlText.substring(0, exprStart) + "collate(" +
        sqlText.substring(exprStart, t.start).trim +
        s", '${locale}_CI')" + sqlText.substring(litStop))
  }

  /** `GROUP BY c1, … WITH TOTALS` — ClickHouse appends one summary row
    * aggregated over the whole filtered set. `GROUPING SETS ((c1, …), ())`
    * is the EXACT equivalent (unlike ROLLUP, which would add partial
    * levels for multi-column keys); the totals row carries NULL group
    * keys, as CH renders it.
    */
  private def rewriteWithTotals(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "with" &&
        ts.lift(i + 1).exists(n => n.lower == "totals" && n.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((wt, wi)) =>
        val d = wt.depth
        val byIdx = ts.lastIndexWhere(t => t.depth == d && t.lower == "by", wi)
        if (byIdx <= 0 || ts(byIdx - 1).lower != "group" ||
          ts(byIdx - 1).depth != d)
          throw new IllegalArgumentException("WITH TOTALS: no enclosing GROUP BY")
        val keys = sqlText.substring(ts(byIdx).end, wt.start).trim
        if (keys.isEmpty)
          throw new IllegalArgumentException("WITH TOTALS: empty GROUP BY key list")
        rewriteWithTotals(
          sqlText.substring(0, ts(byIdx).end) +
            s" GROUPING SETS (($keys), ())" +
            sqlText.substring(ts(wi + 1).end))
    }
  }

  /** `FROM numbers(n)` / `numbers(offset, n)` — ClickHouse's constant
    * integer-series table function (its column is `number`); Spark's
    * equivalent is `range(...)` with column `id`, so the rewrite wraps it
    * in a renaming subquery. `system.numbers`-style unbounded reads are
    * rejected loudly.
    */
  private def rewriteNumbers(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "numbers" &&
        i > 0 && Set("from", "join", ",").contains(ts(i - 1).lower) &&
        ts.lift(i + 1).exists(p => p.text == "(" && p.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((nt, i)) =>
        val d = nt.depth
        val close = ts.indexWhere(x => x.text == ")" && x.depth == d, i + 1)
        if (close < 0)
          throw new IllegalArgumentException("numbers(: unclosed argument list")
        val args = ts.slice(i + 2, close).filter(_.text != ",").map(_.text)
        if (args.isEmpty || args.length > 2 ||
          !args.forall(a => Character.isDigit(a.charAt(0))))
          throw new IllegalArgumentException(
            "numbers(...) needs 1-2 numeric literals (n | offset, n)")
        val rangeArgs =
          if (args.length == 1) args.head
          else s"${args.head}, ${args.head.toLong + args(1).toLong}"
        // keep an existing alias if present; default to `numbers`
        val hasAlias =
          ts.lift(close + 1).exists(a => isIdent(a) && a.depth == d) ||
            (ts.lift(close + 1).exists(a => a.lower == "as") &&
              ts.lift(close + 2).exists(isIdent))
        val aliasSuffix = if (hasAlias) "" else " numbers"
        rewriteNumbers(
          sqlText.substring(0, nt.start) +
            s"(SELECT id AS number FROM range($rangeArgs))$aliasSuffix" +
            sqlText.substring(ts(close).end))
    }
  }

  /** `ORDER BY c WITH FILL [FROM f] [TO t] [STEP s]` — ClickHouse's
    * gap-filling sort: rows for missing ordering-key values are
    * synthesized over the series [FROM, TO) (defaults: the query's own
    * min..max inclusive, step 1). Rewritten to
    * `original UNION ALL (series ANTI JOIN original)` + outer ORDER BY —
    * a broadcast-size series and one anti join, nothing quadratic.
    *
    * Divergence, documented loudly: synthesized rows carry NULL in the
    * non-ordering columns (a text rewriter cannot know column types;
    * ClickHouse fills type defaults like 0/''). Scope: one numeric
    * ordering key, literal FROM/TO/STEP, explicit aliased select items —
    * anything else fails loudly rather than guessing.
    */
  private def rewriteWithFill(sqlText: String): String = {
    val ts = lex(sqlText)
    val hit = ts.zipWithIndex.find { case (t, i) =>
      t.lower == "with" &&
        ts.lift(i + 1).exists(n => n.lower == "fill" && n.depth == t.depth)
    }
    hit match {
      case None => sqlText
      case Some((wf, wi)) =>
        val d = wf.depth
        // the ORDER BY this fill belongs to
        val ordIdx = ts.lastIndexWhere(t => t.depth == d && t.lower == "order", wi)
        if (ordIdx < 0 || !ts.lift(ordIdx + 1).exists(_.lower == "by"))
          throw new IllegalArgumentException("WITH FILL: no enclosing ORDER BY")
        val keyToks = ts.slice(ordIdx + 2, wi)
        if (keyToks.length != 1 || !isIdent(keyToks.head))
          throw new IllegalArgumentException(
            "WITH FILL supports a single plain ordering column")
        val key = keyToks.head.text
        // FROM / TO / STEP literals after FILL
        var j = wi + 2
        var from: Option[String] = None
        var to: Option[String] = None
        var step = "1"
        var consumed = ts(wi + 1).end
        def num(i: Int): Option[String] = ts.lift(i).flatMap { t =>
          if (Character.isDigit(t.text.charAt(0))) Some(t.text)
          else if (t.text == "-" && ts.lift(i + 1).exists(n =>
            Character.isDigit(n.text.charAt(0)))) Some("-" + ts(i + 1).text)
          else None
        }
        var advanced = true
        while (advanced) {
          advanced = false
          ts.lift(j).map(_.lower) match {
            case Some("from") =>
              from = num(j + 1)
              if (from.isEmpty) throw new IllegalArgumentException(
                "WITH FILL FROM must be a numeric literal")
              j += (if (ts(j + 1).text == "-") 3 else 2)
              consumed = ts(j - 1).end; advanced = true
            case Some("to") =>
              to = num(j + 1)
              if (to.isEmpty) throw new IllegalArgumentException(
                "WITH FILL TO must be a numeric literal")
              j += (if (ts(j + 1).text == "-") 3 else 2)
              consumed = ts(j - 1).end; advanced = true
            case Some("step") =>
              step = num(j + 1).getOrElse(throw new IllegalArgumentException(
                "WITH FILL STEP must be a numeric literal"))
              j += (if (ts(j + 1).text == "-") 3 else 2)
              consumed = ts(j - 1).end; advanced = true
            case _ =>
          }
        }
        // INTERPOLATE (c1, …): carry-forward fill for the named columns
        // (bare-column CH form — each synthesized row repeats the last
        // real value instead of NULL)
        var interpolated = Set.empty[String]
        if (ts.lift(j).exists(t => t.lower == "interpolate" && t.depth == d) &&
          ts.lift(j + 1).exists(p => p.text == "(" && p.depth == d)) {
          val close = ts.indexWhere(x => x.text == ")" && x.depth == d, j + 1)
          if (close < 0)
            throw new IllegalArgumentException("INTERPOLATE: unclosed list")
          val cols = ts.slice(j + 2, close)
          if (cols.exists(t => !isIdent(t) && t.text != ","))
            throw new IllegalArgumentException(
              "INTERPOLATE supports bare columns (carry-forward); " +
                "AS-expression interpolation is not supported")
          interpolated = cols.filter(isIdent)
            .map(_.text.toLowerCase(java.util.Locale.ROOT)).toSet
          consumed = ts(close).end
          j = close + 1
        }
        // trailing LIMIT (after the fill fragment) moves to the outer query
        val trailing = sqlText.substring(consumed).trim
        if (trailing.nonEmpty && !trailing.toLowerCase(java.util.Locale.ROOT)
          .matches("(limit\\s+\\d+)?;?\\s*"))
          throw new IllegalArgumentException(
            s"WITH FILL: unsupported trailing clause `$trailing`")
        val outerLimit = if (trailing.isEmpty) ""
          else " " + trailing.stripSuffix(";").trim
        // the statement without ORDER BY … WITH FILL … (the inner query)
        val inner = sqlText.substring(0, ts(ordIdx).start).trim
        // select aliases: top-level items between SELECT and FROM
        val selIdx = ts.indexWhere(t => t.depth == d && t.lower == "select")
        val fromIdx = ts.indexWhere(t => t.depth == d && t.lower == "from", selIdx)
        if (selIdx < 0 || fromIdx < 0)
          throw new IllegalArgumentException("WITH FILL: malformed query block")
        val items = {
          val buf = Vector.newBuilder[Vector[Tok]]
          var cur = Vector.empty[Tok]
          ts.slice(selIdx + 1, fromIdx).foreach { t =>
            if (t.text == "," && t.depth == d) { buf += cur; cur = Vector.empty }
            else cur = cur :+ t
          }
          buf += cur
          buf.result()
        }
        val aliases = items.map { item =>
          if (item.isEmpty)
            throw new IllegalArgumentException("WITH FILL: empty select item")
          if (item.length == 1 && isIdent(item.head)) item.head.text
          else if (isIdent(item.last) && item.length >= 2) item.last.text
          else throw new IllegalArgumentException(
            "WITH FILL needs every select item aliased (or a plain column)")
        }
        if (!aliases.exists(_.equalsIgnoreCase(key)))
          throw new IllegalArgumentException(
            s"WITH FILL: ordering column $key must appear in the select list")
        // series bounds: explicit literals, else the query's own min/max
        // (CH defaults — FROM inclusive, TO exclusive, derived max
        // inclusive); the bounds row is computed once and is join-free
        val fromExpr = from.getOrElse("mn")
        val toExpr = to.getOrElse("mx")
        val rawSeries =
          s"SELECT explode(sequence(CAST($fromExpr AS BIGINT), " +
            s"CAST($toExpr AS BIGINT), CAST($step AS BIGINT))) AS __chf_v " +
            s"FROM (SELECT CAST(MIN($key) AS BIGINT) AS mn, " +
            s"CAST(MAX($key) AS BIGINT) AS mx FROM ($inner) __chf_b)"
        val series = to match {
          case Some(t0) => s"(SELECT __chf_v FROM ($rawSeries) __chf_i " +
            s"WHERE __chf_v < $t0) __chf_s"
          case None => s"($rawSeries) __chf_s"
        }
        val unknownInterp = interpolated.diff(
          aliases.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
        if (unknownInterp.nonEmpty)
          throw new IllegalArgumentException(
            s"INTERPOLATE names not in the select list: ${unknownInterp.mkString(", ")}")
        if (interpolated(key.toLowerCase(java.util.Locale.ROOT)))
          throw new IllegalArgumentException(
            "INTERPOLATE cannot target the WITH FILL ordering column")
        val fillSelect = aliases.map { a =>
          if (a.equalsIgnoreCase(key)) s"__chf_v AS $a" else s"NULL AS $a"
        }.mkString(", ")
        // outer projection: interpolated columns carry the last real
        // value forward over the fill order, everything else passes through
        val outerSel =
          if (interpolated.isEmpty) "*"
          else aliases.map { a =>
            if (interpolated(a.toLowerCase(java.util.Locale.ROOT)))
              s"last_value($a, true) OVER (ORDER BY $key " +
                s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $a"
            else a
          }.mkString(", ")
        s"SELECT $outerSel FROM (SELECT * FROM ($inner) __chf_q UNION ALL " +
          s"SELECT $fillSelect FROM $series LEFT ANTI JOIN ($inner) __chf_a " +
          s"ON __chf_a.$key = __chf_v) __chf_u ORDER BY $key$outerLimit"
    }
  }

  /** Fold `PREWHERE p [WHERE w]` into `WHERE (p) AND (w)` / `WHERE p`.
    * PREWHERE in ClickHouse is WHERE plus a storage-stage hint; after
    * Catalyst's pushdown the two are the same plan.
    */
  private def rewritePrewhere(sqlText: String): String = {
    val ts = lex(sqlText)
    val pw = ts.zipWithIndex.find(_._1.lower == "prewhere")
    pw match {
      case None => sqlText
      case Some((p, pi)) =>
        // end of the PREWHERE predicate: next same-depth clause keyword,
        // anything shallower, or end of text
        val after = ts.drop(pi + 1)
        val bound = after.find(t =>
          t.depth < p.depth || (t.depth == p.depth && clauseStart(t.lower)))
        val replaced = bound match {
          case Some(b) if b.lower == "where" && b.depth == p.depth =>
            // PREWHERE p WHERE … → WHERE (p) AND …
            val pred = sqlText.substring(p.end, b.start).trim
            sqlText.substring(0, p.start) +
              s"WHERE ($pred) AND" + sqlText.substring(b.end)
          case _ =>
            sqlText.substring(0, p.start) + "WHERE" + sqlText.substring(p.end)
        }
        rewritePrewhere(replaced)
    }
  }
}

/** ParserInterface wrapper: rewrites ClickHouse dialect text, then
  * delegates to Spark's parser — injected via GraftExtensions so plain
  * `spark.sql("SELECT … FROM t FINAL PREWHERE …")` works on a graft
  * session. Identifier/type parsing delegates untouched.
  */
class ClickHouseSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  private def rw(sqlText: String): String =
    ClickHouseSql.rewrite(sqlText, t => session.table(t).columns.toSeq)

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(rw(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(rw(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
