package graft.sources.postgres

import java.io.DataInputStream
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta.{PgCatalogQueries, PgTransport, PgTransportFactory}
import graft.sqlgen.PgSqlGen
import graft.sqlgen.PgSqlGen.ScanColumn
import graft.types.PgType

/** The `postgres` DataSource V2: parallel ctid-range COPY scans with
  * projection + filter pushdown, and COPY-FROM-STDIN writes.
  *
  * Spark mapping of the reference's `postgres_scan` table function
  * (ref: src/postgres_scanner.cpp:535-560; SURVEY.md §3.1-3.4):
  *
  *   spark.read.format("postgres")
  *     .option("dsn", ...).option("schema", "public").option("table", "t")
  *     [.option("query", "SELECT ...")]    // postgres_query form
  *     [.option("pagesPerTask", "1000")]   // pg_pages_per_task
  *     .load()
  *
  * Scan planning mirrors the reference: relpages / pagesPerTask tasks,
  * each claiming a `ctid BETWEEN '(lo,0)' AND '(hi,0)'` range, last
  * range extended to TID_MAX; partition count is capped by the
  * connection limit (the reference throttles through its 64-connection
  * pool instead — ref: src/postgres_scanner.cpp:332-352,
  * src/storage/postgres_connection_pool.cpp:43-134).
  *
  * Filters are compiled into the remote WHERE clause but also left to
  * Spark to re-evaluate — exactly the reference's conservative contract
  * (host always re-filters; pushdown is a bandwidth optimization,
  * ref: src/postgres_extension.cpp:176-178, SURVEY.md §2.2).
  */
class PostgresDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "postgres"

  override def supportsExternalMetadata(): Boolean = true

  // `load()` asks inferSchema, then getTable with the same options, of
  // one provider instance: keep inferSchema's discovery for that call
  // instead of paying the catalog round trips twice
  private var inferred: Option[(Map[String, String], PostgresTable)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val all = options.asCaseSensitiveMap().asScala.toMap
    val table = PostgresTable.discover(PostgresOptions(all))
    inferred = Some(all -> table)
    table.schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val all = properties.asScala.toMap
    val reuse = inferred.collect {
      case (opts, table) if opts == all && table.schema == schema => table
    }
    inferred = None
    // otherwise re-resolve pg types; the schema arg must match
    reuse.getOrElse(PostgresTable.discover(PostgresOptions(all)))
  }
}

final case class PostgresOptions(all: Map[String, String]) {
  private def get(k: String): Option[String] =
    all.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
  val dsn: String = get("dsn").getOrElse(
    throw new IllegalArgumentException("postgres source requires option 'dsn'"))
  val schema: String = get("schema").getOrElse("public")
  val table: Option[String] = get("table")
  val query: Option[String] = get("query")
  // names + defaults follow the reference's settings
  // (ref: src/postgres_extension.cpp:162-183)
  val pagesPerTask: Long = get("pagesPerTask").map(_.toLong).getOrElse(1000L)
  val useCtidScan: Boolean = get("useCtidScan").forall(_.toBoolean)
  val connectionLimit: Int = get("connectionLimit").map(_.toInt).getOrElse(64)
  val nullByteReplacement: Option[String] = get("nullByteReplacement")
  /** pg_use_binary_copy: off forces the COPY TEXT wire format on writes */
  val useBinaryCopy: Boolean = get("useBinaryCopy").forall(_.toBoolean)
  /** staged writes (default on): tasks COPY into per-task staging
    * tables, promoted atomically in one driver transaction — the Spark
    * shape of the reference's single-transaction insert. Off = each
    * task commits directly (faster, but a failed job can leave partial
    * rows — document accordingly). */
  val stagedWrites: Boolean = get("stagedWrites").forall(_.toBoolean)
  /** pg_array_as_varchar: read arrays as text — the mixed-dimension
    * escape hatch (ref: src/postgres_utils.cpp:84-92) */
  val arrayAsVarchar: Boolean = get("arrayAsVarchar").exists(_.toBoolean)
  /** pg_experimental_filter_pushdown analogue: off = no remote WHERE is
    * generated at all (every filter stays a Spark-side residual). The
    * reference defaults this OFF because its pushdown is experimental;
    * here pushdown is exact-and-re-checked, so the default is on and
    * the toggle is the escape hatch (ref: src/postgres_extension.cpp:
    * 176-178). */
  val filterPushdown: Boolean = get("filterPushdown").forall(_.toBoolean)
  /** vectorized COPY decode (default on): scans whose projected types
    * all map to flat column vectors fill 2048-row ColumnarBatches
    * instead of per-row boxed rows — the analogue of the reference's
    * columnar DataChunk fill (src/postgres_scanner.cpp:430-432). Off
    * forces the row reader everywhere (the escape hatch). */
  val vectorizedRead: Boolean = get("vectorizedRead").forall(_.toBoolean)
  /** pg_connection_cache / pg_debug_show_queries are global settings in
    * the reference; setting the option applies them globally here too */
  val connectionCache: Option[Boolean] = get("connectionCache").map(_.toBoolean)
  val debugShowQueries: Option[Boolean] = get("debugShowQueries").map(_.toBoolean)
  /** READ_ONLY attach (ref: attach_read_only.test): every mutating
    * surface — writes, DDL, indexes, row-level ops — errors host-side
    * before any SQL is sent */
  val readOnly: Boolean = get("readOnly").exists(_.toBoolean)
  /** streaming (readStream): monotonic append-key column driving
    * micro-batch offsets, start position, and backfill parallelism */
  val streamKey: Option[String] = get("streamKey")
  val streamStart: String = get("streamStart").map(_.toLowerCase).getOrElse("earliest")
  val streamTasks: Int = get("streamTasks").map(_.toInt).getOrElse(1)
  /** admission control: max key-interval width per micro-batch */
  val streamMaxKeysPerBatch: Option[Long] = get("streamMaxKeysPerBatch").map(_.toLong)
  require(table.isDefined || query.isDefined,
    "postgres source requires option 'table' or 'query'")
}

object PostgresTable {
  /** Bind the table/query shape from the remote catalog
    * (ref: PostgresBind, src/postgres_scanner.cpp:153-178). */
  def discover(opts: PostgresOptions): PostgresTable = {
    opts.connectionCache.foreach(PgTransportFactory.connectionCacheEnabled = _)
    opts.debugShowQueries.foreach(PgTransportFactory.debugShowQueries = _)
    val t = PgTransportFactory.open(opts.dsn)
    try {
      val cols: Seq[(String, PgType)] = opts.query match {
        case Some(q) =>
          // postgres_query form: bind the result shape remotely via the
          // transport's Describe handshake (PQprepare +
          // PQdescribePrepared, ref: src/postgres_query.cpp:41-86)
          t.describe(q.trim.stripSuffix(";"))
        case None =>
          val info = t.query(PgCatalogQueries.tableInfo(opts.schema, opts.table.get))
          require(info.nonEmpty, s"relation ${opts.schema}.${opts.table.get} not found")
          val raw = info.map { r =>
            r.head -> PgType.fromName(r(1), r(2).toInt, r(3).toInt)
          }
          // pg_type only gives us a name; enum labels and composite
          // fields need their own discovery pass (ref:
          // src/storage/postgres_type_set.cpp:23-82, 84-145). Only pay
          // for it when a column actually resolved to an unknown name.
          val resolved =
            if (raw.exists(c => hasUnknown(c._2))) {
              val registry = loadTypeRegistry(t)
              raw.map { case (n, pt) => n -> resolveUserTypes(pt, registry) }
            } else raw
          // pg_array_as_varchar: read arrays as their text literal via a
          // ::VARCHAR cast — lets mixed-dimension arrays through
          // (ref: src/postgres_utils.cpp:84-92)
          if (opts.arrayAsVarchar) resolved.map {
            case (n, a: PgType.PgArray) =>
              n -> (PgType.PgUnknown("_" + a.elem.typeName): PgType)
            case other => other
          }
          else resolved
      }
      // ctid-range scans are gated on server version: below PG 14 they
      // are inefficient and the reference disables them, collapsing to
      // a single streaming task (ref: src/postgres_scanner.cpp:111-123)
      val version = graft.meta.PgServerVersion.probe(t)
      val pages: Long = opts.table match {
        case Some(tbl) if opts.useCtidScan && version.supportsCtidScan =>
          t.query(PgCatalogQueries.relPages(opts.schema, tbl)).head.head.toLong
        case _ => 0L // query scans stream single-threaded (ref: SetTablePages(0))
      }
      new PostgresTable(opts, cols, pages, version)
    } finally t.close()
  }

  private def hasUnknown(t: PgType): Boolean = t match {
    case _: PgType.PgUnknown => true
    case a: PgType.PgArray => hasUnknown(a.elem)
    case _ => false
  }

  /** name → user-defined type, with composite fields resolved
    * recursively against enums, other composites, and builtins. */
  private[postgres] def loadTypeRegistry(t: PgTransport): Map[String, PgType] = {
    val enums: Map[String, PgType] =
      t.query(PgCatalogQueries.enumTypes)
        .groupBy(_.head)
        .map { case (n, rows) => n -> (PgType.PgEnum(n, rows.map(_(1))): PgType) }
    val compRows: Map[String, Seq[Seq[String]]] =
      t.query(PgCatalogQueries.compositeTypes).groupBy(_.head)
    def buildComposite(name: String, visited: Set[String]): PgType =
      PgType.PgComposite(name, compRows(name).map { r =>
        r(1) -> resolveField(PgType.fromName(r(2), r(3).toInt, r(4).toInt), visited + name)
      })
    def resolveField(pt: PgType, visited: Set[String]): PgType = pt match {
      case PgType.PgUnknown(n) if enums.contains(n) => enums(n)
      case PgType.PgUnknown(n) if compRows.contains(n) && !visited(n) =>
        buildComposite(n, visited)
      case a: PgType.PgArray => a.copy(elem = resolveField(a.elem, visited))
      case other => other
    }
    enums ++ compRows.keys.map(n => n -> buildComposite(n, Set.empty))
  }

  private def resolveUserTypes(pt: PgType, registry: Map[String, PgType]): PgType =
    pt match {
      case PgType.PgUnknown(n) if registry.contains(n) => registry(n)
      case a: PgType.PgArray => a.copy(elem = resolveUserTypes(a.elem, registry))
      case other => other
    }
}

final class PostgresTable(
    val opts: PostgresOptions,
    val pgColumns: Seq[(String, PgType)],
    val pages: Long,
    val serverVersion: graft.meta.PgServerVersion = graft.meta.PgServerVersion.unknown)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.index.SupportsIndex
    with SupportsDelete with SupportsRowLevelOperations {

  import org.apache.spark.sql.connector.catalog.index.TableIndex
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  /** READ_ONLY attach guard (ref: attach_read_only.test) */
  private def assertWritable(what: String): Unit =
    if (opts.readOnly) throw new UnsupportedOperationException(
      s"cannot $what: ${name()} is attached in read-only mode (readOnly=true)")

  /** SQL DELETE fast path: when every predicate compiles to remote SQL,
    * forward one `DELETE ... WHERE` statement instead of scanning
    * (Spark falls back to the row-level rewrite otherwise). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => PgSqlGen.compileFilter(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    assertWritable("DELETE")
    val preds = filters.toSeq.flatMap(PgSqlGen.compileFilter)
    val where = if (preds.isEmpty) "TRUE" else preds.mkString("(", ") AND (", ")")
    val t = PgTransportFactory.open(opts.dsn)
    try t.execute(s"DELETE FROM $qname WHERE $where")
    finally t.close()
  }

  /** Arbitrary-predicate DELETE / UPDATE / MERGE via the delta-based
    * row-level rewrite keyed on `_ctid` (SURVEY §7.1 module 8). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    assertWritable(info.command().toString)
    () => new PostgresRowLevelOperation(this, info.command())
  }

  private def qname: String =
    s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(opts.table.get)}"

  /** CREATE [UNIQUE] INDEX forwarded as SQL
    * (ref: src/storage/postgres_index.cpp:10-77,
    * postgres_index_set.cpp:57-86). */
  override def createIndex(
      indexName: String,
      columns: Array[NamedReference],
      columnsProperties: java.util.Map[NamedReference, java.util.Map[String, String]],
      properties: java.util.Map[String, String]): Unit = {
    assertWritable("CREATE INDEX")
    if (indexExists(indexName))
      throw new org.apache.spark.sql.catalyst.analysis.IndexAlreadyExistsException(
        indexName, s"${opts.schema}.${opts.table.get}", None)
    val unique = if ("true".equalsIgnoreCase(properties.getOrDefault("unique", "false")))
      "UNIQUE " else ""
    val cols = columns.map(c => PgSqlGen.quoteIdent(c.fieldNames.mkString("."))).mkString(", ")
    val t = PgTransportFactory.open(opts.dsn)
    try t.execute(
      s"CREATE ${unique}INDEX ${PgSqlGen.quoteIdent(indexName)} ON $qname ($cols)")
    finally t.close()
  }

  override def dropIndex(indexName: String): Unit = {
    assertWritable("DROP INDEX")
    if (!indexExists(indexName))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchIndexException(
        indexName, s"${opts.schema}.${opts.table.get}", None)
    val t = PgTransportFactory.open(opts.dsn)
    try t.execute(s"DROP INDEX ${PgSqlGen.quoteIdent(indexName)}")
    finally t.close()
  }

  override def indexExists(indexName: String): Boolean =
    listIndexes().exists(_.indexName == indexName)

  override def listIndexes(): Array[TableIndex] = {
    val t = PgTransportFactory.open(opts.dsn)
    try t.query(PgCatalogQueries.listIndexes(opts.schema, opts.table.get)).map { r =>
      new TableIndex(r.head, r(1),
        r(2).split(",").map(c => Expressions.column(c.trim): NamedReference),
        java.util.Collections.emptyMap(), new java.util.Properties())
    }.toArray
    finally t.close()
  }

  override def name(): String = {
    // never leak credentials into plan output / error messages
    val shown = graft.meta.PgDsn.redact(opts.dsn)
    opts.table.map(t => s"$shown/${opts.schema}.$t").getOrElse(s"$shown/query")
  }

  override lazy val schema: StructType =
    StructType(pgColumns.map { case (n, t) => StructField(n, PgType.toSpark(t)) })

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  /** hidden `_ctid` row id (ref: SURVEY §1.1 row id) */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name: String = "_ctid"
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "postgres physical row id (page << 16 | row)"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PostgresScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    assertWritable("write")
    new PostgresWriteBuilder(this, info.schema())
  }
}

final class PostgresScanBuilder(table: PostgresTable)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset {

  import org.apache.spark.sql.connector.expressions.{
    NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder}

  private var required: StructType = table.schema
  private var pushedSql: Seq[String] = Nil
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[PushedAggregation] = None
  private var pushedLimit: Option[Int] = None
  private var pushedOffset: Option[Int] = None
  private var pushedOrderSql: Seq[String] = Nil
  private var aggSafeFilters: Boolean = true

  // ------------------------------------------------------------------
  // Exactly-translatable predicates: the remote evaluation provably
  // equals Spark's, so the filter is CONSUMED instead of re-checked
  // host-side — which in turn lets Spark push aggregates beneath a
  // WHERE (a filtered count(*)/sum probe then ships one row per task
  // instead of the raw rows). Conservative whitelist: integer /
  // decimal / date / boolean columns and literals only. Strings stay
  // residual (server collations reorder them), floats stay residual
  // (NaN ordering diverges), timestamps stay residual (session-zone
  // rendering). This refines the reference's always-re-check contract
  // (ref: src/postgres_filter_pushdown.cpp:17-84) where equality of
  // semantics is provable; everything else keeps the conservative
  // re-check.
  // ------------------------------------------------------------------
  private def exactCol(name: String): Boolean =
    table.pgColumns.find(_._1 == name).map(_._2).exists {
      case graft.types.PgType.PgInt2 | graft.types.PgType.PgInt4 |
        graft.types.PgType.PgInt8 | graft.types.PgType.PgBool |
        graft.types.PgType.PgDate => true
      case _: graft.types.PgType.PgNumeric => true
      case _ => false
    }

  private def exactValue(v: Any): Boolean = v match {
    case _: Boolean | _: Short | _: Int | _: Long => true
    case _: java.math.BigDecimal | _: BigDecimal => true
    case _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  private def exactFilter(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => exactCol(a) && v != null && exactValue(v)
      case EqualNullSafe(a, v) => exactCol(a) && (v == null || exactValue(v))
      case GreaterThan(a, v) => exactCol(a) && v != null && exactValue(v)
      case GreaterThanOrEqual(a, v) => exactCol(a) && v != null && exactValue(v)
      case LessThan(a, v) => exactCol(a) && v != null && exactValue(v)
      case LessThanOrEqual(a, v) => exactCol(a) && v != null && exactValue(v)
      case In(a, vs) => exactCol(a) && vs.nonEmpty && vs.forall(v => v != null && exactValue(v))
      case IsNull(a) => exactCol(a)
      case IsNotNull(a) => exactCol(a)
      case And(l, r) => exactFilter(l) && exactFilter(r)
      case Or(l, r) => exactFilter(l) && exactFilter(r)
      // NOT is never exact: SQL's three-valued NOT(NULL)=NULL drops the
      // row, which a host-side re-filter reproduces for free, while a
      // remote evaluator that conflates NULL with false would keep it.
      // Keeping the residual also guards offline `mem:` endpoints that
      // leave negations unbound and serve extra rows.
      case Not(_) => false
      case _ => false
    }
  }

  /** LIMIT/top-N pushdown (beyond the reference, which never limits
    * its COPY scans): each parallel task returns at most `limit` rows
    * of its ctid range, and Spark re-applies the global limit / ordered
    * take — `isPartiallyPushed` stays true. Like the pushed WHERE, this
    * only cuts bytes on the wire; at 100 TB it turns a "LIMIT 100" probe
    * from a full-table COPY into `partitions × 100` rows. Never combined
    * with a pushed aggregate: a remote LIMIT under a partial aggregate
    * could drop groups that Spark's final merge still needs. */
  override def pushLimit(limit: Int): Boolean =
    pushedAgg.isEmpty && { pushedLimit = Some(limit); true }

  /** OFFSET pushdown — beyond the reference, and deliberately scoped:
    * Spark removes its Offset node when this returns true (a FULL
    * push, unlike the partial LIMIT), so it is only correct when ONE
    * task serves the whole scan with a total order — the ad-hoc
    * `query` scan, which plans a single partition. The parallel
    * ctid-range scan refuses: each task skipping `offset` rows would
    * drop offset×partitions rows globally. */
  override def pushOffset(offset: Int): Boolean =
    table.opts.query.isDefined && pushedAgg.isEmpty &&
      { pushedOffset = Some(offset); true }

  /** Partial for parallel ctid scans (each task cuts its own range;
    * Spark re-applies the global limit/order). FULL for the ad-hoc
    * `query` scan: ONE task serves the whole subquery with the pushed
    * ORDER BY/LIMIT applied globally, so Spark can drop its own nodes —
    * which is also what unlocks pushOffset (Spark only fully removes
    * an Offset below a fully-pushed top-N). */
  override def isPartiallyPushed(): Boolean = table.opts.query.isEmpty

  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    val sqls = orders.toSeq.map(sortOrderSql)
    if (sqls.isEmpty || sqls.exists(_.isEmpty)) false
    else {
      pushedOrderSql = sqls.flatten
      pushedLimit = Some(limit)
      true
    }
  }

  /** A sort key is pushed only when its remote ordering provably
    * matches Spark's: integers, decimals, dates, times, timestamps.
    * Text sorts diverge under server collations and floats diverge on
    * NaN placement — those stay host-side (the scan then pushes the
    * plain LIMIT-free form and Spark does the whole top-N). */
  private def sortOrderSql(o: V2SortOrder): Option[String] = o.expression() match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val name = nr.fieldNames.head
      table.pgColumns.find(_._1 == name).map(_._2).filter(topNOrderable).map { _ =>
        val dir = if (o.direction() == SortDirection.ASCENDING) "ASC" else "DESC"
        val nulls =
          if (o.nullOrdering() == NullOrdering.NULLS_FIRST) "NULLS FIRST" else "NULLS LAST"
        s"${PgSqlGen.quoteIdent(name)} $dir $nulls"
      }
    case _ => None
  }

  private def topNOrderable(t: graft.types.PgType): Boolean = t match {
    case graft.types.PgType.PgInt2 | graft.types.PgType.PgInt4 |
      graft.types.PgType.PgInt8 | graft.types.PgType.PgDate |
      graft.types.PgType.PgTime | graft.types.PgType.PgTimestamp |
      graft.types.PgType.PgTimestampTz => true
    case _: graft.types.PgType.PgNumeric => true
    case _ => false
  }

  /** Aggregate pushdown (SURVEY.md §4.1 "optional upgrade" of the
    * reference's count(*)-only optimization): COUNT(*)/COUNT/MIN/MAX/
    * SUM with optional GROUP BY columns are computed remotely per ctid
    * range; Spark merges the partial results. Sums are cast remotely
    * to the type Spark's final merge expects. Scans filtered only by
    * exactly-translated (consumed) predicates push aggregates too —
    * the WHERE travels into the remote aggregate; any residual filter
    * requires the raw rows and blocks the pushdown. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Spark only attempts aggregate pushdown when no residual Filter
    // remains above the scan; combined with the exactness gate this
    // means every remote conjunct under the aggregate evaluates
    // identically on the server
    if (pushedSql.nonEmpty && !aggSafeFilters) return false
    PushedAggregation.translate(aggregation, table.pgColumns) match {
      case Some(agg) => pushedAgg = Some(agg); true
      case None => false
    }
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false // partial: per-partition counts, summed by Spark

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!table.opts.filterPushdown) return filters
    val (sql, _) = PgSqlGen.splitFilters(filters.toSeq)
    pushedSql = sql
    pushed = filters.filter(f => PgSqlGen.compileFilter(f).isDefined)
    // aggregate pushdown stays sound only when every remote conjunct is
    // exact (a non-exact one that Spark can't re-check under an
    // aggregate would change results)
    aggSafeFilters = pushed.forall(exactFilter)
    // exact compilable filters are CONSUMED on table scans; everything
    // else returns as a residual that Spark re-evaluates — for those
    // the remote WHERE is purely a bandwidth optimization (reference
    // behavior: host always re-filters). Query-backed relations
    // (postgres_query) keep the full re-check contract: the inner SQL
    // is opaque, so every filter stays a residual there.
    if (table.opts.query.isDefined) filters
    else filters.filterNot(f => PgSqlGen.compileFilter(f).isDefined && exactFilter(f))
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // with a pushed (partial) aggregate the scan's output schema IS the
    // aggregate schema: group columns followed by partial agg values
    val schema = pushedAgg.map(_.schema).getOrElse(required)
    new PostgresScan(table, schema, pushedSql, pushedAgg, pushedOrderSql, pushedLimit,
      pushedOffset)
  }
}

/** A fully-translated pushed aggregation: remote SQL projection items
  * with their wire types, plus the scan output schema. */
final case class PushedAggregation(
    items: Seq[PushedAggregation.Item],
    groupByCount: Int) {
  def schema: StructType =
    StructType(items.map(i => StructField(i.name, i.sparkType, nullable = true)))
  def scanColumns: Seq[ScanColumn] =
    items.map(i => ScanColumn(i.sql, i.pgType, raw = true))
  def groupBySql: Seq[String] = items.take(groupByCount).map(_.sql)
}

object PushedAggregation {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate._
  import graft.types.PgType._

  final case class Item(sql: String, name: String, pgType: PgType, sparkType: DataType)

  private def colOf(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
    case _ => None
  }

  def translate(
      agg: Aggregation,
      pgColumns: Seq[(String, PgType)]): Option[PushedAggregation] = {
    def pgTypeOf(c: String): Option[PgType] = pgColumns.find(_._1 == c).map(_._2)
    val groups: Seq[Option[Item]] = agg.groupByExpressions.toSeq.map { g =>
      for (c <- colOf(g); pt <- pgTypeOf(c))
        yield Item(PgSqlGen.quoteIdent(c), c, pt, PgType.toSpark(pt))
    }
    val aggs: Seq[Option[Item]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(Item("count(*)", "count(*)", PgInt8, LongType))
      case c: Count if !c.isDistinct =>
        colOf(c.column).map(n =>
          Item(s"count(${PgSqlGen.quoteIdent(n)})", s"count($n)", PgInt8, LongType))
      case m: Min =>
        for (n <- colOf(m.column); pt <- pgTypeOf(n)
             if minMaxSupported(pt))
          yield Item(s"min(${PgSqlGen.quoteIdent(n)})", s"min($n)", pt, PgType.toSpark(pt))
      case m: Max =>
        for (n <- colOf(m.column); pt <- pgTypeOf(n)
             if minMaxSupported(pt))
          yield Item(s"max(${PgSqlGen.quoteIdent(n)})", s"max($n)", pt, PgType.toSpark(pt))
      case sm: Sum if !sm.isDistinct =>
        for (n <- colOf(sm.column); pt <- pgTypeOf(n); item <- sumItem(n, pt))
          yield item
      case _ => None
    }
    val all = groups ++ aggs
    if (all.nonEmpty && all.forall(_.isDefined))
      Some(PushedAggregation(all.map(_.get), groups.length))
    else None
  }

  private def minMaxSupported(t: PgType): Boolean = t match {
    case PgInt2 | PgInt4 | PgInt8 | PgFloat4 | PgFloat8 | PgText | PgVarchar |
      PgDate | PgTimestamp | PgTimestampTz | PgTime => true
    case _: PgNumeric => true
    case _ => false
  }

  /** sum with a remote cast to the type Spark's merge expects
    * (Spark: sum(int)→long, sum(float)→double). Decimal sums are not
    * pushed: Spark re-aggregates a pushed partial as
    * `sum(cast(agg_func_0 as decimal(p,s)))`, a cast back to the
    * column's own type, so any partial sum wider than the column
    * overflows (NUMERIC_VALUE_OUT_OF_RANGE, or NULL without ANSI). */
  private def sumItem(n: String, pt: PgType): Option[Item] = {
    val q = PgSqlGen.quoteIdent(n)
    pt match {
      case PgInt2 | PgInt4 | PgInt8 =>
        Some(Item(s"sum($q)::BIGINT", s"sum($n)", PgInt8, LongType))
      case PgFloat4 | PgFloat8 =>
        Some(Item(s"sum($q)::DOUBLE PRECISION", s"sum($n)", PgFloat8, DoubleType))
      case _ => None
    }
  }
}

final class PostgresScan(
    table: PostgresTable,
    required: StructType,
    pushedSql: Seq[String],
    pushedAgg: Option[PushedAggregation] = None,
    pushedOrderSql: Seq[String] = Nil,
    pushedLimit: Option[Int] = None,
    pushedOffset: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  /** Runtime filter pushdown (beyond the reference): when this scan
    * probes a join whose build side turns out small, Spark hands the
    * build-side key set here before execution and the per-task COPY
    * gains `key IN (...)` — at 100 TB this is the difference between
    * shipping a whole fact table and shipping the rows that can join.
    * Join-generated runtime filters are semi-join conditions, so
    * best-effort remote application is always safe: rows a skipped
    * filter lets through are eliminated by the join itself. Giant IN
    * sets stay host-side (shipping a million-literal WHERE costs more
    * than it saves); the cap mirrors the reference's preference for
    * bounded generated SQL (its DELETE batches flush at 3000 chars). */
  private val RuntimeInMax = 1000

  @volatile private var runtimeSql: Seq[String] = Nil

  override def filterAttributes(): Array[NamedReference] =
    // only columns surviving in this scan's (pruned) output — Spark
    // resolves these against the scan relation and fails on anything
    // it can't find; an aggregate-pushed scan exposes none (its output
    // rows are partial states a row filter must not drop)
    if (pushedAgg.isDefined) Array.empty
    else required.fields.collect {
      case f if table.pgColumns.exists(_._1 == f.name) => Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    // honor filterPushdown=false here too: the option's contract is
    // "no remote WHERE at all" (the escape hatch for servers whose
    // predicate evaluation diverges), and a runtime join filter is
    // still a remote predicate — runtime filters are an optimization,
    // so dropping them only costs extra transferred rows
    runtimeSql =
      if (!table.opts.filterPushdown) Nil
      else filters.toSeq.flatMap {
        case in: org.apache.spark.sql.sources.In if in.values.length > RuntimeInMax =>
          None
        case f => PgSqlGen.compileFilter(f)
      }

  private def allPushedSql: Seq[String] = pushedSql ++ runtimeSql

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** readStream: incremental key-range micro-batches (streamKey option).
    * Statically-pushed filters travel into every micro-batch COPY;
    * pushed aggregates/top-N never reach here (streaming aggregation is
    * stateful Spark-side). */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.PostgresMicroBatchStream(table, required, pushedSql)

  /** held open while partition readers adopt the exported snapshot */
  @volatile private var snapshotLease: Option[graft.meta.PgSnapshotLease] = None

  private def scanColumns: Seq[ScanColumn] = pushedAgg match {
    case Some(agg) => agg.scanColumns
    case None => required.fields.toSeq.map { f =>
      if (f.name == "_ctid") ScanColumn("_ctid", graft.types.PgType.PgCtid)
      else ScanColumn(f.name, table.pgColumns.find(_._1 == f.name).get._2)
    }
  }

  private def groupBySuffix: String = pushedAgg match {
    case Some(agg) if agg.groupBySql.nonEmpty =>
      agg.groupBySql.mkString(" GROUP BY ", ", ", "")
    case _ => ""
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val opts = table.opts
    opts.query match {
      case Some(q) =>
        // single-threaded streaming scan over the subquery form
        Array(PostgresInputPartition(opts.dsn,
          // Spark's pushed top-N limit counts PRE-offset rows; SQL's
          // LIMIT applies after OFFSET, so shrink it by the offset
          PgSqlGen.copyQuerySql(q, scanColumns, allPushedSql, pushedOrderSql,
            pushedLimit.map(l => pushedOffset.fold(l)(o => math.max(0, l - o))),
            pushedOffset),
          None))
      case None =>
        val ranges =
          if (!opts.useCtidScan || table.pages <= 0)
            Seq(PgSqlGen.PageRange(0L, PgSqlGen.TidMax))
          else PgSqlGen.planPageRanges(table.pages, opts.pagesPerTask)
        // cap parallelism at the connection budget: merge adjacent
        // ranges instead of queueing tasks on a saturated pool
        val capped =
          if (ranges.length <= opts.connectionLimit) ranges
          else {
            val per = math.ceil(ranges.length.toDouble / opts.connectionLimit).toInt
            ranges.grouped(per).map(g => PgSqlGen.PageRange(g.head.minPage, g.last.maxPage)).toSeq
          }
        // snapshot-consistent parallel read: export one snapshot inside
        // a REPEATABLE READ transaction that stays open while readers
        // adopt it — an exported snapshot is only valid while the
        // exporting transaction is in progress. The lease releases
        // deterministically once every partition reader has adopted
        // the snapshot (Cleaner on this Scan as the backstop —
        // ref: src/postgres_scanner.cpp:65-100, 280-285). Re-planning
        // the same Scan releases the previous lease instead of
        // leaking it.
        snapshotLease.foreach(_.release())
        snapshotLease = None
        val snapshot: Option[graft.meta.SnapshotRef] =
          if (capped.length > 1 && snapshotSupported(opts.dsn)) {
            val lease = graft.meta.PgSnapshotLease.openFor(this, opts.dsn, capped.length)
            snapshotLease = Some(lease)
            Some(lease.ref)
          } else None
        capped.map { r =>
          val useRange = opts.useCtidScan && table.pages > 0
          PostgresInputPartition(opts.dsn,
            PgSqlGen.copyTableSql(opts.schema, opts.table.get, scanColumns,
              if (useRange) Some((r.minPage, r.maxPage)) else None, allPushedSql,
              pushedAgg.map(_.groupBySql).getOrElse(Nil),
              pushedOrderSql, pushedLimit),
            snapshot)
            : InputPartition
        }.toArray
    }
  }

  /** Snapshot export is skipped on Aurora and on replicas/recovering
    * instances, where exported snapshots are unsupported or meaningless
    * (ref: PostgresGetSnapshot, src/postgres_scanner.cpp:65-100). */
  private def snapshotSupported(dsn: String): Boolean =
    !table.serverVersion.aurora &&
      !graft.meta.PgServerVersion.inRecoveryCached(dsn)

  override def createReaderFactory(): PartitionReaderFactory =
    new PostgresReaderFactory(scanColumns, required, table.opts.vectorizedRead)

  /** ref: cardinality model, src/postgres_scanner.cpp:500-514 */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      if (table.pages > 0) OptionalLong.of(table.pages * 8192L) else OptionalLong.empty()
    override def numRows(): OptionalLong =
      if (table.pages > 0)
        OptionalLong.of(PgSqlGen.estimateRows(table.pages, table.pgColumns.size))
      else OptionalLong.empty()
  }
}

final case class PostgresInputPartition(
    dsn: String, sql: String, snapshot: Option[graft.meta.SnapshotRef])
    extends InputPartition

final class PostgresReaderFactory(
    cols: Seq[ScanColumn], required: StructType, vectorized: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PostgresInputPartition]
    new PostgresPartitionReader(p.dsn, p.sql, p.snapshot, cols, required)
  }

  /** Columnar fast path: only when every projected (pg type → spark
    * target) pair decodes into a flat vector — nested/exotic shapes
    * and count(*)-only NULL projections stay on the row reader. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && cols.nonEmpty &&
      cols.length == required.fields.length &&
      cols.zip(required.fields).forall { case (c, f) =>
        PostgresColumnarReader.supported(c.pgType, f.dataType)
      }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[PostgresInputPartition]
    new PostgresColumnarReader(p.dsn, p.sql, p.snapshot, cols, required)
  }
}

/** Shared scan-open sequence for the row and columnar readers: acquire
  * a pooled connection, adopt the exported snapshot, start the COPY,
  * consume the PGCOPY header. Everything after the acquire runs under
  * a close-on-failure guard: Spark never calls close() on a reader
  * whose CONSTRUCTOR threw, so any unguarded failure here (snapshot
  * adoption, copyOut, header read) would leak the pooled connection
  * and its permit — enough task retries against a flaky server would
  * then exhaust the pool and hang every later scan on the DSN. */
private[postgres] object PgScanOpen {
  def open(dsn: String, sql: String, snapshot: Option[graft.meta.SnapshotRef])
      : (graft.meta.PgTransport, graft.codec.PgBlockInput) = {
    val transport = PgTransportFactory.open(dsn)
    try {
      // adopt the exported snapshot before streaming, then report the
      // adoption so the lease can release once the last reader is in
      // (ref: src/postgres_scanner.cpp:354-383)
      snapshot.foreach { ref =>
        transport.execute(graft.meta.PgCatalogQueries.beginReadOnly)
        transport.execute(graft.meta.PgCatalogQueries.setSnapshot(ref.snapshotId))
        graft.meta.PgSnapshotLease.reportAdoption(ref, sql)
      }
      // Stale-schema detection (the Spark shape of the reference's
      // rebind-on-COLUMN_NOT_FOUND planning hook, ref:
      // src/postgres_extension.cpp:25-46): Spark cannot re-plan a
      // running task, so a scan built from a cached schema that no
      // longer matches the server fails with an actionable pointer at
      // the cache hook instead of a bare server error.
      val d = new graft.codec.PgBlockInput(
        try transport.copyOut(sql)
        catch {
          case e: Exception if e.getMessage != null &&
              (e.getMessage.contains("does not exist") ||
                e.getMessage.toLowerCase.contains("column")) =>
            throw new IllegalStateException(
              s"${e.getMessage} — the remote schema may have changed since this " +
                "table was discovered; invalidate the cached binding " +
                "(PostgresCatalog.invalidateTable/invalidateAll, the " +
                "pg_clear_cache analogue) and re-run", e)
        })
      new graft.codec.PgBinaryReader(Seq.empty).readHeader(d)
      (transport, d)
    } catch {
      case e: Throwable =>
        try transport.close() catch { case _: Exception => () }
        throw e
    }
  }
}

final class PostgresPartitionReader(
    dsn: String,
    sql: String,
    snapshot: Option[graft.meta.SnapshotRef],
    cols: Seq[ScanColumn],
    required: StructType)
    extends PartitionReader[InternalRow] {

  private val reader = new graft.codec.PgBinaryReader(
    cols.map(_.pgType), required.fields.map(_.dataType).toSeq)
  private val (transport, in) = PgScanOpen.open(dsn, sql, snapshot)

  private var current: InternalRow = _

  override def next(): Boolean = {
    if (cols.isEmpty) {
      // count(*)-only scan: SQL projected NULL; consume the 1-field
      // tuples and emit empty rows (ref: postgres_scanner.cpp:204-210)
      val nfields = try in.readShort() catch { case _: java.io.EOFException => return false }
      if (nfields < 0) return false
      var i = 0
      while (i < nfields) {
        val len = in.readInt()
        if (len > 0) in.skipFully(len)
        i += 1
      }
      current = new GenericInternalRow(0)
      true
    } else reader.readRow(in) match {
      case Some(r) => current = r; true
      case None => false
    }
  }

  override def get(): InternalRow = current

  override def close(): Unit = { in.close(); transport.close() }
}

// ------------------------------------------------------------------ //
// Write path: COPY ... FROM STDIN per task
// (ref: src/storage/postgres_insert.cpp:17-239)
// ------------------------------------------------------------------ //

final class PostgresWriteBuilder(table: PostgresTable, writeSchema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new PostgresBatchWrite(table, writeSchema, doTruncate)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new PostgresStreamingWrite(table, writeSchema)
  }
}

/** Streaming sink (writeStream.format("postgres"), append mode):
  * exactly-once epoch commits on top of the staged-write machinery.
  *
  * Each micro-batch's tasks COPY into per-task staging tables; the
  * driver's epoch commit promotes them into the target AND records the
  * epoch id in `__graft_stream_epochs` inside the SAME transaction.
  * A replayed epoch (driver restart re-runs the last uncommitted batch)
  * finds its id already recorded and drops its stagings without
  * promoting — rows land exactly once even though Spark's streaming
  * contract is only at-least-once per epoch. This is NEW functionality
  * relative to the reference (no streaming surface, SURVEY.md §2.4);
  * the single-transaction promote mirrors its one-transaction insert
  * (ref: src/storage/postgres_transaction.cpp:34-50). */
final class PostgresStreamingWrite(table: PostgresTable, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val opts = table.opts
  private val tbl = opts.table.getOrElse(
    throw new IllegalArgumentException("cannot stream into a query-backed relation"))
  private def qname =
    s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(tbl)}"
  private def epochsQname =
    s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent("__graft_stream_epochs")}"
  private val jobId =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** epoch markers kept behind the tail before being trimmed */
  private val EpochRetention = 100L

  private lazy val (colNames, pgTypes): (Seq[String], Seq[PgType]) = {
    val byName = writeSchema.fields.forall(f => table.pgColumns.exists(_._1 == f.name))
    if (byName)
      (writeSchema.fields.toSeq.map(_.name),
        writeSchema.fields.toSeq.map(f => table.pgColumns.find(_._1 == f.name).get._2))
    else {
      require(writeSchema.fields.length == table.pgColumns.length,
        s"positional write arity ${writeSchema.fields.length} != table ${table.pgColumns.length}")
      (table.pgColumns.map(_._1), table.pgColumns.map(_._2))
    }
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val t = PgTransportFactory.open(opts.dsn)
    try {
      t.execute(s"CREATE TABLE IF NOT EXISTS $epochsQname " +
        """("sink" VARCHAR, "epoch_id" BIGINT)""")
      // Sweep staging tables orphaned by a crashed run: this run's
      // jobId is fresh, so stagings from a driver that died between
      // task commit and epoch promote would otherwise accumulate in
      // the schema forever (their rows were never promoted — the
      // replayed epoch re-stages under the new jobId and commits
      // through the marker table). One writer per sink is already the
      // contract (concurrent writers would collide on the epoch
      // marker), so anything matching this sink's staging prefix and
      // not this jobId is dead. The prefix embeds sinkTag(full name)
      // so truncating the table name to 24 chars can never alias two
      // distinct sinks into sweeping each other's live stagings.
      val stgPrefix = s"${tbl.take(24)}_${PgSqlGen.sinkTag(opts.schema, tbl)}_stg_"
      // transition sweep: runs of the pre-sinkTag naming scheme
      // ('<tbl24>_stg_<jobId>') left orphans an upgraded sweep keyed
      // only on the new prefix would never reclaim — match the legacy
      // spelling EXACTLY (prefix + 12-hex jobId, nothing after). A
      // bare prefix match would also hit live stagings of a sink whose
      // table is literally named '<tbl>_stg_x' (they spell
      // '<tbl>_stg_x_<tag>_stg_<job>') and any user table under the
      // prefix — silent data loss; the full-format match cannot,
      // because a current-scheme staging always contains '_<tag>_stg_'
      // before its jobId and user tables don't end in 12 lone hex.
      val legacyRe =
        (java.util.regex.Pattern.quote(s"${tbl.take(24)}_stg_") + "[0-9a-f]{12}").r
      t.query(graft.meta.PgCatalogQueries.listTables(opts.schema))
        .map(_.head)
        .filter(n => (n.startsWith(stgPrefix) && !n.startsWith(s"$stgPrefix$jobId")) ||
          legacyRe.pattern.matcher(n).matches())
        .foreach { stale =>
          t.execute(s"DROP TABLE IF EXISTS " +
            s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(stale)}")
        }
    } finally t.close()
    new PostgresStreamingWriterFactory(opts.dsn, opts.schema, tbl,
      writeSchema, colNames, pgTypes, opts.nullByteReplacement, opts.useBinaryCopy,
      s"${tbl.take(24)}_${PgSqlGen.sinkTag(opts.schema, tbl)}_stg_$jobId")
  }

  private def epochCommitted(t: PgTransport, epochId: Long): Boolean = {
    val in = new graft.codec.PgBlockInput(t.copyOut(
      s"""COPY (SELECT "epoch_id" FROM $epochsQname WHERE """ +
        s"""("sink" = ${PgSqlGen.quoteString(s"${opts.schema}.$tbl")}) AND """ +
        s"""("epoch_id" = $epochId)) TO STDOUT (FORMAT binary)"""))
    try {
      val r = new graft.codec.PgBinaryReader(Seq(PgType.PgInt8))
      r.readHeader(in)
      r.readRow(in).isDefined
    } finally in.close()
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val stagings = messages.toSeq.collect { case m: PgStagedCommit => m.stagingTable }
    val colList = colNames.map(PgSqlGen.quoteIdent).mkString(", ")
    val t = PgTransportFactory.open(opts.dsn)
    try {
      def dropStagings(): Unit = stagings.foreach { st =>
        t.execute(s"DROP TABLE IF EXISTS " +
          s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(st)}")
      }
      if (epochCommitted(t, epochId)) dropStagings() // replayed epoch: no-op
      else {
        t.execute("BEGIN")
        try {
          stagings.foreach { st =>
            val q = s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(st)}"
            t.execute(s"INSERT INTO $qname ($colList) SELECT $colList FROM $q")
            t.execute(s"DROP TABLE $q")
          }
          // record the epoch INSIDE the promote transaction: the marker
          // and the rows become visible atomically, so a crash between
          // them cannot double-apply or drop the epoch
          val out = new java.io.DataOutputStream(t.copyIn(
            s"""COPY $epochsQname ("sink", "epoch_id") FROM STDIN (FORMAT binary)"""))
          val w = new graft.codec.PgBinaryWriter(Seq(PgType.PgVarchar, PgType.PgInt8))
          w.writeHeader(out)
          w.writeRow(out, new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(s"${opts.schema}.$tbl"),
            epochId)))
          w.writeTrailer(out)
          out.close()
          // retention: Spark replays at most the last uncommitted epoch,
          // so markers far behind the tail only cost table bloat — trim
          // them in the same transaction (a replay of a trimmed epoch
          // would re-promote, but those epochs are long committed in the
          // checkpoint log and are never replayed)
          t.execute(s"DELETE FROM $epochsQname WHERE " +
            s"""("sink" = ${PgSqlGen.quoteString(s"${opts.schema}.$tbl")}) AND """ +
            s"""("epoch_id" <= ${epochId - EpochRetention})""")
          t.execute("COMMIT")
        } catch { case e: Throwable => t.execute("ROLLBACK"); throw e }
      }
    } finally t.close()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val stagings = messages.toSeq.collect { case m: PgStagedCommit => m.stagingTable }
    if (stagings.nonEmpty) {
      val t = PgTransportFactory.open(opts.dsn)
      try stagings.foreach { st =>
        try t.execute(s"DROP TABLE IF EXISTS " +
          s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(st)}")
        catch { case _: Exception => () }
      } finally t.close()
    }
  }
}

final class PostgresStreamingWriterFactory(
    dsn: String,
    schema: String,
    table: String,
    writeSchema: StructType,
    colNames: Seq[String],
    pgTypes: Seq[PgType],
    nullByteReplacement: Option[String],
    useBinaryCopy: Boolean,
    stagingPrefix: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new PostgresDataWriter(dsn, schema, table, writeSchema, colNames, pgTypes,
      nullByteReplacement, useBinaryCopy,
      // epoch id in the staging name: a replayed epoch's tasks never
      // collide with the originals still being promoted
      stagingTable = Some(s"${stagingPrefix}_${epochId}_${partitionId}_$taskId"))
}

/** A committed task's staging table, promoted at driver commit. */
final case class PgStagedCommit(stagingTable: String) extends WriterCommitMessage

final class PostgresBatchWrite(
    table: PostgresTable,
    writeSchema: StructType,
    doTruncate: Boolean)
    extends BatchWrite {

  private val opts = table.opts
  private val tbl = opts.table.getOrElse(
    throw new IllegalArgumentException("cannot write to a query-backed relation"))
  private def qname =
    s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(tbl)}"
  private val jobId =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  /** every task of this job stages into `<stagingPrefix>_<part>_<task>` */
  private val stagingPrefix =
    s"${tbl.take(24)}_${PgSqlGen.sinkTag(opts.schema, tbl)}_stg_$jobId"

  private def resolveColumns: (Seq[String], Seq[PgType]) = {
    // by-name when the incoming schema matches table columns;
    // positional otherwise (e.g. INSERT ... VALUES arrives as col1..N)
    val byName = writeSchema.fields.forall(f => table.pgColumns.exists(_._1 == f.name))
    if (byName)
      (writeSchema.fields.toSeq.map(_.name),
        writeSchema.fields.toSeq.map(f => table.pgColumns.find(_._1 == f.name).get._2))
    else {
      require(writeSchema.fields.length == table.pgColumns.length,
        s"positional write arity ${writeSchema.fields.length} != table ${table.pgColumns.length}")
      (table.pgColumns.map(_._1), table.pgColumns.map(_._2))
    }
  }
  private lazy val (colNames, pgTypes) = resolveColumns

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (doTruncate && !opts.stagedWrites) {
      // direct mode truncates up front (old behavior); staged mode
      // defers the truncate into the atomic promote transaction so a
      // failed job never leaves the target emptied
      val t = PgTransportFactory.open(opts.dsn)
      try t.execute(s"TRUNCATE $qname")
      finally t.close()
    }
    new PostgresWriterFactory(opts.dsn, opts.schema, tbl,
      writeSchema, colNames, pgTypes, opts.nullByteReplacement, opts.useBinaryCopy,
      stagingPrefix = if (opts.stagedWrites) Some(stagingPrefix) else None)
  }

  /** The reference's insert runs in ONE catalog transaction
    * (ref: src/storage/postgres_transaction.cpp:34-50). Spark's write
    * tasks each own a connection, so job atomicity is recovered by
    * promoting every task's committed staging table inside a single
    * driver-side transaction: either all rows (and the truncate, for
    * overwrite) land, or none do. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val stagings = messages.toSeq.collect { case m: PgStagedCommit => m.stagingTable }
    if (stagings.nonEmpty) {
      val colList = colNames.map(PgSqlGen.quoteIdent).mkString(", ")
      val t = PgTransportFactory.open(opts.dsn)
      try {
        t.execute("BEGIN")
        try {
          if (doTruncate) t.execute(s"TRUNCATE $qname")
          stagings.foreach { st =>
            val q = s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(st)}"
            t.execute(s"INSERT INTO $qname ($colList) SELECT $colList FROM $q")
            t.execute(s"DROP TABLE $q")
          }
          t.execute("COMMIT")
        } catch { case e: Throwable => t.execute("ROLLBACK"); throw e }
      } finally t.close()
    }
  }

  /** Drops every staging table of this job, not only the ones named in
    * `messages`: Spark hands abort only the commit messages that reached
    * the driver before the job failed, so a task that committed its
    * staging table after that point would otherwise leave it behind. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (opts.stagedWrites) {
      val t = PgTransportFactory.open(opts.dsn)
      try {
        val listed = t.query(PgCatalogQueries.listTables(opts.schema)).map(_.head)
          .filter(_.startsWith(s"${stagingPrefix}_"))
        val named = messages.toSeq.collect { case m: PgStagedCommit => m.stagingTable }
        (listed ++ named).distinct.foreach { st =>
          val q = s"${PgSqlGen.quoteIdent(opts.schema)}.${PgSqlGen.quoteIdent(st)}"
          try t.execute(s"DROP TABLE IF EXISTS $q") catch { case _: Exception => () }
        }
      } finally t.close()
    }
}

final class PostgresWriterFactory(
    dsn: String,
    schema: String,
    table: String,
    writeSchema: StructType,
    colNames: Seq[String],
    pgTypes: Seq[PgType],
    nullByteReplacement: Option[String],
    useBinaryCopy: Boolean = true,
    stagingPrefix: Option[String] = None)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PostgresDataWriter(dsn, schema, table, writeSchema, colNames, pgTypes,
      nullByteReplacement, useBinaryCopy,
      stagingTable = stagingPrefix.map(p => s"${p}_${partitionId}_$taskId"))
}

final class PostgresDataWriter(
    dsn: String,
    schema: String,
    table: String,
    writeSchema: StructType,
    colNames: Seq[String],
    pgTypes: Seq[PgType],
    nullByteReplacement: Option[String],
    useBinaryCopy: Boolean = true,
    stagingTable: Option[String] = None)
    extends DataWriter[InternalRow] {

  private val transport = PgTransportFactory.open(dsn)
  private val colList = colNames.map(PgSqlGen.quoteIdent).mkString(", ")
  private val sparkTypes = writeSchema.fields.map(_.dataType).toSeq

  // binary COPY unless disabled (pg_use_binary_copy) or some column
  // type can't round-trip it — then the text path, like the
  // reference's GetCopyFormat fallback
  // (ref: src/storage/postgres_table_entry.cpp:74-127, 114-118)
  private val format =
    if (!useBinaryCopy) graft.codec.PgCopyFormat.Text
    else graft.codec.PgCopyFormat.forTypes(pgTypes)

  private val binWriter =
    if (format == graft.codec.PgCopyFormat.Binary)
      Some(new graft.codec.PgBinaryWriter(pgTypes, sparkTypes, nullByteReplacement))
    else None
  private val textWriter =
    if (format == graft.codec.PgCopyFormat.Text)
      Some(new graft.codec.PgTextWriter(pgTypes, sparkTypes, nullByteReplacement))
    else None

  // Constructor-time server work runs under a close-on-failure guard:
  // Spark never calls abort()/close() on a writer whose constructor
  // threw, so an unguarded failure here would leak the pooled
  // connection and its permit.
  private val (copyTarget: String, out: java.io.DataOutputStream) =
    try {
      // staged mode: this task COPYs into its own uniquely-named
      // staging table (auto-committed CREATE so the driver's promote
      // transaction can see it); a retried/speculative twin writes a
      // different staging table and only the committed task's message
      // reaches the driver
      val target = stagingTable match {
        case Some(st) =>
          val defs = colNames.zip(pgTypes).map { case (n, pt) =>
            s"${PgSqlGen.quoteIdent(n)} ${PgType.typeString(pt)}"
          }.mkString(", ")
          transport.execute(
            s"CREATE TABLE ${PgSqlGen.quoteIdent(schema)}.${PgSqlGen.quoteIdent(st)} ($defs)")
          st
        case None => table
      }
      // each task's COPY runs inside its own transaction, committed
      // only in commit(): a failed/speculative task's rows must never
      // become visible (the reference's copy is likewise transactional —
      // ref: src/postgres_copy_to.cpp:102-109)
      transport.execute("BEGIN")
      val o = new java.io.DataOutputStream(transport.copyIn(
        s"COPY ${PgSqlGen.quoteIdent(schema)}.${PgSqlGen.quoteIdent(target)} ($colList) " +
          s"FROM STDIN (FORMAT ${if (format == graft.codec.PgCopyFormat.Binary) "binary" else "text"})"))
      binWriter.foreach(_.writeHeader(o))
      (target, o)
    } catch {
      case e: Throwable =>
        try transport.close() catch { case _: Exception => () }
        throw e
    }

  override def write(record: InternalRow): Unit = binWriter match {
    case Some(w) => w.writeRow(out, record)
    case None =>
      out.write(textWriter.get.rowText(record).getBytes("UTF-8"))
      out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    // transport.close() must run even if completing the COPY or the
    // COMMIT throws — the pool's return logic rolls back or discards
    // as appropriate; skipping it would leak the connection and its
    // pool permit for the rest of the JVM
    try {
      binWriter.foreach(_.writeTrailer(out))
      out.close() // completes the COPY, applying the buffered rows
      transport.execute("COMMIT")
    } finally transport.close()
    stagingTable match {
      case Some(st) => PgStagedCommit(st)
      case None => new WriterCommitMessage {}
    }
  }

  /** Discard: the COPY stream is abandoned *without* completing it
    * (closing it would apply the buffered rows; mid-COPY no SQL can be
    * sent, so this is the CopyFail path). Closing the transport with an
    * unfinished COPY makes the pool discard the connection rather than
    * reuse it, and the server aborts the open task transaction with it —
    * a failed/speculative task persists nothing and its retry cannot
    * duplicate (ref: transactional copy, postgres_copy_to.cpp:102-109).
    * A staged task additionally drops its own staging table. */
  override def abort(): Unit = {
    transport.close()
    stagingTable.foreach { st =>
      val t = PgTransportFactory.open(dsn)
      try t.execute(s"DROP TABLE IF EXISTS " +
        s"${PgSqlGen.quoteIdent(schema)}.${PgSqlGen.quoteIdent(st)}")
      catch { case _: Exception => () }
      finally t.close()
    }
  }

  override def close(): Unit = ()
}
