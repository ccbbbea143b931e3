package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** SQL entry point with the reference's statement surface
  * (risinglight `Database::run`, `/root/reference/src/db.rs:84-127`):
  * CREATE TABLE/VIEW/INDEX/FUNCTION, INSERT, DELETE, UPDATE, MERGE,
  * COPY FROM/TO (csv/jsonl/parquet/orc/pg-TEXT), DROP, PRAGMA/SET,
  * EXPLAIN, `\dt`-style sugar, system tables — routed over a
  * parquet-backed managed warehouse; everything else goes straight to
  * `spark.sql` (Catalyst replaces the reference's binder + egg
  * optimizer wholesale). Vector indexes (`USING ivfflat|hnsw`) EXECUTE:
  * the canonical ORDER-BY-distance-LIMIT statement runs the approximate
  * IndexScan tier (see [[vectorIndexScan]]); `CLUSTERED BY` tables keep
  * a bucketed+sorted layout through every write path.
  *
  * Storage model: one immutable parquet directory per table VERSION under
  * `warehouse/.history/<table>/` (INSERT adds files to a new version that links the
  * previous one's — the analogue of the reference's LSM rowset appends;
  * DELETE rewrites the touched files — the analogue of its delete-vector
  * compaction, `src/executor/delete.rs`). Each commit flips the table's
  * current-version pointer, so readers never see a directory change
  * under them (see [[history]]). At cluster scale the same layout
  * partitions by file; no driver state grows with data size.
  */
class Engine(val spark: SparkSession, val warehouse: String) {

  Files.createDirectories(Paths.get(warehouse))
  // cost-based planning on by default: ANALYZE TABLE stats feed join
  // reorder + EXPLAIN row estimates (reference keeps per-table stats
  // always, src/db.rs:140-158)
  spark.conf.set("spark.sql.cbo.enabled", "true")
  // Spark's WITH RECURSIVE safety valve defaults to 1M rows — measured
  // to trip on real path recursion at ~25M rows (SCALING.md soak13)
  // while UnionLoop itself streams fine. Engine sessions open the valve
  // to 100M; `pragma cte_recursion_row_limit = n` tunes it per session,
  // and the limit error names that pragma.
  spark.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
  // pg literal semantics (r17): handled by SqlText.conformLiterals at
  // statement entry — `spark.sql.parser.escapedStringLiterals=true`
  // looks like the switch but ALSO stops collapsing the '' escape
  // (probed: 'it''s' stays two quote chars), so the engine keeps
  // Spark's parser default and instead doubles backslashes inside
  // single-quoted literal content before dispatch.

  /** Engine-wide statement lock. Reads hold the shared side only while
    * they are planned; writers take the exclusive side to commit (plain
    * DML) or for the whole statement (everything else) — see [[run]].
    */
  val stmtLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  /** One writer at a time: every statement that is not a read holds it
    * for its whole run, so the engine's catalog maps only change under
    * it and plain DML can write its new version with [[stmtLock]] free.
    */
  private val writerLock = new java.util.concurrent.locks.ReentrantLock()

  private def exclusively[A](body: => A): A = {
    // the lock does not upgrade: a read taking it would wait on itself
    if (stmtLock.getReadHoldCount > 0)
      throw new IllegalStateException("a read-only statement cannot commit")
    val wl = stmtLock.writeLock
    wl.lock()
    try body finally wl.unlock()
  }

  /** table name → (schema, primary-key columns) */
  private val tables = mutable.LinkedHashMap[String, (StructType, Seq[String])]()
  /** table → exact row count, maintained at zero extra cost: every write
    * path already materializes the rows (appends observe their delta,
    * rewrites observe the full post-state as it writes), so the ledger
    * stays exact without ANALYZE. Pushed into the session catalog as
    * CBO stats after each commit ([[pushStats]]) — join reorder and
    * BroadcastRowGuard's STATIC path then see real `rowCount`, not a
    * bytes/row-width guess. Absent for tables whose count was never
    * established (pre-r14 manifests, rolled-back transactions) until
    * the next rewrite or ANALYZE re-establishes it.
    */
  private val rowCounts = mutable.Map[String, Long]()
  /** One column's ledgered statistics. min/max are externalized strings
    * in CatalogColumnStat's numeric format (the auto path collects them
    * for numeric/date-backed columns only; ANALYZE adoption stores
    * whatever Spark computed, verbatim).
    */
  private case class ColLedger(ndv: Option[Long], min: Option[String],
      max: Option[String], nullCount: Option[Long],
      hist: Option[String] = None)
  /** table → column → stats, the column-level sibling of [[rowCounts]]:
    * restart-safe (manifest), re-pushed into the session catalog on
    * every registration. Fed two ways — `ANALYZE TABLE ... FOR COLUMNS`
    * results are adopted verbatim, and the commit write passes
    * auto-collect NDV/min/max for declared PK and CLUSTERED BY columns
    * as observe metrics on the same job (no second scan). A 12-way join
    * reorder at cluster scale hangs on NDV, not just row counts — this
    * keeps CBO fed without anyone remembering to run ANALYZE.
    */
  private val colStatsLedger =
    mutable.Map[String, mutable.Map[String, ColLedger]]()
  /** view name → SQL text (re-planned at each scan, like the reference) */
  private val views = mutable.LinkedHashMap[String, String]()
  /** function name → (params, body) for bind-time inlining */
  private val functions = mutable.LinkedHashMap[String, (Seq[String], String)]()
  /** index name → (table, column, method, options) — metadata only */
  private val indexes = mutable.LinkedHashMap[String, (String, String, String, String)]()
  /** bucketed tables: name → (bucket column, bucket count). Every write
    * path must honor this — Spark trusts the bucket layout at read time,
    * so a stray unbucketed file would silently mis-join.
    */
  private val buckets = mutable.LinkedHashMap[String, (String, Int)]()
  /** directory-partitioned tables: name → partition columns, in layout
    * order (r18). The 100 TB fact layout: one directory per partition
    * value (`ds=2025-01-01/`), optionally bucketed inside. Partition
    * columns sit LAST in the stored schema (Spark normalizes the catalog
    * entry that way; keeping our copy identical makes positional INSERT,
    * `SELECT *` and the catalog agree). The catalog's partition METADATA
    * is authoritative for scans — every path that changes the directory
    * set re-registers (see [[refresh]]), and scans prune on it
    * (PartitionFilters in EXPLAIN, asserted by EngineSpec).
    */
  private val partitions = mutable.LinkedHashMap[String, Seq[String]]()
  /** pg-11-style zero-rewrite ADD COLUMN DEFAULT (r18): table → column →
    * (fill literal SQL, basenames of files that PREDATE the ALTER).
    * Those files lack the column physically; reads overlay
    * `when(file ∈ set, fill)` so they see the once-evaluated default
    * (pg stores the same "missing value" in pg_attribute), while files
    * written after the ALTER carry real values — an explicit NULL
    * inserted later stays NULL. Correctness never needs the set pruned:
    * a basename absent from the directory simply never matches. The
    * metadata survives rewrites for ARCHIVED versions (time travel
    * reads the same inodes by the same names); the LIVE overlay turns
    * itself off once no live file sits in any set ([[register]]), which
    * also restores `_metadata`-based COW probing.
    */
  private case class MissingFill(lit: String, files: Set[String])
  /** column (lowercase) -> fill GENERATIONS, newest first: DROP COLUMN
    * keeps the history (archived versions between the ADD and the DROP
    * still read the fill through time travel) and a re-ADD of the same
    * name prepends a new generation over its own disjoint file set.
    */
  private val missingFill =
    mutable.LinkedHashMap[String, Map[String, Seq[MissingFill]]]()
  /** tables whose live reads go through the fill overlay temp view; the
    * raw catalog entry then lives under [[rawName]] so catalog stats and
    * ANALYZE still reach a real table
    */
  private val overlayOn = mutable.Set[String]()
  private def rawName(table: String) = s"__graft_raw_$table"
  private def catName(table: String): String =
    if (overlayOn(table)) rawName(table) else table

  /** Apply the missing-value overlay over a frame that sits DIRECTLY on
    * a file-source relation (metadata columns resolve only before any
    * projection): each fill column reads its stored literal for rows
    * whose source file predates its ALTER. Columns absent from the
    * frame (older archived schemas) are skipped by construction.
    */
  private def withMissingFill(table: String, df: DataFrame): DataFrame = {
    val fills = missingFill.getOrElse(table, Map.empty)
    if (fills.isEmpty || !df.schema.fields.exists(f =>
        fills.contains(f.name.toLowerCase))) return df
    df.select(df.schema.fields.map { f =>
      fills.get(f.name.toLowerCase) match {
        case Some(mfs) =>
          mfs.foldRight(col(f.name)) { (mf, acc) =>
            when(col("_metadata.file_name").isInCollection(mf.files),
              expr(mf.lit).cast(f.dataType)).otherwise(acc)
          }.as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
  }
  /** materialized views: name → defining query. The data is a regular
    * `tables` entry (scans read parquet like any table); this map marks
    * the kind (pg_tables, drop-statement routing) and feeds REFRESH.
    */
  private val matviews = mutable.LinkedHashMap[String, String]()

  /** One committed table state: when it landed, what produced it, the
    * schema AT that version (archived snapshots read with this schema, so
    * an empty snapshot and a pre-ADD-COLUMN one both resolve correctly),
    * and the name of its version directory under `.history/<table>`.
    */
  private case class Commit(ts: Long, op: String, ddl: String, dir: String)
  /** table → commit log; the INDEX is the version number (v0 = creation).
    * Every commit writes a NEW immutable directory `.history/<table>/v<N>`,
    * then flips the table's current-version pointer (the log's last
    * entry, persisted in the manifest; the catalog LOCATION re-points at
    * it). Appends hard-link the previous version's files beside the new
    * ones, rewrites link only the files they did not touch (parquet files
    * are immutable here, so a link costs metadata only, never a data
    * copy). The current version and the time-travel versions are the
    * same directories, and no directory a reader may be scanning changes:
    * readers plan against one version and execute with no lock held
    * while writers commit the next (see [[run]]). On an object
    * store the same design keeps a file LIST per version instead of a
    * linked directory — the delta/iceberg shape.
    */
  private val history = mutable.LinkedHashMap[String, Vector[Commit]]()
  /** table → (lowercase column → DEFAULT expression text). Applied when an
    * INSERT omits the column, writes the DEFAULT keyword, or UPDATE SET
    * col = DEFAULT — pg's everyday column-default surface.
    */
  private val defaults = mutable.LinkedHashMap[String, Map[String, String]]()
  /** table → ordered (constraint name, CHECK expression text). Enforced on
    * every write path at the appendTo/rewriteSwap choke points with ZERO
    * extra passes: the same projection the write executes turns a violating
    * row into raise_error (pg 3VL — only a FALSE check violates, NULL
    * passes). NOT NULL rides the same guard from the schema's nullable
    * flags. Like defaults, constraints are current-state metadata: a
    * time-travel read or RESTORE reproduces data and schema, not the
    * constraint set in force at that version.
    */
  private val checks = mutable.LinkedHashMap[String, Vector[(String, String)]]()

  /** A table's version directories (`v<N>`) and the IVM delta
    * recordings of its commits (`d<N>`/`u<N>`).
    */
  private def historyDir(name: String) = Paths.get(s"$warehouse/.history/$name")
  private def versionDir(name: String, v: Int) =
    historyDir(name).resolve(history(name)(v).dir)
  /** The current version's directory — where the catalog entry points. */
  private def tableDir(name: String) =
    versionDir(name, history(name).length - 1).toString
  /** The live directory `warehouse/<table>`: hard links of the current
    * version's files, brought in step at every commit ([[syncLive]]) for
    * whatever reads a table's files directly (a file streaming source,
    * external tools). The engine's own reads never touch it.
    */
  private def liveDir(name: String) = Paths.get(s"$warehouse/$name")

  /** Re-register every view from its SQL text so each scan re-plans over
    * the CURRENT table state (reference semantics: views store SQL, not
    * plans — `src/binder/create_view.rs`). A view created earlier would
    * otherwise pin the parquet file listing captured at creation time and
    * miss subsequent inserts/deletes. Insertion order handles view-of-view
    * chains. Metadata-only cost per statement.
    */
  private def refreshViews(): Unit =
    views.foreach { case (n, body) =>
      // a broken view (e.g. base table dropped) errors only when scanned,
      // not on unrelated statements — its stale registration stays
      try spark.sql(inlineFunctions(rewriteQualify(body))).createOrReplaceTempView(n)
      catch { case _: Exception => }
    }

  /** (Re-)register `name` in the session catalog as an EXTERNAL parquet
    * table over its warehouse directory. A real catalog table (not a temp
    * view) so the native `ANALYZE TABLE ... COMPUTE STATISTICS` works and
    * CBO row estimates flow into EXPLAIN — the analogue of the reference's
    * per-table stats in `src/planner/explain.rs`/`db.rs:140-158`.
    */
  private def register(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"DROP TABLE IF EXISTS `${rawName(name)}`")
    val path = Paths.get(tableDir(name)).toAbsolutePath.toString
    // overlay activity check (r18): the fill overlay is needed only
    // while some LIVE file predates a fill column's ALTER; after any
    // full rewrite the sets go inert and the table registers plainly
    // again (restoring _metadata COW probes). Correctness never depends
    // on this — an absent basename never matches the when().
    val wasOverlay = overlayOn(name)
    val fills0 = missingFill.getOrElse(name, Map.empty)
    val liveActive = fills0.nonEmpty && {
      val liveNames = liveDataFiles(Paths.get(tableDir(name)))
        .map(_.getFileName.toString).toSet
      fills0.values.flatten.exists(_.files.exists(liveNames))
    }
    if (liveActive) overlayOn += name
    else {
      overlayOn -= name
      if (wasOverlay) scala.util.Try(spark.catalog.dropTempView(name))
    }
    val cat = catName(name)
    // a fill column may be declared NOT NULL, but the raw files the
    // overlay patches REALLY read as null — the raw relation must stay
    // nullable (nullable=false over null data is undefined behavior);
    // the overlay restores the declared totality, and writes enforce it
    // through constraintGuard against the engine schema
    val catSchema =
      if (!liveActive) tables(name)._1
      else StructType(tables(name)._1.fields.map(f =>
        if (fills0.contains(f.name.toLowerCase)) f.copy(nullable = true)
        else f))
    (partitions.get(name), buckets.get(name)) match {
      case (None, Some((c, n))) =>
        // bucketed + sorted: co-bucketed joins plan no Exchange and no
        // re-Sort — the planner reads the spec from the catalog entry
        spark.sql(
          s"""CREATE TABLE `$cat` (${catSchema.toDDL}) USING parquet
             |CLUSTERED BY (`$c`) SORTED BY (`$c`) INTO $n BUCKETS
             |LOCATION '$path'""".stripMargin)
      case (Some(ps), bOpt) =>
        // partitioned (optionally bucketed inside each partition dir):
        // the catalog's partition list IS the scan's file index, so the
        // registration re-syncs it from the directories (RECOVER) —
        // swaps that drop or add whole partitions re-enter here
        val bClause = bOpt.map { case (c, n) =>
          s"CLUSTERED BY (`$c`) SORTED BY (`$c`) INTO $n BUCKETS" }
          .getOrElse("")
        spark.sql(
          s"""CREATE TABLE `$cat` (${catSchema.toDDL}) USING parquet
             |PARTITIONED BY (${ps.map(p => s"`$p`").mkString(", ")})
             |$bClause
             |LOCATION '$path'""".stripMargin)
        spark.sql(s"ALTER TABLE `$cat` RECOVER PARTITIONS")
      case (None, None) =>
        spark.catalog.createTable(cat, "parquet", catSchema,
          Map("path" -> path))
    }
    if (liveActive)
      withMissingFill(name, spark.table(cat)).createOrReplaceTempView(name)
    applyMockHint(name)
    pushStats(name) // a re-registration starts statless: restore them
  }

  /** Point the catalog entry at the current version directory. */
  private def refresh(name: String): Unit =
    // a partitioned table's partition list names per-version directories
    // (and a commit can change the partition SET: retention DELETE drops
    // dirs, TRUNCATE empties) — re-register (DROP + CREATE + RECOVER,
    // O(#partitions) metadata). Tables with missing-fill metadata
    // re-register too: a commit may have retired the last pre-ALTER
    // file, flipping the overlay off. Others just move their LOCATION.
    if (partitions.contains(name) || missingFill.contains(name))
      register(name)
    else {
      val cat = spark.sessionState.catalog
      val meta = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      cat.alterTable(meta.copy(storage = meta.storage.copy(locationUri = Some(
        org.apache.spark.sql.catalyst.catalog.CatalogUtils.stringToURI(
          Paths.get(tableDir(name)).toAbsolutePath.toString)))))
      spark.catalog.refreshTable(name)
      applyMockHint(name)
    }

  /** Write the tracked row count (with real on-disk bytes) into the
    * session catalog's stats for `table`, or clear them when the count
    * is unknown — stale stats would mislead the planner worse than none.
    */
  private def pushStats(table: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    try {
      val stats = rowCounts.get(table).map { n =>
        var bytes = 0L
        val dir = Paths.get(tableDir(table))
        if (Files.isDirectory(dir)) {
          val s = Files.walk(dir)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.filter(Files.isRegularFile(_))
              .foreach(p => bytes += Files.size(p))
          } finally s.close()
        }
        val ledger = colStatsLedger.getOrElse(table, mutable.Map.empty)
        val pkCols = tables.get(table).map(_._2).getOrElse(Nil)
        val colStats: Map[String, CatalogColumnStat] =
          (ledger.keys ++ pkCols).toSeq.distinct.flatMap { c =>
            val l = ledger.get(c)
            // a declared PK is unique and non-null BY CONTRACT: its NDV
            // is the exact row count and needs no computation at all
            val ndv =
              if (pkCols.contains(c)) Some(BigInt(n))
              else l.flatMap(_.ndv).map(BigInt(_))
            val nulls =
              if (pkCols.contains(c)) Some(BigInt(0))
              else l.flatMap(_.nullCount).map(BigInt(_))
            // min/max only for types CatalogColumnStat can re-read from
            // the external string form (fromExternalString THROWS for
            // string/binary at plan time — belt over colObsMetrics'
            // braces, in case an old ledger carried one)
            val mmOk = tables.get(table).map(_._1)
              .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
              .exists(f => minMaxableType(f.dataType))
            if (ndv.isEmpty && l.forall(x => x.min.isEmpty && x.max.isEmpty))
              None
            else Some(c -> CatalogColumnStat(ndv,
              if (mmOk) l.flatMap(_.min) else None,
              if (mmOk) l.flatMap(_.max) else None, nulls, None, None,
              // equi-height histogram (ANALYZE-collected, ledgered
              // serialized): CBO's filter/join selectivity on skewed
              // data estimates from bins instead of a uniform NDV guess
              l.flatMap(_.hist).flatMap(h => scala.util.Try(
                org.apache.spark.sql.catalyst.plans.logical
                  .HistogramSerializer.deserialize(h)).toOption)))
          }.toMap
        CatalogStatistics(BigInt(math.max(bytes, 1L)), Some(BigInt(n)),
          colStats)
      }
      spark.sessionState.catalog.alterTableStats(
        TableIdentifier(catName(table)), stats)
    } catch { case _: Exception => } // stats are advisory, never fail a commit
  }

  /** Columns whose NDV/min/max ride every write job as observe metrics.
    * r16: ALL numeric columns under a per-table cap, not just declared
    * PK / CLUSTERED BY — a fact table's dimension FKs are exactly the
    * equi-join keys a 12-way reorder hangs on, and nobody declares them.
    * r17: string/date/timestamp columns join the ride (NDV + nulls;
    * min/max where externalizable). PK/bucket columns keep priority
    * under the cap (their NDV is the strongest CBO signal), then
    * numerics, then string/date; the cap bounds the per-row observe
    * cost on wide tables (2-4 aggregate updates per column per row).
    */
  private val autoStatColCap = 12
  private def autoStatCols(table: String): Seq[String] = {
    val schema = tables.get(table).map(_._1).getOrElse(return Nil)
    val declared = (tables.get(table).map(_._2).getOrElse(Nil) ++
      buckets.get(table).map(_._1)).distinct
    def typ(c: String) = schema.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    def numeric(c: String) =
      typ(c).exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
    // r17: string/date/timestamp keys ride too — a string FK is as
    // common a join key as a numeric one, and its NDV is what the CBO
    // reorder needs (strings contribute NDV + null count only; dates/
    // timestamps also min/max — see colObsMetrics for why)
    def keyish(c: String) = typ(c).exists {
      case StringType | DateType | TimestampType => true
      case _ => false
    }
    val rest = schema.fields.toSeq.map(_.name)
      .filterNot(n => declared.exists(_.equalsIgnoreCase(n)))
    (declared.filter(c => numeric(c) || keyish(c)) ++
      rest.filter(numeric) ++ rest.filter(keyish)).take(autoStatColCap)
  }

  /** The observe metrics the auto-stat columns add to a write job:
    * per column an approx NDV (HLL rides the same pass) and null count;
    * min/max only where CatalogColumnStat can externalize them through
    * literal strings (numeric/date/timestamp/boolean — a string min
    * would make toPlanStat THROW at read time, poisoning every query on
    * the table). A REWRITE job scans the complete post-state anyway, so
    * numeric columns additionally sketch equi-height histogram bin
    * edges (approx_percentile, single-pass) — CBO then estimates skewed
    * predicates from bins without anyone running ANALYZE (r16).
    */
  private val autoHistBins = 64
  private def minMaxableType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case DateType | TimestampType | BooleanType => true
    case _ => false
  }
  private def colObsMetrics(cols: Seq[String], schema: StructType,
      withHist: Boolean = false): Seq[Column] =
    cols.flatMap { c =>
      val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      Seq(approx_count_distinct(col(c)).as(s"__ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul_$c")) ++
        (if (dt.exists(minMaxableType))
          Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
        else Nil) ++
        (if (withHist && dt.exists(
            _.isInstanceOf[org.apache.spark.sql.types.NumericType]))
          Seq(percentile_approx(col(c).cast("double"),
            array((0 to autoHistBins).map(i =>
              lit(i.toDouble / autoHistBins)): _*),
            lit(10000)).as(s"__hist_$c"))
        else Nil)
    }

  private def observedAny(o: org.apache.spark.sql.Observation,
      key: String): Option[Any] =
    try Option(o.get(key)) catch { case _: NoSuchElementException => None }

  /** Fold one write pass's observed column metrics into the ledger.
    * A rewrite saw the COMPLETE post-state → replace; an append saw
    * only the delta → min/max merge, null counts add, and NDV takes
    * the max of old and delta (a lower bound — HLL sketches don't
    * merge through scalar metrics; pg's stats are approximate under
    * churn too, and a PK's NDV never uses this path).
    */
  private def adoptColObs(table: String,
      obs: org.apache.spark.sql.Observation, cols: Seq[String],
      rewrite: Boolean): Unit =
    try {
      if (cols.isEmpty) return
      val ledger = colStatsLedger.getOrElseUpdate(table, mutable.Map.empty)
      cols.foreach { c =>
        val ndv = observedAny(obs, s"__ndv_$c").map(_.asInstanceOf[Long])
        val mn = observedAny(obs, s"__min_$c").map(_.toString)
        val mx = observedAny(obs, s"__max_$c").map(_.toString)
        val nul = observedAny(obs, s"__nul_$c").map(_.asInstanceOf[Long])
        // a rewrite's sketched bin edges become an equi-height histogram:
        // per-bin NDV approximated as total NDV / bins (pg's ANALYZE is a
        // sample-based approximation too; estimates only, never
        // correctness)
        val hist: Option[String] = if (!rewrite) None else
          observedAny(obs, s"__hist_$c").flatMap { raw =>
            scala.util.Try {
              val edges = raw.asInstanceOf[scala.collection.Seq[Any]]
                .map(_.toString.toDouble).toIndexedSeq
              val n = observedAny(obs, "n").map(_.asInstanceOf[Long]).getOrElse(0L)
              val rows = n - nul.getOrElse(0L)
              val binNdv = math.max(1L,
                ndv.getOrElse(1L) / math.max(1, edges.length - 1))
              val bins = edges.sliding(2).map(p =>
                org.apache.spark.sql.catalyst.plans.logical
                  .HistogramBin(p(0), p(1), binNdv)).toArray
              org.apache.spark.sql.catalyst.plans.logical.HistogramSerializer
                .serialize(org.apache.spark.sql.catalyst.plans.logical
                  .Histogram(rows.toDouble / math.max(1, bins.length), bins))
            }.toOption
          }
        val merged =
          if (rewrite) ColLedger(ndv, mn, mx, nul, hist)
          else ledger.get(c) match {
            case Some(old) =>
              // numeric compare when both sides parse; ISO date/
              // timestamp external strings order lexicographically
              def leq(a: String, b: String) = scala.util.Try(
                new java.math.BigDecimal(a)
                  .compareTo(new java.math.BigDecimal(b)) <= 0)
                .getOrElse(a <= b)
              ColLedger(
                (old.ndv ++ ndv).reduceOption(_ max _),
                (old.min ++ mn).reduceOption((a, b) =>
                  if (leq(a, b)) a else b),
                (old.max ++ mx).reduceOption((a, b) =>
                  if (leq(a, b)) b else a),
                (old.nullCount ++ nul).reduceOption(_ + _),
                // pg keeps a histogram until the next ANALYZE refreshes
                // it: appends make it stale-but-useful
                old.hist)
            case None => ColLedger(ndv, mn, mx, nul)
          }
        ledger(c) = merged
      }
      // restart-safety rides the commit's own saveManifest (adoptColObs
      // runs inside the commit on every write path)
    } catch { case _: Exception => } // advisory, never fail a commit

  /** Mocked-small tables (`SET mock_rowcount_<t> = n`) shadow their catalog
    * table with a broadcast-hinted temp view, so the planner treats them as
    * the reference's mocked stats would (`db.rs:176-196`).
    */
  private def applyMockHint(name: String): Unit = mockRowCounts.get(name) match {
    case Some(n) if n <= 100000 =>
      withMissingFill(name, spark.read.schema(tables(name)._1)
        .parquet(tableDir(name))).hint("broadcast").createOrReplaceTempView(name)
    case _ =>
  }

  // ---- statement router ---------------------------------------------------

  // optional bucket tail (extension): CLUSTERED BY (col) INTO n BUCKETS —
  // the warehouse answer to the reference's sorted-by-PK storage contract
  // (SURVEY §4.3): two tables co-bucketed on the join key join with ZERO
  // exchange. The greedy cols group backtracks past the tail.
  private val reCreateTable =
    // lazy column-list group: a greedy (.*) would swallow a trailing
    // `PARTITIONED BY (c)` clause whole (its own parens complete the
    // match); laziness grows until the TAIL parses, and any junk after
    // a too-early close forces the backtrack past nested parens
    """(?is)\s*create\s+table\s+(\w+)\s*\((.*?)\)\s*(?:partitioned\s+by\s*\(([^)]*)\)\s*)?(?:clustered\s+by\s*\(\s*(\w+)\s*\)\s+into\s+(\d+)\s+buckets\s*)?""".r
  // CTAS (pg surface; the reference binder has CREATE TABLE only with a
  // column list): schema comes from the analyzed query, data writes in
  // the same pass, optional partition/bucket layout before AS
  private val reCreateTableAs =
    """(?is)\s*create\s+table\s+(\w+)\s+(?:partitioned\s+by\s*\(([^)]*)\)\s+)?(?:clustered\s+by\s*\(\s*(\w+)\s*\)\s+into\s+(\d+)\s+buckets\s+)?as\s+(.+)""".r
  // optional column-alias list (reference create_view.rs binds
  // `CREATE VIEW v (a, b) AS ...` — tpch/q15.sql `revenue0`)
  private val reCreateView =
    """(?is)\s*create\s+view\s+(\w+)\s*(?:\(([^)]*)\))?\s*as\s+(.*)""".r
  private val reCreateIndex =
    """(?is)\s*create\s+index\s+(\w+)\s+on\s+(\w+)\s*(?:using\s+(\w+))?\s*\((\w+)\)\s*(?:with\s*\((.*)\))?\s*""".r
  // body forms (reference src/binder/create_function.rs): quoted
  // `as '...'`, dollar-quoted `as $$...$$`, or bare `return <expr>`
  private val reCreateFunction =
    """(?is)\s*create\s+function\s+(\w+)\s*\(([^)]*)\)\s*returns\s+\w+\s+language\s+sql\s+(?:as\s+(?:'(.*)'|\$(\w*)\$(.*)\$\4\$)|return\s+(.*))\s*""".r
  private val reInsertValues = """(?is)\s*insert\s+into\s+(\w+)\s*(?:\(([^)]*)\))?\s*(?:overriding\s+(system|user)\s+value\s+)?(values\s*.*|select\s+.*)""".r
  private val reDelete = """(?is)\s*delete\s+from\s+(\w+)(?:\s+where\s+(.*))?\s*""".r
  // extension: the reference binder has no UPDATE arm (src/binder/mod.rs
  // dispatch, 231-268) — we complete the DML triangle
  // SET/WHERE are split quote-aware in `update` (splitSetWhere), not by
  // the regex — a ' where ' inside a string literal must not split
  private val reUpdate =
    """(?is)\s*update\s+(\w+)\s+set\s+(.+)""".r
  // extension: MERGE completes the DML square (pg 15 surface; the
  // reference binder has neither UPDATE nor MERGE). One WHEN MATCHED
  // clause (UPDATE SET or DELETE) and/or one WHEN NOT MATCHED INSERT.
  // ON condition and WHEN clauses are split by the quote/paren/CASE-aware
  // scanner `whenBoundaries` — NOT by regex lookahead, so `CASE WHEN`
  // inside an assignment and 'when ' inside a string literal stay payload.
  // The per-clause regexes below anchor against one already-split clause.
  private val reMerge =
    """(?is)\s*merge\s+into\s+(\w+)\s+using\s+(\w+)\s+on\s+(.+)""".r
  private val reWhenMatchedUpdate =
    """(?is)when\s+matched\s+then\s+update\s+set\s+(.+)""".r
  private val reWhenMatchedDelete =
    """(?is)when\s+matched\s+then\s+delete\s*""".r
  private val reWhenNotMatchedInsert =
    """(?is)when\s+not\s+matched\s+then\s+insert\s*(?:\(([^)]*)\))?\s*values\s*\((.+)\)\s*""".r
  // extension: ALTER TABLE / TRUNCATE (everyday pg DDL the reference
  // binder lacks). ADD/DROP COLUMN are metadata-only (parquet resolves
  // columns by name, so absent columns read NULL and orphaned ones are
  // ignored); RENAME COLUMN rewrites the data through the same swap as
  // DELETE (name-based resolution would null the column otherwise —
  // production-grade column mapping à la iceberg is the zero-rewrite
  // path); RENAME TO moves the directory + every catalog reference.
  private val reAlterAddCol =
    """(?is)\s*alter\s+table\s+(\w+)\s+add\s+column\s+(\w+)\s+(.+)""".r
  private val reAlterDropCol =
    """(?is)\s*alter\s+table\s+(\w+)\s+drop\s+column\s+(\w+)\s*""".r
  private val reAlterRenameCol =
    """(?is)\s*alter\s+table\s+(\w+)\s+rename\s+column\s+(\w+)\s+to\s+(\w+)\s*""".r
  private val reAlterRenameTable =
    """(?is)\s*alter\s+table\s+(\w+)\s+rename\s+to\s+(\w+)\s*""".r
  // constraint maintenance on live tables (pg): ADD validates existing
  // rows with one scan, DROP removes by name, SET NOT NULL validates
  // then flips the schema flag (metadata-only — parquet nullability is
  // advisory, the write-path guard is what enforces)
  private val reAlterAddConstraint =
    """(?is)\s*alter\s+table\s+(\w+)\s+add\s+((?:constraint\s+\w+\s+)?check\s*\(.+)""".r
  private val reAlterDropConstraint =
    """(?is)\s*alter\s+table\s+(\w+)\s+drop\s+constraint\s+(?:(if\s+exists)\s+)?(\w+)\s*""".r
  private val reAlterNotNull =
    """(?is)\s*alter\s+table\s+(\w+)\s+alter\s+(?:column\s+)?(\w+)\s+(set|drop)\s+not\s+null\s*""".r
  private val reTruncate =
    """(?is)\s*truncate\s+(?:table\s+)?(\w+)\s*(restart\s+identity|continue\s+identity)?\s*""".r
  // time travel (extension; delta/iceberg surface): commit log + archived
  // snapshots per table, queryable with VERSION AS OF / TIMESTAMP AS OF
  private val reDescribeHistory =
    """(?is)\s*describe\s+history\s+(\w+)\s*""".r
  private val reVacuum =
    """(?is)\s*vacuum\s+(\w+)(?:\s+retain\s+(\d+)\s+versions?)?\s*""".r
  private val reRestore =
    """(?is)\s*restore\s+table\s+(\w+)\s+to\s+(?:version\s+as\s+of\s+(\d+)|timestamp\s+as\s+of\s+'([^']*)')\s*""".r
  // extension: on-demand warehouse maintenance (the reference's LSM
  // storage compacts in the background, src/storage/secondary; this
  // files-per-table layout compacts when asked)
  private val reOptimize =
    """(?is)\s*optimize\s+(\w+)(?:\s+zorder\s+by\s*\(\s*(\w+)\s*(?:,\s*(\w+)\s*)?\))?(?:\s+into\s+(\d+)\s+files)?\s*""".r
  private val reCopyFrom =
    """(?is)\s*copy\s+(\w+)\s+from\s+'([^']+)'\s*(?:\((.*)\))?\s*""".r
  private val reCopyTo =
    """(?is)\s*copy\s+(\w+)\s+to\s+'([^']+)'\s*(?:\((.*)\))?\s*""".r
  private val reCopyQueryStart = """(?is)^\s*copy\s*\(""".r
  private val reCopyQueryTo =
    """(?is)\s*to\s+'([^']+)'\s*(?:\((.*)\))?\s*""".r
  // extension: SQL-level cursors (pg surface — the psql/ETL counterpart
  // of the wire protocol's suspended portals). DECLARE materializes the
  // result once into a private spill directory and FETCH streams from
  // THAT snapshot — a live scan iterator would pin the source table's
  // file listing, and a DELETE/UPDATE/REFRESH between FETCHes commits
  // through rewriteSwap, deleting the pinned files mid-fetch (the same
  // hazard the server's ResultSpool exists to avoid). Snapshot-at-declare
  // is also pg's cursor visibility. Engine-scoped like prepared
  // statements; CLOSE reclaims the spill dir (an abandoned cursor's dir
  // lives in java.io.tmpdir until the OS tmp sweep — bounded by the
  // declared result size, never the source tables).
  // CursorState/ForwardCursor/ScrollCursor live in Session.scala —
  // cursors are SESSION-scoped (two connections' same-named cursors
  // must not collide); CLOSE reclaims the spill dir, session close
  // reclaims all of the session's (an abandoned cursor's dir lives in
  // java.io.tmpdir until the OS tmp sweep — bounded by the declared
  // result size, never the source tables).
  private val reDeclareCursor =
    """(?is)\s*declare\s+(\w+)\s+(?:binary\s+)?(?:(scroll|no\s+scroll)\s+)?cursor\s+for\s+(.+)""".r
  private val reFetch =
    """(?is)\s*(fetch|move)\s+(?:(next|prior|first|last|all|forward(?:\s+(?:[-+]?\d+|all))?|backward(?:\s+(?:[-+]?\d+|all))?|absolute\s+[-+]?\d+|relative\s+[-+]?\d+|[-+]?\d+)\s+)?(?:from\s+|in\s+)?(\w+)\s*""".r
  private val reCloseCursor = """(?is)\s*close\s+(\w+)\s*""".r

  /** Parse a `WITH name AS ( body ), ... <tail>` list, quote- and
    * paren-aware, returning the members and the tail — but ONLY when at
    * least one member body is DML (the data-modifying-CTE form this
    * engine executes itself). Plain WITH, WITH RECURSIVE, and
    * column-aliased members (`name(a,b) AS ...`) return None and take
    * the native spark.sql path untouched.
    */
  private def parseDmlWith(stmt: String): Option[(Seq[(String, String)], String)] = {
    val s = stmt
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def word(): String = {
      val st = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      s.substring(st, i)
    }
    skipWs()
    if (!word().equalsIgnoreCase("with")) return None
    skipWs()
    val save = i
    if (word().equalsIgnoreCase("recursive")) return None else i = save
    val ctes = mutable.Buffer[(String, String)]()
    var more = true
    while (more) {
      skipWs()
      val name = word()
      if (name.isEmpty) return None
      skipWs()
      if (i < s.length && s(i) == '(') return None // column-aliased member
      if (!word().equalsIgnoreCase("as")) return None
      skipWs()
      if (i >= s.length || s(i) != '(') return None
      var depth = 0
      var q: Char = 0
      val bodyStart = i + 1
      var bodyEnd = -1
      while (i < s.length && bodyEnd < 0) {
        val c = s(i)
        if (q != 0) {
          if (c == q) {
            if (i + 1 < s.length && s(i + 1) == q) i += 1 else q = 0
          }
        } else c match {
          case '\'' | '"' => q = c
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) bodyEnd = i
          case _ =>
        }
        i += 1
      }
      if (bodyEnd < 0) return None
      ctes += ((name, s.substring(bodyStart, bodyEnd)))
      skipWs()
      if (i < s.length && s(i) == ',') i += 1 else more = false
    }
    val tail = s.substring(i).trim
    if (tail.isEmpty) return None
    def isDml(t: String): Boolean = {
      val lw = t.trim.toLowerCase
      lw.startsWith("insert") || lw.startsWith("update") || lw.startsWith("delete")
    }
    // the form is ours when a MEMBER is DML, or the TAIL is (a WITH-
    // wrapped INSERT sent raw to spark.sql would write files behind the
    // engine's history/layout bookkeeping)
    if (ctes.exists(c => isDml(c._2)) || isDml(tail))
      Some((ctes.toSeq, tail))
    else None
  }

  /** One FETCH/MOVE against a SCROLL cursor: pg direction grammar over
    * the contiguous position column. Every arm is a pruned range scan of
    * the spill ordered asc (forward) or desc (backward) — the snapshot
    * never re-sorts globally after DECLARE. Position semantics follow pg
    * exactly, including FORWARD/BACKWARD 0 re-fetching the current row
    * and over-running clamping to before-first / after-last.
    */
  private def scrollFetch(sc: ScrollCursor, spec: Option[String]): DataFrame = {
    def range(a: Long, b: Long, desc: Boolean): DataFrame = {
      val f = sc.snap.filter(col(sc.ordCol).between(a, b))
      (if (desc) f.orderBy(col(sc.ordCol).desc) else f.orderBy(col(sc.ordCol)))
        .drop(sc.ordCol)
    }
    def none: DataFrame = range(1, 0, desc = false) // empty, right schema
    def current: DataFrame =
      if (sc.pos >= 1 && sc.pos <= sc.total) range(sc.pos, sc.pos, desc = false)
      else none
    def forwardN(n0: Long): DataFrame =
      if (n0 == 0) current
      else {
        // clamp: pg FETCH FORWARD 9223372036854775807 returns the
        // remainder; unclamped, pos + n overflows negative and would
        // return 0 rows while still positioning after-last
        val n = math.min(n0, sc.total + 1)
        val from = sc.pos + 1
        val to = math.min(sc.pos + n, sc.total)
        sc.pos = if (n > sc.total - sc.pos) sc.total + 1 else sc.pos + n
        if (to < from) none else range(from, to, desc = false)
      }
    def backwardN(n: Long): DataFrame =
      if (n == 0) current
      else {
        val to = sc.pos - 1
        val from = math.max(sc.pos - n, 1L)
        sc.pos = math.max(sc.pos - n, 0L)
        if (to < from) none else range(from, to, desc = true)
      }
    def absolute(k: Long): DataFrame =
      if (k > 0) {
        if (k <= sc.total) { sc.pos = k; range(k, k, desc = false) }
        else { sc.pos = sc.total + 1; none }
      } else if (k < 0) {
        val idx = sc.total + k + 1
        if (idx >= 1) { sc.pos = idx; range(idx, idx, desc = false) }
        else { sc.pos = 0; none }
      } else { sc.pos = 0; none }
    def relative(k0: Long): DataFrame =
      if (k0 == 0) current
      else {
        // same saturation as forwardN: |k| beyond the snapshot clamps to
        // the before-first / after-last sentinel instead of overflowing
        val k = math.max(math.min(k0, sc.total + 1), -(sc.total + 1))
        val t = sc.pos + k
        if (t >= 1 && t <= sc.total) { sc.pos = t; range(t, t, desc = false) }
        else if (t > sc.total) { sc.pos = sc.total + 1; none }
        else { sc.pos = 0; none }
      }
    // pg: FETCH FORWARD -n behaves as BACKWARD n (and vice versa) — a
    // signed count routes to the opposite direction instead of reaching
    // forwardN with a negative delta (which would return zero rows and
    // drag the position backward, possibly below 0)
    def signed(t: String): Long =
      BigInt(t).max(BigInt(Long.MinValue) + 1).min(Long.MaxValue).toLong
    def fwd(n: Long): DataFrame = if (n >= 0) forwardN(n) else backwardN(-n)
    def bwd(n: Long): DataFrame = if (n >= 0) backwardN(n) else forwardN(-n)
    def isSignedDigits(t: String): Boolean = {
      val body = if (t.startsWith("-") || t.startsWith("+")) t.drop(1) else t
      body.nonEmpty && body.forall(_.isDigit)
    }
    val s = spec.map(_.toLowerCase.trim.replaceAll("\\s+", " ")).getOrElse("next")
    s match {
      case "next" | "forward" => forwardN(1)
      case "prior" | "backward" => backwardN(1)
      case "first" => absolute(1)
      case "last" => absolute(-1)
      case "all" | "forward all" => forwardN(sc.total + 1)
      case "backward all" => backwardN(sc.pos)
      case d if isSignedDigits(d) => fwd(signed(d))
      case f if f.startsWith("forward ") && isSignedDigits(f.stripPrefix("forward ")) =>
        fwd(signed(f.stripPrefix("forward ")))
      case b if b.startsWith("backward ") && isSignedDigits(b.stripPrefix("backward ")) =>
        bwd(signed(b.stripPrefix("backward ")))
      case a if a.startsWith("absolute ") =>
        absolute(BigInt(a.stripPrefix("absolute ")).max(Long.MinValue + 1)
          .min(Long.MaxValue).toLong)
      case r if r.startsWith("relative ") =>
        relative(BigInt(r.stripPrefix("relative ")).max(Long.MinValue + 1)
          .min(Long.MaxValue).toLong)
      case other =>
        throw new IllegalArgumentException(s"unsupported FETCH direction: $other")
    }
  }

  // extension: pg materialized views — a snapshot table whose defining
  // query is remembered, re-run on demand through the same atomic
  // materialize-then-swap commit as DELETE/UPDATE
  private val reCreateMatView =
    """(?is)\s*create\s+materialized\s+view\s+(\w+)\s+as\s+(.+)""".r
  // CONCURRENTLY is accepted and means what it means in pg — readers are
  // not blocked — because every refresh here already lands as an atomic
  // directory swap readers never observe mid-flight
  private val reRefreshMatView =
    """(?is)\s*refresh\s+materialized\s+view\s+(?:concurrently\s+)?(\w+)\s*""".r
  private val reDropMatView =
    """(?is)\s*drop\s+materialized\s+view\s+(\w+)\s*""".r
  private val reDrop = """(?is)\s*drop\s+(table|view|function)\s+(\w+)\s*""".r
  // pg sequences: CREATE/ALTER/DROP SEQUENCE plus the four classic
  // functions (nextval/currval/setval/lastval) — the surface SERIAL and
  // GENERATED ... AS IDENTITY columns desugar to
  private val reCreateSequence =
    """(?is)\s*create\s+sequence\s+(?:(if\s+not\s+exists)\s+)?(\w+)\s*(.*?)\s*""".r
  private val reAlterSequence =
    """(?is)\s*alter\s+sequence\s+(\w+)\s+(.+?)\s*""".r
  private val reDropSequence =
    """(?is)\s*drop\s+sequence\s+(?:(if\s+exists)\s+)?(\w+)\s*""".r
  private val rePragma = """(?is)\s*pragma\s+(\w+)\s*(?:=\s*(.*))?\s*""".r
  private val reSet = """(?is)\s*set\s+(\S+)\s*=\s*(.*\S)\s*""".r
  // pg spellings without '=': SET TIME ZONE <zone|LOCAL|DEFAULT> and
  // SET [SESSION] <name> TO <value> (pgJDBC/psycopg emit both)
  private val reSetTimeZone = """(?is)\s*set\s+time\s+zone\s+(.+?)\s*""".r
  private val reSetTo =
    """(?is)\s*set\s+(?:session\s+)?(\S+)\s+to\s+(.*\S)\s*""".r
  // pg `SHOW <guc>` (pgJDBC issues SHOW transaction_isolation on
  // getTransactionIsolation; psql \timing scripts SHOW TimeZone). Only
  // recognized GUCs answer here — SHOW TABLES etc. fall through to Spark.
  private val reShowVar = """(?is)\s*show\s+([\w.]+)\s*""".r
  private val reShowTimeZone = """(?is)\s*show\s+time\s+zone\s*""".r
  private val reShowAll = """(?is)\s*show\s+all\s*""".r
  private val showableGucs = Set("timezone", "datestyle", "intervalstyle",
    "extra_float_digits", "application_name", "client_encoding",
    "client_min_messages", "search_path", "transaction_isolation",
    "server_version", "server_version_num", "standard_conforming_strings",
    "integer_datetimes")

  /** Current setting text for one GUC — shared by SHOW, SHOW ALL and
    * `current_setting(...)`. Throws pg's message for an unknown name.
    */
  private def gucValue(key: String): String = {
    val k = key.toLowerCase
    val s = sess
    k match {
      case "timezone" => renderZone(s).getId
      case "transaction_isolation" =>
        val snap = if (s.txnOpen) s.txnSnapshotReads else s.defaultSnapshotReads
        if (snap) "repeatable read" else "read committed"
      case "server_version" => "15.0 (graft)"
      case "server_version_num" => "150000"
      case "datestyle" => s.confOverlay.getOrElse(k, "ISO, MDY")
      case "client_encoding" => "UTF8" // the server only emits UTF-8
      case "extra_float_digits" => s.confOverlay.getOrElse(k, "1")
      case "search_path" => s.confOverlay.getOrElse(k, "public")
      case "standard_conforming_strings" | "integer_datetimes" => "on"
      case "intervalstyle" => s.confOverlay.getOrElse(k, "postgres")
      case "application_name" => s.confOverlay.getOrElse(k, "")
      case "client_min_messages" => s.confOverlay.getOrElse(k, "notice")
      // ONLY this session's SET overlay and pragmas answer here — no
      // spark.conf fallback: it would expose arbitrary engine-global
      // Spark configuration to every pgwire client (current_setting(
      // 'spark.master')), and unknown-GUC errors would diverge from pg
      // for names that happen to collide with Spark confs.
      case other => s.confOverlay.get(other)
        .orElse(s.pragmas.get(other)) // `SHOW <pragma>` reads the session map
        .getOrElse(throw new IllegalArgumentException(
          s"""unrecognized configuration parameter "$key""""))
    }
  }

  private def showVar(key: String): DataFrame = {
    val sq = spark
    import sq.implicits._
    Seq(gucValue(key)).toDF(key.toLowerCase)
  }

  /** (name, setting, source) for every answerable GUC — the fixed set
    * plus THIS session's SET overlay and pragmas; source is 'session'
    * for session-set values, 'default' otherwise. Shared by SHOW ALL
    * and the pg_settings system table so the two can never diverge.
    */
  private def gucRows(): Seq[(String, String, String)] = {
    val s = sess
    (showableGucs ++ s.confOverlay.keySet ++ s.pragmas.keySet).toSeq.sorted
      .map { n =>
        (n, scala.util.Try(gucValue(n)).getOrElse(""),
          if (s.confOverlay.contains(n) || s.pragmas.contains(n)) "session"
          else "default")
      }
  }

  /** pg `SHOW ALL`: (name, setting) rows. */
  private def showAll(): DataFrame = {
    val sq = spark
    import sq.implicits._
    gucRows().map { case (n, v, _) => (n, v) }.toDF("name", "setting")
  }

  /** pg `current_setting('name' [, missing_ok])` — STABLE within a
    * statement, so bind-time literal substitution is exact (the same
    * contract as currval/lastval above). Quote-aware: the text inside a
    * string literal is payload.
    */
  private val reCurrentSetting =
    """(?i)(?<![\w.])(?:pg_catalog\s*\.\s*)?current_setting\s*\(\s*'([^']*)'\s*(?:,\s*(true|false)\s*)?\)""".r
  private val reVersionFn =
    """(?i)(?<![\w.])(?:pg_catalog\s*\.\s*)?version\s*\(\s*\)""".r
  private[graft] def rewriteCurrentSetting(sql: String): String = {
    val lower = sql.toLowerCase
    val withVersion =
      // a user-defined version() (CREATE FUNCTION) shadows the builtin
      if (!lower.contains("version") || functions.contains("version")) sql
      else {
        // pg version(): psql \conninfo and several ORMs probe it
        val mask = SqlText.quotedMask(sql)
        reVersionFn.replaceAllIn(sql, m =>
          if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
          else "'PostgreSQL 15.0 (graft Spark engine)'")
      }
    val sql2 = withVersion
    if (!sql2.toLowerCase.contains("current_setting") ||
        functions.contains("current_setting")) return sql2
    val mask = SqlText.quotedMask(sql2)
    reCurrentSetting.replaceAllIn(sql2, m => {
      if (mask(m.start)) java.util.regex.Matcher.quoteReplacement(m.matched)
      else {
        val missingOk = Option(m.group(2)).exists(_.equalsIgnoreCase("true"))
        val v = try Some(gucValue(m.group(1))) catch {
          case e: IllegalArgumentException => if (missingOk) None else throw e
        }
        // substituted AFTER conformLiterals ran, so render the value in
        // SPARK literal syntax: backslashes doubled, quotes '' -escaped
        java.util.regex.Matcher.quoteReplacement(v
          .map(x => "'" + x.replace("\\", "\\\\").replace("'", "''") + "'")
          .getOrElse("CAST(NULL AS STRING)"))
      }
    })
  }
  private val reExplainAnalyze = """(?is)\s*explain\s+analyze\s+(.*)""".r
  private val reAnalyze = """(?is)\s*analyze\s+table\s+(\w+)\b.*""".r
  private val reExplain = """(?is)\s*explain\s+(.*)""".r

  // transaction verbs: BEGIN opens a REAL transaction over the per-table
  // version log (see the "transactions" section below) — statements still
  // apply eagerly (single-writer engine), but ROLLBACK restores every
  // touched table to its txn-start version atomically, matching the
  // reference's transactional storage intent
  // (/root/reference/src/storage/secondary/transaction.rs:26-50).
  // BEGIN accepts pg's transaction_mode list (ISOLATION LEVEL ... /
  // READ ONLY / READ WRITE / [NOT] DEFERRABLE — ORMs emit these).
  // Since r15 the modes have real semantics: REPEATABLE READ /
  // SERIALIZABLE turn on per-session snapshot reads (version pinned at
  // first read, see snapshotPin), READ ONLY is enforced (writes and DDL
  // error with pg's message); READ COMMITTED stays the last-committed
  // default, [NOT] DEFERRABLE is accepted and ignored (single-writer
  // statement serialization — nothing to defer).
  private val txnModes =
    """(?:\s*,?\s+(?:isolation\s+level\s+(?:read\s+(?:committed|uncommitted)|repeatable\s+read|serializable)|read\s+only|read\s+write|not\s+deferrable|deferrable))*"""
  private val reBegin =
    ("""(?is)\s*(?:begin|start\s+transaction)(?:\s+(?:transaction|work))?""" +
      txnModes + """\s*""").r
  // SET TRANSACTION applies the modes to the open block (pg refuses an
  // isolation change once the block has run queries — enforced for the
  // reads/writes we can see); SET SESSION CHARACTERISTICS AS TRANSACTION
  // sets the session defaults that a bare BEGIN picks up.
  private val reSetTransaction =
    ("""(?is)\s*set\s+(?:session\s+characteristics\s+as\s+)?transaction""" +
      txnModes + """\s*""").r
  private val reIsoLevel =
    """(?is).*?isolation\s+level\s+(read\s+uncommitted|read\s+committed|repeatable\s+read|serializable)\b.*""".r

  /** Parse pg's transaction_mode list: (snapshot reads?, read only?) —
    * None = mode not mentioned (BEGIN falls back to the session
    * characteristics, SET TRANSACTION leaves it untouched).
    */
  private def parseTxnModes(stmt: String)
      : (Option[Boolean], Option[Boolean]) = {
    val snap = stmt match {
      case reIsoLevel(l) => Some(l.toLowerCase.replaceAll("\\s+", " ") match {
        case "repeatable read" | "serializable" => true
        case _ => false
      })
      case _ => None
    }
    val ro =
      if ("""(?is).*?\bread\s+only\b.*""".r.matches(stmt)) Some(true)
      else if ("""(?is).*?\bread\s+write\b.*""".r.matches(stmt)) Some(false)
      else None
    (snap, ro)
  }

  private def setTransactionModes(stmt: String): DataFrame = {
    val s = sess
    val (snap, ro) = parseTxnModes(stmt)
    if ("""(?is)\s*set\s+session\s+characteristics\b.*""".r.matches(stmt)) {
      snap.foreach(s.defaultSnapshotReads = _)
      ro.foreach(s.defaultReadOnly = _)
    } else if (s.txnOpen) {
      // pg: the isolation level must be set before the block's first
      // query — enforced for the activity we can see (snapshot pins and
      // writes; plain READ COMMITTED reads leave no trace, documented)
      if (snap.exists(_ != s.txnSnapshotReads) &&
          (s.txnReadSnap.nonEmpty || s.txnUndo.nonEmpty))
        throw new IllegalArgumentException(
          "SET TRANSACTION ISOLATION LEVEL must be called before any query")
      snap.foreach(s.txnSnapshotReads = _)
      ro.foreach(s.txnReadOnly = _)
    }
    // outside a block pg warns and discards — we discard silently
    emptyResult
  }
  private val reCommit =
    """(?is)\s*(?:commit|end)\s*(?:transaction|work)?\s*""".r
  private val reRollback = """(?is)\s*rollback\s*(?:transaction|work)?\s*""".r
  private val reSavepoint = """(?is)\s*savepoint\s+(\w+)\s*""".r
  private val reRollbackTo =
    """(?is)\s*rollback\s+(?:transaction\s+|work\s+)?to\s+(?:savepoint\s+)?(\w+)\s*""".r
  private val reRelease = """(?is)\s*release\s+(?:savepoint\s+)?(\w+)\s*""".r

  // extension: SQL-level PREPARE/EXECUTE/DEALLOCATE (pg surface — psql
  // scripts and ORMs emit these even when the wire protocol also has
  // Parse/Bind). Statements are SESSION-scoped like pg (r15: they live
  // on the connection's Session and die with it; direct embedders keep
  // process-lifetime behavior through the default session) and are not
  // persisted.
  private def preparedStatements = sess.prepared
  private val rePrepare =
    """(?is)\s*prepare\s+(\w+)\s*(?:\(([^)]*)\))?\s*as\s+(.+)""".r
  private val reExecuteStmt = """(?is)\s*execute\s+(\w+)\s*(?:\((.*)\))?\s*""".r
  private val reDeallocate =
    """(?is)\s*deallocate\s+(?:prepare\s+)?(\w+)\s*""".r
  // pg session-reset verbs: connection pools (pgbouncer in session mode,
  // HikariCP's rollback path) issue DISCARD ALL / RESET ALL on recycle —
  // an unknown-statement error there breaks pooling outright.
  private val reDiscard =
    """(?is)\s*discard\s+(all|plans|sequences|temp|temporary)\s*""".r
  private val reResetStmt = """(?is)\s*reset\s+(\S+)\s*""".r
  /** conf keys set through SET (non-mock): what RESET ALL must undo */
  private val setConfKeys = mutable.Set[String]()

  private val reDescribe = """\\d\s+(\w+)""".r
  private val reStat = """\\stat(?:\s+(\w+))?(?:\s+(\w+))?\s*""".r

  /** pg's RETURNING clause on DML (extension): `INSERT/UPDATE/DELETE ...
    * RETURNING expr [AS alias], ...` renders the affected rows — INSERT
    * and UPDATE the post-image (defaults/casts/assignments applied),
    * DELETE the pre-image — instead of a rows_affected count. The clause
    * is detected quote/paren-aware at top level (a literal 'returning' or
    * a subquery alias is payload), stripped, and the core statement runs
    * through the normal dispatch; each DML path materializes its affected
    * frame via `localCheckpoint` BEFORE the table directory mutates, so
    * the returned rows never re-read swapped-away files.
    */
  // ---- sessions -----------------------------------------------------------
  // One Session per client connection (the Server allocates them);
  // direct embedders (REPL/tests/Verify/Bench) ride the default
  // session, so single-session behavior is unchanged. The current
  // session travels in a ThreadLocal set by the two-arg run(): every
  // statement executes on exactly one thread (the connection thread or
  // its ResultSpool producer), so thread-confinement is the natural
  // carrier and no internal signature changes.
  private val defaultSession = new Session(0L)
  private val sessionIds = new java.util.concurrent.atomic.AtomicLong(1L)
  private val openSessions =
    scala.collection.concurrent.TrieMap[Long, Session](0L -> defaultSession)
  private val sessionTL: ThreadLocal[Session] =
    ThreadLocal.withInitial(() => defaultSession)
  private def sess: Session = sessionTL.get

  /** Allocate a connection-scoped session (txn block + cursors). */
  def newSession(): Session = {
    val s = new Session(sessionIds.getAndIncrement())
    openSessions.put(s.id, s)
    s
  }

  /** End a session: roll back any open transaction (pg semantics on
    * disconnect), reclaim its cursor spill dirs, release its locks.
    * Takes the statement write lock itself — callers invoke from the
    * connection teardown path with no lock held.
    */
  def closeSession(s: Session): Unit = if (s ne defaultSession) {
    openSessions.remove(s.id)
    writerLock.lock()
    try exclusively {
      if (s.txnOpen) run("rollback", s)
      dropSessionTemps(s) // pg: temp objects vanish on disconnect
      s.cursors.values.foreach(c => deleteRecursively(c.dir, keepRoot = false))
      s.cursors.clear()
      releaseTxnLocks(s)
      endStatement(s) // the last statement's checkpoints and pins
    } finally writerLock.unlock()
  }

  /** Run one statement inside the given session's context. */
  def run(sql: String, session: Session): DataFrame = {
    val prev = sessionTL.get
    sessionTL.set(session)
    try run(sql) finally sessionTL.set(prev)
  }

  /** The previous top-level statement of `s` is over: drop its scoped
    * checkpoints (blocking, so its blocks are gone when the next
    * statement starts) and the version pins no consumer took over.
    */
  private def endStatement(s: Session): Unit = {
    if (s.pendingCkptRelease.nonEmpty) {
      graft.operators.CacheHygiene.release(spark, s.pendingCkptRelease.toSeq,
        blocking = true)
      s.pendingCkptRelease.clear()
    }
    unpin(takePins(s))
  }

  /** Plain DML: COPY FROM, INSERT, UPDATE, DELETE or MERGE outside a
    * transaction block, with no CTE or RETURNING, on a table no
    * materialized view depends on. It writes its new version with
    * [[stmtLock]] free (see [[run]]). Asked with the writer lock held,
    * so the catalog it consults is stable.
    */
  private def plainDml(stmt: String): Boolean = {
    val s = SqlText.stripComments(stmt).trim
    val target = s match {
      case rePlainDml(a, b, c, d, e) => Seq(a, b, c, d, e).find(_ != null)
      case _ => None
    }
    !sess.txnOpen && SqlText.indexOfTopLevelPhrase(s, Seq("returning")) < 0 &&
      target.exists(t => tables.contains(t) && !matviews.contains(t) &&
        !matviewBase.values.exists(_._1.exists(_._1 == t)))
  }
  private val rePlainDml =
    ("""(?is)(?:copy\s+(\w+)\s+from\s|insert\s+into\s+(\w+)\b|""" +
      """update\s+(\w+)\s+set\s|delete\s+from\s+(\w+)\b|""" +
      """merge\s+into\s+(\w+)\s).*""").r

  /** Serve a bound SELECT from its template's generic plan (see
    * [[graft.plans.GenericPlans]]), kept in the plan cache under the
    * rewritten template text. None sends the statement down the
    * bound-text path: a NULL value, an open transaction, a non-SELECT
    * template, or a template refused at this plan epoch — one whose
    * placeholders sit where a value could change the plan (`LIMIT $1`),
    * that fails analysis, or that fails today's cacheability tests.
    */
  private def runGeneric(b: Binding): Option[DataFrame] = {
    // sequence functions are refused up front: the SELECT path draws
    // their values before the plan cache is consulted
    if (b.params.contains(null) || sess.txnOpen || usesSequenceFn(b.template) ||
        !SqlText.stripComments(b.template).trim.toLowerCase.startsWith("select"))
      return None
    val epoch = planCacheEpoch.get
    if (genericRefused.synchronized(Option(genericRefused.get(b.template)))
        .exists(_ == epoch)) return None
    sess.binding = Some(b)
    val served =
      try {
        val df = run(graft.plans.GenericPlans.templateText(b.template))
        // still set: a path other than the SELECT plan cache took the text
        if (sess.binding.isEmpty) Some(df) else None
      } catch { case scala.util.control.NonFatal(_) => None }
      finally sess.binding = None
    if (served.isEmpty)
      genericRefused.synchronized { genericRefused.put(b.template, epoch) }
    served
  }

  /** Rewrite this session's temp aliases to their mangled real names —
    * word-bounded, outside string literals, not after a `.` (x.t is a
    * column) and not inside a longer identifier. Qualified references
    * (t.col) rewrite consistently with their FROM site. No-op (and
    * zero-cost) for sessions without temp objects. Known edge, shared
    * with pg's shadowing confusion: a bare COLUMN named exactly like
    * one of the session's own temp tables would rewrite too.
    */
  private def rewriteTempRefs(stmt: String): String = {
    val temps = sess.tempObjects
    if (temps.isEmpty) return stmt
    SqlText.mapOutsideQuotes(stmt, seg => {
      var out = seg
      temps.foreach { case (alias, (mangled, _)) =>
        out = out.replaceAll(
          "(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(alias) + "(?![\\w])",
          java.util.regex.Matcher.quoteReplacement(mangled))
      }
      out
    })
  }

  private val reCreateTemp =
    """(?is)\s*create\s+(?:global\s+|local\s+)?temp(?:orary)?\s+(table|view)\s+(\w+)(.*)""".r
  // the WHOLE prefix is reserved, case-insensitively (Spark resolves
  // identifiers case-insensitively): the guard, pg_tables hiding and the
  // constructor orphan sweep must share one predicate, or a name the
  // guard lets through could be swept as an "orphan" on restart
  private val reTempMangled = """(?i)graft_temp_\w+""".r
  /** pg parity: a PERMANENT view/matview over temporary objects is
    * refused — its stored body would reference session-mangled names
    * that die on disconnect.
    */
  private def requireNoTempRefs(body: String, kind: String): Unit = {
    SqlText.mapOutsideQuotes(body, seg => {
      if (reTempMangled.findFirstIn(seg).isDefined)
        throw new IllegalArgumentException(
          s"cannot create a permanent $kind over temporary objects")
      seg
    })
    ()
  }
  /** System tables registered lazily per statement AND excluded from the
    * plan cache — ONE list so the two sites can never drift (a snapshot
    * view that became cacheable would serve stale catalog data).
    */
  private val lazySystemTables = Seq("pg_tables", "pg_indexes",
    "pg_attribute", "pg_stat", "pg_sequences", "contributors",
    "graft_history")

  /** Statement-scoped localCheckpoint (r19, guide §5): the DML paths
    * materialize intermediates (snapshots before a directory swap,
    * RETURNING frames, nondeterministic sources drawn once) via
    * localCheckpoint, whose blocks otherwise pin block-manager memory for
    * the session's lifetime. Each checkpoint's RDD ids are recorded on
    * the session and released when the NEXT top-level statement begins —
    * by then the statement's writes are on disk and its result/RETURNING
    * rows have been consumed (per-session execution is sequential).
    * Everything that must outlive a statement lives on DISK by design
    * (cursor spills, IVM delta parquet, the version log), never on a
    * checkpointed frame.
    */
  private def ckptScoped(df: DataFrame): DataFrame = {
    val (out, ids) = graft.operators.CacheHygiene.checkpointTracked(df)
    sess.pendingCkptRelease ++= ids
    out
  }

  /** The current session's checkpoint ids awaiting release (tests). */
  private[graft] def pendingCheckpoints: Seq[Int] = sess.pendingCkptRelease.toList

  /** `.checkpointScoped` = `.checkpointScoped` + statement-scoped block
    * release (see [[ckptScoped]]) — the drop-in the DML paths use.
    */
  private implicit class CkptScopedOps(df: DataFrame) {
    def checkpointScoped: DataFrame = ckptScoped(df)
  }

  /** Run one statement in the current session. A top-level call ends the
    * session's previous statement (nested calls — CTE DML members,
    * matview bodies — must not drop the enclosing statement's blocks)
    * and decides, from the statement's form alone, how it is serialized
    * against the others — here, so no front end takes a lock itself:
    *  - a read ([[Engine.isReadOnly]]) holds the shared side of
    *    [[stmtLock]] while it is planned and pins the versions it bound;
    *    the result it returns executes and streams with no lock held;
    *  - [[plainDml]] serializes on the writer lock and takes the exclusive
    *    side only for its commit ([[commitVersion]]);
    *  - everything else (DDL, SET, transaction verbs, DML-CTE overlays:
    *    statements that change state of the shared SparkSession a
    *    concurrent plan would see) holds the writer lock, then the
    *    exclusive side, for the whole statement.
    * A bound extended-protocol statement the server announced on the
    * session ([[Session.binding]]) is first tried on its template's
    * generic plan.
    */
  def run(sql: String): DataFrame = {
    val s = sess
    if (s.runDepth > 0) return nested(runInner(sql))
    endStatement(s)
    def body(): DataFrame = nested {
      val b = s.binding.filter(_.text == sql)
      s.binding = None
      pinResult(b.flatMap(runGeneric).getOrElse(runInner(sql)))
    }
    if (Engine.isReadOnly(sql)) readLocked(body())
    else {
      writerLock.lock()
      try if (plainDml(sql)) body() else exclusively(body())
      finally writerLock.unlock()
    }
  }

  private def nested[A](body: => A): A = {
    sess.runDepth += 1
    try body finally sess.runDepth -= 1
  }

  private def runInner(sql: String): DataFrame = {
    // comments go first (quote-aware, hint-preserving): every downstream
    // scanner, splitter and rewrite assumes an apostrophe opens a
    // literal — true only once comment text is gone
    val stmt1 = SqlText.stripComments(sql).trim.replaceAll(";\\s*$", "")
    // per-session temp namespace (r18): CREATE TEMP mangles the new name
    // (registered only after the create succeeds); everything else
    // rewrites existing alias references. The create's BODY still
    // rewrites with the PRE-create aliases, so a self-named source
    // reads the object the alias meant before this statement.
    var registerTemp: Option[(String, (String, String))] = None
    val stmt = stmt1 match {
      case reCreateTemp(kind, nm, rest) =>
        val alias = nm.toLowerCase
        require(!sess.tempObjects.contains(alias),
          s"temporary table or view already exists: $nm")
        val mangled = s"graft_temp_${sess.id}_$alias"
        registerTemp = Some(alias -> (mangled, kind.toLowerCase))
        s"create ${kind.toLowerCase} $mangled${rewriteTempRefs(rest)}"
      case other => rewriteTempRefs(other)
    }
    // pg hides other sessions' temp schemas outright: any direct textual
    // reference to a mangled temp name this session does not own — a
    // create squatting on the reserved prefix, a foreign DROP, a foreign
    // read — is refused. This session's aliases were already rewritten
    // to owned names above; the one being created this statement counts.
    if (stmt.toLowerCase.contains("graft_temp_")) {
      val owned = sess.tempObjects.values.map(_._1).toSet ++
        registerTemp.map(_._2._1)
      SqlText.mapOutsideQuotes(stmt, seg => {
        reTempMangled.findAllIn(seg).foreach(m =>
          require(owned.contains(m.toLowerCase),
            s"permission denied: $m is a temporary object of another session"))
        seg
      })
    }
    txnGate(stmt)
    try {
      val lw = stmt.toLowerCase
      if (lw.startsWith("insert") || lw.startsWith("update") ||
          lw.startsWith("delete")) {
        val idx = SqlText.indexOfTopLevelPhrase(stmt, Seq("returning"))
        if (idx >= 0) {
          val exprs = splitTopLevel(stmt.substring(idx + "returning".length))
            .map(_.trim).filter(_.nonEmpty)
          require(exprs.nonEmpty, "RETURNING requires an expression list")
          returningExprs = Some(exprs)
          try {
            dispatch(stmt.substring(0, idx))
            return returningRows.getOrElse(throw new IllegalArgumentException(
              "RETURNING is supported on INSERT [ON CONFLICT], UPDATE, DELETE"))
          } finally { returningExprs = None; returningRows = None }
        }
      }
      val res = dispatch(stmt)
      registerTemp.foreach(sess.tempObjects += _) // only a SUCCESSFUL create
      res
    } catch {
      case e: Throwable =>
        // pg: any error inside an open transaction aborts it — commands
        // are refused until COMMIT/ROLLBACK ends the block
        if (sess.txnOpen) sess.txnAborted = true
        e match {
          // the WITH RECURSIVE safety valve tripped: name the
          // engine-level pragma that raises it, not just the raw conf
          case st: org.apache.spark.SparkThrowable
              if st.getCondition == "RECURSION_ROW_LIMIT_EXCEEDED" =>
            throw new IllegalArgumentException(
              s"${e.getMessage} Engine valve: raise it with " +
                "`pragma cte_recursion_row_limit = <rows>`.", e)
          case st: org.apache.spark.SparkThrowable
              if st.getCondition == "RECURSION_LEVEL_LIMIT_EXCEEDED" =>
            throw new IllegalArgumentException(
              s"${e.getMessage} Engine valve: raise it with " +
                "`pragma cte_recursion_level_limit = <depth>`.", e)
          case _ => throw e
        }
    }
  }

  /** Per-statement transaction gate: refuse work in an aborted
    * transaction (pg's message, COMMIT/ROLLBACK excepted) and apply the
    * DDL implicit commit before the DDL runs.
    */
  private def txnGate(stmt: String): Unit = {
    if (sess.txnOpen && sess.txnAborted) stmt match {
      // pg also lets ROLLBACK TO SAVEPOINT recover an aborted block
      case reCommit() | reRollback() | reRollbackTo(_) =>
      case _ => throw new IllegalArgumentException(
        "current transaction is aborted, commands ignored until end of " +
          "transaction block")
    }
    if (sess.txnOpen && !sess.txnAborted && reImplicitCommitDdl.matches(stmt)) {
      // pg refuses catalog surgery in a READ ONLY block; letting the
      // implicit commit run would silently drop the read-only guard
      if (sess.txnReadOnly) throw new IllegalArgumentException(
        "cannot execute a DDL statement in a read-only transaction")
      commitTxn()
    }
  }

  /** Schema a `DML ... RETURNING` statement would render, derived by PURE
    * ANALYSIS — the RETURNING list is selected over the target table's
    * zero-row frame, so no job runs and nothing mutates. This is what
    * lets pgwire Describe answer a real RowDescription (with oids, so
    * typed client decoding works) for DML the server must not execute at
    * Describe time. None when the statement has no top-level RETURNING or
    * the shape can't be analyzed — callers fall back to NoData.
    */
  def returningSchema(stmt: String): Option[org.apache.spark.sql.types.StructType] = {
    val idx = SqlText.indexOfTopLevelPhrase(stmt, Seq("returning"))
    if (idx < 0) return None
    val exprs = splitTopLevel(stmt.substring(idx + "returning".length))
      .map(_.trim).filter(_.nonEmpty)
    val reTab = """(?is)\s*(?:insert\s+into|update|delete\s+from)\s+(\w+)\b.*""".r
    readLocked {
      stmt.substring(0, idx) match {
        case reTab(table) if tables.contains(table) =>
          scala.util.Try(spark.table(table).filter(lit(false))
            .selectExpr(exprs.map(inlineFunctions): _*).schema).toOption
        case _ => None
      }
    }
  }

  /** A catalog table's schema, read under the shared lock. */
  def tableSchema(table: String): org.apache.spark.sql.types.StructType =
    readLocked(spark.table(table).schema)

  private def readLocked[A](body: => A): A = {
    val rl = stmtLock.readLock
    rl.lock()
    try body finally rl.unlock()
  }

  // RETURNING plumbing: set for the duration of one dispatch under the
  // statement lock; DML paths fill `returningRows` from their affected
  // frame (already checkpointed) via [[captureReturning]].
  private var returningExprs: Option[Seq[String]] = None
  private var returningRows: Option[DataFrame] = None
  private def captureReturning(affected: DataFrame): Unit =
    returningExprs.foreach { es =>
      returningRows = Some(affected.selectExpr(es.map(inlineFunctions): _*))
    }

  // ---- transactions ------------------------------------------------------
  // Real BEGIN/COMMIT/ROLLBACK over the per-table version log. Statements
  // inside a transaction still apply eagerly (each one is an ordinary
  // versioned commit — the engine is single-writer, so there is nothing
  // to defer), which makes COMMIT a no-op beyond forgetting the undo set,
  // and ROLLBACK an atomic multi-table RESTORE: every table the
  // transaction touched snaps back to the version it had at first touch,
  // and the versions born inside the transaction VANISH from the commit
  // log — time travel shows no trace of rolled-back work. Semantics notes
  // (documented divergences from pg, honest for a single-writer engine):
  //  * transaction state is PER SESSION (undo set, abort flag,
  //    savepoints, cursors — see Session.scala); cross-session isolation
  //    is NOWAIT table locking: the first in-txn touch locks the table
  //    to the session, a foreign write errors immediately instead of
  //    blocking (blocking would deadlock against the global statement
  //    write lock), reads are last-committed-wins (the reference is
  //    likewise a single-writer store:
  //    /root/reference/src/storage/secondary/transaction.rs:26-50);
  //  * DDL (CREATE/DROP/ALTER/VACUUM) implicitly commits the open
  //    transaction first, MySQL-style — the version log can undo data
  //    motion, not catalog surgery;
  //  * a crash mid-transaction implicitly commits the statements that
  //    completed (each was individually durable when it ran).
  // A failed statement aborts the transaction like pg: everything until
  // COMMIT/ROLLBACK errors with pg's message, and COMMIT of an aborted
  // transaction performs the rollback (reporting it, as pg does).

  // TxnUndo lives in Session.scala; the txn block state (open/aborted/
  // undo/savepoints) is SESSION-scoped — see the sessions section above.

  /** table → owning session id: NOWAIT write locks taken at a
    * transaction's first touch of a table, released at COMMIT/ROLLBACK/
    * session close. All access under this map's own monitor (writers
    * already serialize on the Server's statement lock, but direct
    * embedders bypass it).
    */
  private val txnLocks = mutable.Map[String, Long]()

  private def releaseTxnLocks(s: Session): Unit =
    txnLocks.synchronized { txnLocks.filterInPlace((_, owner) => owner != s.id) }

  /** Refuse a write/DDL on a table inside ANOTHER session's open
    * transaction. NOWAIT by design: the writer is already holding the
    * global statement write lock, so blocking here would deadlock
    * against the owner's COMMIT (which needs that same lock).
    */
  private def checkForeignLock(table: String): Unit =
    txnLocks.synchronized {
      txnLocks.get(table).foreach { owner =>
        if (owner != sess.id) throw new IllegalArgumentException(
          s"""relation "$table" is locked by another session's open """ +
            "transaction (single-writer engine: retry after its " +
            "COMMIT/ROLLBACK)")
      }
    }

  /** First-touch hook: called at the top of every DML path (and
    * defensively from commitVersion) BEFORE the table mutates, so the
    * undo record captures the pre-statement version and metadata.
    * Also the cross-session gate: errors if a FOREIGN session's open
    * transaction holds the table, and locks it to this session when
    * our own transaction touches it first.
    */
  private def txnTouch(table: String): Unit = {
    val s = sess
    // pg: ERROR: cannot execute <stmt> in a read-only transaction
    if (s.txnOpen && s.txnReadOnly) throw new IllegalArgumentException(
      s"""cannot write "$table" in a read-only transaction""")
    checkForeignLock(table)
    // repeatable read's write side: writing a table whose pinned read
    // snapshot another session has since moved past is pg's
    // serialization failure (first-updater-wins). Our own earlier write
    // can't trip this — the NOWAIT lock blocks foreign writers once we
    // touch it, and the pin is dropped below so later reads in this
    // transaction see our own writes (pg semantics).
    if (s.txnOpen && s.txnSnapshotReads)
      s.txnReadSnap.get(table).foreach { v =>
        val cur = math.max(history.getOrElse(table, Vector.empty).length - 1, 0)
        if (cur > v) throw new IllegalArgumentException(
          "could not serialize access due to concurrent update: " +
            s""""$table" moved past this repeatable-read transaction's """ +
            "snapshot")
        s.txnReadSnap.remove(table)
      }
    if (s.txnOpen && !s.txnUndo.contains(table) && tables.contains(table)) {
      val v = math.max(history.getOrElse(table, Vector.empty).length - 1, 0)
      s.txnUndo(table) = TxnUndo(v, tables(table)._1, tables(table)._2,
        defaults.get(table), checks.get(table), rowCounts.get(table))
      txnLocks.synchronized { txnLocks(table) = s.id }
    }
  }

  /** pgwire ReadyForQuery status byte: 'T' inside an open transaction,
    * 'E' inside an aborted one, 'I' idle — autocommit-off drivers
    * (pgJDBC) track transaction state from this. Per session.
    */
  def txnStatus(s: Session): Char =
    if (s.txnOpen && s.txnAborted) 'E' else if (s.txnOpen) 'T' else 'I'
  def txnStatus: Char = txnStatus(defaultSession)

  private def beginTxn(stmt: String): DataFrame = {
    // BEGIN inside an open transaction: pg warns and carries on — the
    // existing undo set must survive (resetting it would orphan work),
    // and the new statement's modes are discarded like pg discards them
    val s = sess
    if (!s.txnOpen) {
      val (snap, ro) = parseTxnModes(stmt)
      s.txnOpen = true; s.txnAborted = false
      s.txnUndo.clear(); s.txnSavepoints.clear(); s.txnReadSnap.clear()
      s.txnSnapshotReads = snap.getOrElse(s.defaultSnapshotReads)
      s.txnReadOnly = ro.getOrElse(s.defaultReadOnly)
    }
    emptyResult
  }

  private def commitTxn(): DataFrame = {
    val s = sess
    if (s.txnAborted) return rollbackTxn() // pg: COMMIT of an aborted txn rolls back
    s.txnOpen = false; s.txnAborted = false
    s.txnUndo.clear(); s.txnSavepoints.clear(); s.txnReadSnap.clear()
    s.txnSnapshotReads = false; s.txnReadOnly = false
    releaseTxnLocks(s)
    emptyResult
  }

  /** Atomic multi-table restore to the txn-start versions. Runs under the
    * statement write lock (ROLLBACK is an exclusive statement), so no
    * read plans against a half-restored set of tables. Matview
    * anchors whose delta window extends past a rolled-back version are
    * dropped — the next REFRESH recomputes fully and re-anchors, the
    * same safety net as the crash latch.
    */
  /** Restore one table to the state an undo record captured: data by
    * flipping back to the snapshot's version, metadata from the record, history
    * truncated so the undone commits vanish from time travel, and any
    * matview anchor whose delta window crosses the restore point
    * dropped (crash-latch full-recompute contract).
    */
  private def restoreToUndo(t: String, u: TxnUndo): Unit =
    if (tables.contains(t)) {
      val log = history.getOrElse(t, Vector.empty)
      val cur = log.length - 1
      if (cur > u.version) {
        val snap = versionDir(t, u.version)
        require(Files.isDirectory(snap),
          s"cannot roll back $t: the version ${u.version} snapshot is gone")
        // a pointer flip: the restore point's directory becomes current
        // again, and the versions born past it vanish — the log truncates
        // and their directories (retired while a reader pins them) and
        // IVM delta recordings are reclaimed, so DESCRIBE HISTORY / time
        // travel are unpolluted
        val born = ((u.version + 1) to cur).map(v => versionDir(t, v))
        history(t) = log.take(u.version + 1)
        born.foreach(reclaim)
        ((u.version + 1) to cur).foreach { v =>
          Seq(deleteDeltaDir(t, v), updateAddDir(t, v)).foreach { d =>
            if (Files.exists(d)) deleteRecursively(d, keepRoot = false)
          }
        }
      }
      tables(t) = (u.schema, u.pk)
      u.dflts match {
        case Some(d) => defaults(t) = d; case None => defaults.remove(t)
      }
      u.chks match {
        case Some(c) => checks(t) = c; case None => checks.remove(t)
      }
      // the undo record carries the captured count — restore it exactly
      u.rows match {
        case Some(n) => rowCounts(t) = n; case None => rowCounts.remove(t)
      }
      // the column ledger has no undo capture: drop it (conservative —
      // the next rewrite or ANALYZE re-establishes it)
      colStatsLedger.remove(t)
      register(t)
      refresh(t)
      syncLive(t)
      matviewBase.keys.toSeq.foreach { m =>
        val (anchors, _) = matviewBase(m)
        if (anchors.exists { case (b, av) => b == t && av > u.version } ||
            m == t) matviewBase.remove(m)
      }
    }

  private def rollbackTxn(): DataFrame = {
    val s = sess
    val touched = s.txnUndo.toSeq
    s.txnUndo.clear()
    s.txnSavepoints.clear()
    s.txnReadSnap.clear()
    s.txnOpen = false
    s.txnAborted = false
    s.txnSnapshotReads = false; s.txnReadOnly = false
    touched.foreach { case (t, u) => restoreToUndo(t, u) }
    releaseTxnLocks(s)
    saveManifest()
    emptyResult
  }

  /** pg savepoints over the same machinery: a savepoint snapshots every
    * table's (version, metadata, row count); ROLLBACK TO restores each
    * txn-touched table to that snapshot (keeping the transaction and
    * its outer undo set open, clearing an aborted state — pg lets you
    * recover from an error this way), and discards later savepoints.
    * The full-txn undo entries stay valid: a table first touched after
    * a savepoint restore still rolls all the way back on ROLLBACK.
    */
  private def savepointSnapshot(): Map[String, TxnUndo] =
    tables.keys.map { t =>
      val v = math.max(history.getOrElse(t, Vector.empty).length - 1, 0)
      t -> TxnUndo(v, tables(t)._1, tables(t)._2,
        defaults.get(t), checks.get(t), rowCounts.get(t))
    }.toMap

  private def savepoint(name: String): DataFrame = {
    val s = sess
    if (!s.txnOpen) throw new IllegalArgumentException(
      "SAVEPOINT can only be used in transaction blocks")
    s.txnSavepoints += ((name.toLowerCase, savepointSnapshot()))
    emptyResult
  }

  private def rollbackToSavepoint(name: String): DataFrame = {
    val s = sess
    if (!s.txnOpen) throw new IllegalArgumentException(
      "ROLLBACK TO SAVEPOINT can only be used in transaction blocks")
    val i = s.txnSavepoints.lastIndexWhere(_._1 == name.toLowerCase)
    if (i < 0) throw new IllegalArgumentException(
      s"""savepoint "$name" does not exist""")
    val snap = s.txnSavepoints(i)._2
    // only tables the TRANSACTION touched can have moved; each restores
    // to its savepoint-time state (tables first touched after the
    // savepoint had their pre-touch version == savepoint version)
    s.txnUndo.keys.toSeq.foreach { t =>
      snap.get(t).foreach(u => restoreToUndo(t, u))
    }
    // the savepoint itself survives (pg re-rollback-able); later ones die
    s.txnSavepoints.takeInPlace(i + 1)
    s.txnAborted = false
    saveManifest()
    emptyResult
  }

  private def releaseSavepoint(name: String): DataFrame = {
    val s = sess
    if (!s.txnOpen) throw new IllegalArgumentException(
      "RELEASE SAVEPOINT can only be used in transaction blocks")
    val i = s.txnSavepoints.lastIndexWhere(_._1 == name.toLowerCase)
    if (i < 0) throw new IllegalArgumentException(
      s"""savepoint "$name" does not exist""")
    // pg: releasing also destroys savepoints established after it
    s.txnSavepoints.takeInPlace(i)
    emptyResult
  }

  /** DDL implicitly commits the open transaction (MySQL semantics): the
    * version log can undo data motion, not catalog surgery, and a silent
    * partial undo would be worse than an honest early commit.
    */
  private val reImplicitCommitDdl =
    """(?is)\s*(?:create|drop|alter|vacuum)\b.*""".r

  // ---- incremental materialized-view maintenance -------------------------
  // view → (per-base-table anchored versions, the view's OWN version at
  // anchor time). A refresh applies a delta only when EXACTLY ONE base
  // moved since its anchored version (that table is the window's "fact";
  // unmoved dims read live, which equals their anchor state) — anything
  // it can't prove safe falls back to full recompute. The second element
  // is a crash latch: a refresh swap that died before re-anchoring
  // leaves a refreshed view with a stale anchor, and re-applying the
  // delta window would double count — the latch detects the view moved
  // without an anchor and forces one full recompute instead.
  private val matviewBase =
    mutable.Map[String, (Seq[(String, Int)], Int)]()

  /** One view output column's role in the incremental merge. */
  private sealed trait IvmKind
  private case object IvmGroup extends IvmKind
  private case object IvmCount extends IvmKind
  private case object IvmSum extends IvmKind
  private case object IvmMin extends IvmKind
  private case object IvmMax extends IvmKind
  private case object IvmAvg extends IvmKind
  /** A deterministic EXPRESSION over bare COUNT/SUM/AVG aggregates
    * (`sum(x) + 1`, `sum(a) / nullif(sum(b), 0)`, r18): each inner
    * aggregate rides its own additive sidecar column and the visible
    * value recomputes from the MERGED sidecars at refresh — the stored
    * view value is never arithmetically inverted. `inner(i)` names the
    * i-th aggregate (document order) as "count" | "sum" | "avg";
    * MIN/MAX inside an expression stay unprovable (they would need
    * per-sidecar extremum eviction).
    */
  private case class IvmExpr(inner: Seq[String]) extends IvmKind

  /** `kinds` covers every view output column in order; `bareGroups` maps
    * group output name → (owning table, base column name) for every
    * grouping expression that IS a bare column of some referenced table
    * (a possibly-empty subset — computed group keys simply don't appear).
    * MIN/MAX extremum eviction pushes the evicted keys into each owning
    * table as a semi-filter and trims the recompute to the evicted
    * groups afterwards, so partial (or zero) coverage only costs scan
    * width, never correctness. `bases` lists every referenced engine
    * table (distinct): one table is the classic single-base case; more
    * admits a fact ⋈ dims body, where the refresh-time delta replays the
    * body with ONLY the moved table overlaid (inner joins distribute
    * over union, so Δ(F ⋈ D) = ΔF ⋈ D while D holds still).
    */
  private case class IvmShape(bases: Seq[String], kinds: Seq[(String, IvmKind)],
      bareGroups: Seq[(String, String, String)],
      having: Option[Column] = None, havingExtras: Seq[String] = Nil) {
    def groupCols: Seq[String] = kinds.collect { case (n, IvmGroup) => n }
    /** The VIEW's own columns: the maintained relation minus the
      * having-only aggregates (stored in aux, never materialized).
      */
    def viewOf(full: DataFrame): DataFrame = having match {
      case Some(cond) => full.filter(cond).drop(havingExtras: _*)
      case None => full
    }
    def minMaxCols: Seq[(String, IvmKind)] =
      kinds.filter(k => k._2 == IvmMin || k._2 == IvmMax)
    /** Hidden sidecar columns: a per-group row count, plus sum/count
      * pairs for AVG (decomposed merge) and a count for SUM (empty-group
      * null-out detection under deletes).
      */
    def hiddenCols: Seq[String] = "__ivm_n" +: kinds.flatMap {
      case (n, IvmAvg) => Seq(s"__ivm_s_$n", s"__ivm_c_$n")
      case (n, IvmSum) => Seq(s"__ivm_c_$n")
      // every IvmExpr inner aggregate: an additive value column, plus a
      // count sidecar for sum/avg (empty-group null-out / the divisor)
      case (n, IvmExpr(inner)) => inner.zipWithIndex.flatMap {
        case ("count", i) => Seq(s"__ivm_x${i}_$n")
        case (_, i) => Seq(s"__ivm_x${i}_$n", s"__ivm_xc${i}_$n")
      }
      case _ => Nil
    }
    /** Under HAVING the sidecar carries EVERY maintained column — the
      * view holds only qualifying groups, so a filtered-out group's
      * aggregates (needed if it later qualifies) live nowhere else.
      */
    def auxCols: Seq[String] =
      (if (having.isDefined) kinds.map(_._1) else groupCols) ++ hiddenCols
  }

  private def planBody(body: String): DataFrame =
    spark.sql(inlineFunctions(rewriteQualify(body)))

  /** For each engine table the body references: does the body's join
    * tree DISTRIBUTE over union on that table's position? Inner joins
    * distribute on both inputs, LEFT/RIGHT OUTER on their probe input
    * only (a null-supplying delta can retro-actively un-null-extend
    * probe rows), anything else on neither. A moved base that
    * distributes replays through the standard delta machinery; one that
    * doesn't needs the two-term signed arm (or a full recompute).
    */
  private def ivmDistributing(body: String): Map[String, Boolean] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, SubqueryAlias}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
    val acc = mutable.Map[String, Boolean]()
    def walk(p: LogicalPlan, dist: Boolean): Unit = p match {
      case sa: SubqueryAlias if tables.contains(sa.alias) =>
        acc(sa.alias.toLowerCase) = dist
      case j: Join =>
        val (ld, rd) = j.joinType match {
          case Inner => (dist, dist)
          case LeftOuter => (dist, false)
          case RightOuter => (false, dist)
          case _ => (false, false)
        }
        walk(j.left, ld); walk(j.right, rd)
      case other => other.children.foreach(walk(_, dist))
    }
    scala.util.Try(walk(planBody(body).queryExecution.analyzed, dist = true))
    acc.toMap
  }

  /** The body's Aggregate extended with the hidden bookkeeping columns
    * (see IvmShape.hiddenCols) — built on the ANALYZED plan so the same
    * grouping/argument expressions feed the hidden aggregates, then
    * re-wrapped as a DataFrame.
    */
  /** SELECT DISTINCT is GROUP BY every output with no visible aggregates
    * (r18): the analyzed `Distinct` node normalizes to that equivalent
    * Aggregate so the whole IVM machinery — shape recognition, hidden
    * `__ivm_n` bookkeeping, decomposed signed replays, the `__ivm_n > 0`
    * survivor filter — applies unchanged. A new duplicate raises the
    * group's count (the visible row stays put), deleting the last copy
    * drives the count to zero and the row out of the view.
    */
  private def ivmNormalizeDistinct(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Distinct(child) =>
      org.apache.spark.sql.catalyst.plans.logical.Aggregate(
        child.output, child.output, child)
    case other => other
  }

  /** Strip a HAVING wrapper (r18): the analyzed body is either
    * `Filter(cond, Aggregate)` (cond over select-list outputs) or
    * `Project(attrs, Filter(cond, Aggregate))` (the analyzer appended
    * having-only aggregates to the Aggregate and trims them above).
    * Returns the inner Aggregate with the appended outputs RENAMED
    * `__ivm_h<i>` — they become maintained aux-only columns — plus the
    * condition rewritten as an unresolved Column over the renamed
    * output names, for re-application to the MERGED relation. The view
    * materializes only qualifying groups; the sidecar keeps every
    * group, so a group crossing the threshold in either direction
    * enters/leaves the view incrementally.
    */
  private def ivmNormalizeHaving(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
         Option[Column], Seq[String]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, Filter => LFilter}
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, SubqueryExpression}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def rewrite(agg: Aggregate, cond: Expression,
        keep: Option[Set[Long]]): Option[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
         Option[Column], Seq[String])] = {
      if (!cond.deterministic ||
          cond.exists(_.isInstanceOf[SubqueryExpression])) return None
      var i = -1
      val renamed = agg.aggregateExpressions.map { ne =>
        if (keep.forall(_.contains(ne.exprId.id))) ne
        else {
          i += 1
          Alias(ne match { case a: Alias => a.child; case o => o },
            s"__ivm_h$i")()
        }
      }
      // final column name per ORIGINAL output exprId, for the cond map
      val nameById = agg.aggregateExpressions.zip(renamed)
        .map { case (orig, nw) => orig.exprId.id -> nw.name }.toMap
      if (!cond.references.forall(a => nameById.contains(a.exprId.id)))
        return None
      val extras = renamed.map(_.name).filter(_.startsWith("__ivm_h"))
      val condCol = org.apache.spark.sql.graftbridge.Bridge.column(
        cond.transform { case a: AttributeReference =>
          UnresolvedAttribute(Seq(nameById(a.exprId.id))) })
      Some((agg.copy(aggregateExpressions = renamed),
        Some(condCol), extras))
    }
    // a matview body's trailing ORDER BY orders nothing durable (the
    // stored relation is unordered, like pg's REFRESH) — strip it so
    // the shape beneath stays provable
    val p1 = p match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.global => s.child
      case other => other
    }
    (p1 match {
      case LFilter(cond, agg: Aggregate) => rewrite(agg, cond, None)
      case Project(projList, LFilter(cond, agg: Aggregate))
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        rewrite(agg, cond, Some(projList.map(_.exprId.id).toSet))
      case _ => None
    }).getOrElse((p1, None, Nil))
  }

  private def ivmDecomposedBody(body: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression, Literal => CLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val analyzed = ivmNormalizeDistinct(
      ivmNormalizeHaving(planBody(body).queryExecution.analyzed)._1)
    val extended = analyzed match {
      case agg @ Aggregate(_, aexprs, _, _) =>
        val extra = mutable.Buffer[NamedExpression]()
        extra += Alias(Count(Seq(CLit(1))).toAggregateExpression(), "__ivm_n")()
        aexprs.foreach { ne =>
          val e = ne match { case a: Alias => a.child; case att: Attribute => att }
          e match {
            case ae: AggregateExpression => ae.aggregateFunction match {
              case Average(x, _) =>
                extra += Alias(new Sum(x).toAggregateExpression(),
                  s"__ivm_s_${ne.name}")()
                extra += Alias(Count(Seq(x)).toAggregateExpression(),
                  s"__ivm_c_${ne.name}")()
              case Sum(x, _) =>
                extra += Alias(Count(Seq(x)).toAggregateExpression(),
                  s"__ivm_c_${ne.name}")()
              case _ =>
            }
            // an expression AROUND aggregates (IvmExpr): one additive
            // sidecar per inner aggregate, in document order, names
            // mirrored by IvmShape.hiddenCols — count rides as itself,
            // sum/avg ride as a (sum, count) pair
            case e2 =>
              e2.collect { case ae: AggregateExpression => ae }
                .zipWithIndex.foreach { case (ae, i) =>
                  ae.aggregateFunction match {
                    case _: Count =>
                      extra += Alias(ae, s"__ivm_x${i}_${ne.name}")()
                    case Sum(x, _) =>
                      extra += Alias(ae, s"__ivm_x${i}_${ne.name}")()
                      extra += Alias(Count(Seq(x)).toAggregateExpression(),
                        s"__ivm_xc${i}_${ne.name}")()
                    case Average(x, _) =>
                      extra += Alias(new Sum(x).toAggregateExpression(),
                        s"__ivm_x${i}_${ne.name}")()
                      extra += Alias(Count(Seq(x)).toAggregateExpression(),
                        s"__ivm_xc${i}_${ne.name}")()
                    case _ =>
                  }
                }
          }
        }
        agg.copy(aggregateExpressions = aexprs ++ extra.toSeq)
      case other => other
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, extended)
  }

  private def auxRoot(name: String) = Paths.get(s"$warehouse/.ivm_aux/$name")
  private def auxDir(name: String, v: Int) = auxRoot(name).resolve(s"v$v")

  /** Pre-images of rows removed by the DELETE (or rewritten by the
    * UPDATE) that created base version `v` — recorded only while some
    * matview is anchored on the table, so REFRESH can subtract them at
    * O(delta).
    */
  private def deleteDeltaDir(table: String, v: Int) =
    historyDir(table).resolve(s"d$v")

  /** Post-images of the rows an UPDATE rewrote into base version `v` —
    * the add side of the update-as-delete-plus-insert decomposition.
    */
  private def updateAddDir(table: String, v: Int) =
    historyDir(table).resolve(s"u$v")

  /** Analyze a matview body for incremental maintainability: a single
    * `Aggregate` over exactly one engine table reached through
    * Project/Filter only (no joins, windows, set ops, subqueries, or
    * nondeterminism), whose aggregate outputs are bare non-DISTINCT,
    * unFILTERed COUNT/SUM/MIN/MAX. Those are the self-merging aggregates
    * under an APPEND-ONLY delta: count/sum add, min/max take
    * least/greatest — the classic distributive case of incremental view
    * maintenance. `None` means "recompute fully"; deletes make min/max
    * non-maintainable, which is why eligibility is also gated on the
    * base's commit ops at refresh time.
    */
  /** Analyze a matview body for incremental maintainability: a single
    * `Aggregate` over exactly one engine table reached through
    * Project/Filter only (no joins, windows, set ops, subqueries, or
    * nondeterminism), whose aggregate outputs are bare non-DISTINCT,
    * unFILTERed COUNT/SUM/MIN/MAX/AVG — count/sum add (and subtract, for
    * recorded delete deltas), min/max take least/greatest with extremum
    * eviction on delete, and avg merges through its sum/count sidecar
    * decomposition. Every grouping expression must surface as an output
    * column: a hidden group would make two base groups collide in the
    * merge join. `None` means "recompute fully".
    */
  private def ivmShape(body: String): Option[IvmShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LeafNode, LogicalPlan, Project, SubqueryAlias, View, Filter => LFilter}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, SubqueryExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
    def clean(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])
    def linear(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      // an engine view is a temp view registered from a DataFrame, so its
      // PLAN is frozen at registration: the refresh-time delta overlay (a
      // same-named temp view over just the appended files) cannot rewire
      // it, and the "delta" replay would scan the FULL base and
      // double-count on merge. A base reached through a view therefore
      // bails to full recompute.
      case sa: SubqueryAlias
          if views.keys.exists(_.equalsIgnoreCase(sa.alias)) => false
      case _: Project | _: LFilter | _: SubqueryAlias | _: View =>
        p.expressions.forall(clean) && linear(p.children.head)
      // a mock-hint broadcast shadow (SET mock_rowcount_<t>) wraps the
      // scan in ResolvedHint — semantics-neutral, delta replay still safe
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        linear(h.child)
      // INNER joins distribute over union on either input, so replaying
      // the body with one side's delta overlaid IS the view delta as
      // long as every other input held still (checked at refresh time).
      // LEFT/RIGHT OUTER joins (r18) distribute on their PROBE side
      // only — each probe row matches-or-null-extends independently of
      // the others — so they are admitted here and the refresh gates on
      // WHICH side actually moved ([[ivmDistributing]]): a probe-side
      // delta replays like an inner join's; a null-side delta takes the
      // two-term signed arm; FULL outer never distributes — bail.
      case j: Join =>
        (j.joinType == Inner ||
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter ||
          j.joinType == org.apache.spark.sql.catalyst.plans.RightOuter) &&
          j.condition.forall(clean) && j.children.forall(linear)
      case _ => false
    }
    scala.util.Try {
      val (normH, havingCond, havingExtras) =
        ivmNormalizeHaving(planBody(body).queryExecution.analyzed)
      ivmNormalizeDistinct(normH) match {
        case Aggregate(gexprs, aexprs, child, _)
            if linear(child) && gexprs.forall(clean) =>
          val refs = child.collect {
            case sa: SubqueryAlias if tables.contains(sa.alias) => sa.alias
          }
          val names = aexprs.map(_.name)
          def underlying(ne: org.apache.spark.sql.catalyst.expressions.NamedExpression) =
            ne match { case a: Alias => a.child; case att: Attribute => att }
          val kinds: Seq[Option[(String, IvmKind)]] = aexprs.map { ne =>
            val e = underlying(ne)
            if (e.collectFirst { case ae: AggregateExpression => ae }.isEmpty)
              Some(ne.name -> IvmGroup)
            else e match {
              case ae: AggregateExpression
                  if !ae.isDistinct && ae.filter.isEmpty && clean(ae) =>
                ae.aggregateFunction match {
                  case _: Count => Some(ne.name -> IvmCount)
                  case _: Sum => Some(ne.name -> IvmSum)
                  case _: Min => Some(ne.name -> IvmMin)
                  case _: Max => Some(ne.name -> IvmMax)
                  case _: Average => Some(ne.name -> IvmAvg)
                  case _ => None
                }
              // an expression AROUND aggregates (sum(x)+1, r18): provable
              // when every inner aggregate is a bare clean COUNT/SUM/AVG
              // and no base column leaks out naked (the expression must
              // be fully determined by the merged sidecars) — the merge
              // recomputes the expression over the sidecar columns.
              // MIN/MAX inside stay unprovable (no sidecar eviction).
              case e2 =>
                def naked(
                    x: org.apache.spark.sql.catalyst.expressions.Expression)
                    : Boolean = x match {
                  case _: AggregateExpression => false
                  case _: Attribute => true
                  case o => o.children.exists(naked)
                }
                val inner =
                  e2.collect { case ae: AggregateExpression => ae }.map { ae =>
                    if (ae.isDistinct || ae.filter.nonEmpty || !clean(ae)) None
                    else ae.aggregateFunction match {
                      case _: Count => Some("count")
                      case _: Sum => Some("sum")
                      case _: Average => Some("avg")
                      case _ => None
                    }
                  }
                if (inner.nonEmpty && inner.forall(_.isDefined) &&
                    !naked(e2) && clean(e2))
                  Some(ne.name -> IvmExpr(inner.map(_.get)))
                else None
            }
          }
          // every grouping expression must be visible as an output (the
          // merge joins on the view's group columns; a hidden group
          // would collapse distinct base groups into duplicate rows)
          val groupOuts = aexprs.filter(ne =>
            underlying(ne).collectFirst { case ae: AggregateExpression => ae }.isEmpty)
          val groupsCovered = gexprs.forall(g =>
            groupOuts.exists(ne => underlying(ne).semanticEquals(g)))
          // a table referenced twice (self-join) breaks the one-side
          // overlay algebra — Δ(F⋈F) ≠ ΔF⋈F — so refs must be distinct
          if (refs.nonEmpty &&
              refs.map(_.toLowerCase).distinct.length == refs.length &&
              kinds.forall(_.isDefined) && groupsCovered &&
              names.map(_.toLowerCase).distinct.length == names.length &&
              !names.filterNot(havingExtras.contains)
                .exists(_.toLowerCase.startsWith("__ivm_"))) {
            // a group output is only "bare" when its attribute traces by
            // exprId through the Project/Filter/Join chain to an
            // UNTOUCHED column of a referenced table's leaf: an attribute
            // minted by a nested projection (upper(g) AS g2) doesn't
            // exist in any base — a semi-filter on the alias would, if it
            // shadows a real base column, push the wrong column down and
            // yield silently wrong rows after a delete. The trace names
            // the OWNING table so eviction pushes each key into the right
            // base; untraced keys just don't push (the recompute is
            // trimmed on the view's own group outputs either way).
            def traceToBase(a0: Attribute, p: LogicalPlan): Option[(String, String)] = p match {
              case proj: org.apache.spark.sql.catalyst.plans.logical.Project =>
                proj.projectList.find(_.exprId == a0.exprId).flatMap {
                  case att: Attribute => traceToBase(att, proj.child)
                  case al: Alias => al.child match {
                    case att: Attribute => traceToBase(att, proj.child)
                    case _ => None
                  }
                  case _ => None
                }
              case f: LFilter => traceToBase(a0, f.child)
              case sa: SubqueryAlias if tables.contains(sa.alias) =>
                // an engine-table alias: the column must be the leaf's own
                sa.child.collectLeaves().headOption
                  .flatMap(_.output.find(_.exprId == a0.exprId))
                  .map(att => (sa.alias, att.name))
              case sa: SubqueryAlias => traceToBase(a0, sa.child)
              case v: View => traceToBase(a0, v.child)
              case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
                traceToBase(a0, h.child)
              case j: Join =>
                val side =
                  if (j.left.outputSet.contains(a0)) j.left else j.right
                traceToBase(a0, side)
              case leaf: LeafNode if refs.length == 1 =>
                // only unambiguous with a single referenced table
                leaf.output.find(_.exprId == a0.exprId)
                  .map(att => (refs.head, att.name))
              case _ => None
            }
            val bare = groupOuts.flatMap(ne => underlying(ne) match {
              case att: Attribute =>
                traceToBase(att, child).map { case (tb, bc) =>
                  (ne.name, tb, bc) }
              case _ => None
            })
            Some(IvmShape(refs, kinds.map(_.get), bare,
              havingCond, havingExtras))
          } else None
        case _ => None
      }
    }.toOption.flatten
  }

  /** Re-anchor `name` on its base's current version and persist the
    * sidecar (group counts + sum/count pairs) the next incremental
    * refresh will merge against; forget both if the body is not
    * incrementally maintainable. `precomputedAux` lets a refresh that
    * already merged the sidecar skip the re-aggregation.
    */
  private def anchorMatview(name: String, body: String,
      precomputedAux: Option[DataFrame] = None): Unit =
    ivmShape(body) match {
      case Some(s) =>
        val anchors = s.bases.map(b =>
          b -> history.get(b).map(_.length - 1).getOrElse(0))
        val viewV = history.get(name).map(_.length - 1).getOrElse(0)
        matviewBase(name) = (anchors, viewV)
        val aux = precomputedAux.getOrElse(
          ivmDecomposedBody(body).select(s.auxCols.map(col): _*))
        val root = auxRoot(name)
        val tmp = root.resolveSibling(s"${root.getFileName}.tmp")
        if (Files.isDirectory(tmp)) deleteRecursively(tmp, keepRoot = false)
        // the sidecar is keyed by the VIEW's version (unique per anchor:
        // every refresh commit bumps it), which stays well-defined with
        // several anchored bases
        aux.select(s.auxCols.map(col): _*).write.mode("overwrite")
          .parquet(tmp.resolve(s"v$viewV").toString)
        if (Files.isDirectory(root)) deleteRecursively(root, keepRoot = false)
        Files.move(tmp, root)
        // recorded DML deltas at or before EVERY anchor on a base are
        // unreachable by any future incremental refresh — reclaim them
        s.bases.foreach { b =>
          val anchorsOnB = matviewBase.values.flatMap(_._1)
            .collect { case (`b`, vv) => vv }
          if (anchorsOnB.nonEmpty) {
            (0 to anchorsOnB.min).foreach { i =>
              Seq(deleteDeltaDir(b, i), updateAddDir(b, i)).foreach { d =>
                if (Files.isDirectory(d)) deleteRecursively(d, keepRoot = false)
              }
            }
          }
        }
      case None =>
        matviewBase.remove(name)
        if (Files.isDirectory(auxRoot(name)))
          deleteRecursively(auxRoot(name), keepRoot = false)
    }

  /** Commit ops that only APPEND parquet files to the table directory —
    * the delta between two versions is then exactly the files added,
    * readable at O(delta) cost. DELETE/UPDATE/MERGE/upsert commits are
    * handled separately via the pre/post-image deltas their executors
    * record while a matview is anchored.
    */
  private val appendOnlyOps = Set("insert", "copy from")

  /** The merged (view, sidecar) frames for an incremental refresh, or
    * None → full recompute. Add-deltas come from replaying the BODY
    * itself over just the appended files (per append commit, diffing
    * consecutive archived versions so interleaved deletes can't confuse
    * the file sets); delete-deltas replay the recorded pre-images. Both
    * replays use the same-named temp-view overlay, so every
    * filter/projection the body carries applies for free. The merge is a
    * null-safe outer join on the group columns: count/sum/avg combine
    * arithmetically through the sidecar; a group whose row count reaches
    * zero is dropped; a MIN/MAX whose stored extremum may have been
    * deleted re-aggregates JUST that group from the live base —
    * O(|view| + |delta| + |evicted groups' rows|), never O(|base|).
    */
  private def incrementalRefresh(name: String,
      body: String): Option[(DataFrame, DataFrame)] = {
    val (anchors, viewV) = matviewBase.getOrElse(name, return None)
    if (!anchors.forall(a => tables.contains(a._1))) return None
    // crash latch: the view changed since this anchor was written (a
    // refresh that died between swap and re-anchor) — recompute fully
    if (history.get(name).map(_.length - 1).getOrElse(0) != viewV) return None
    val shape = ivmShape(body).getOrElse(return None)
    // body re-pointed since anchor (different table set) → full
    if (shape.bases.map(_.toLowerCase).sorted !=
        anchors.map(_._1.toLowerCase).sorted) return None
    anchors.foreach { case (b, v) => // any base rewound (RESTORE): re-anchor
      if (v >= history.getOrElse(b, Vector.empty).length) return None
    }
    val aDirPath = auxDir(name, viewV)
    if (!Files.isDirectory(aDirPath)) return None // sidecar lost: rebuild
    val moved = anchors.filter { case (b, v) =>
      history.getOrElse(b, Vector.empty).length - 1 != v
    }
    /** Classify one base's commit window since its anchor: appended
      * file list + recorded delete-delta dirs, or None → ineligible
      * (unsupported op, unrecorded delete, vacuumed archive, schema
      * drift, non-append file motion).
      */
    def windowOf(base: String, v0: Int)
        : Option[(Seq[String], Seq[java.nio.file.Path])] = {
      val log = history.getOrElse(base, Vector.empty)
      val cur = log.length - 1
      val newOps = ((v0 + 1) to cur).map(i => (i, log(i).op))
      if (!newOps.forall { case (_, op) =>
          appendOnlyOps(op) || op == "delete" || op == "update" ||
            op == "merge" || op == "upsert" })
        return None
      if (newOps.nonEmpty && log(v0).ddl != log.last.ddl)
        return None // base schema drifted
      def dataFiles(root: java.nio.file.Path): Set[String] = {
        if (!Files.isDirectory(root)) return Set.empty
        val s = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .map(p => root.relativize(p).toString).toSet
        } finally s.close()
      }
      def versionRoot(i: Int): java.nio.file.Path =
        if (i == cur) Paths.get(tableDir(base)) else versionDir(base, i)
      // every archived version this walk diffs must still exist (VACUUM)
      if (newOps.nonEmpty &&
          ((v0 to cur - 1)).exists(i => !Files.isDirectory(versionDir(base, i))))
        return None
      val addFiles = mutable.Buffer[String]()
      val delDirs = mutable.Buffer[java.nio.file.Path]()
      newOps.foreach { case (i, op) =>
        if (appendOnlyOps(op)) {
          val prev = dataFiles(versionRoot(i - 1))
          val now = dataFiles(versionRoot(i))
          if ((prev -- now).nonEmpty) return None // not a pure append
          addFiles ++= (now -- prev).map(f => s"${versionRoot(i)}/$f")
        } else if (op == "delete") {
          val dd = deleteDeltaDir(base, i)
          if (!Files.isDirectory(dd)) return None // delete went unrecorded
          delDirs += dd
        } else { // update/merge/upsert = recorded delete pre-image + insert post-image
          val dd = deleteDeltaDir(base, i)
          val ud = updateAddDir(base, i)
          if (!Files.isDirectory(dd) || !Files.isDirectory(ud)) return None
          delDirs += dd
          addFiles += ud.toString
        }
      }
      Some((addFiles.toSeq, delDirs.toSeq))
    }
    val groupCols = shape.groupCols
    val auxSchema = StructType(ivmDecomposedBody(body)
      .select(shape.auxCols.map(col): _*).schema.fields)
    val oldAux = spark.read.schema(auxSchema).parquet(aDirPath.toString)
    // under HAVING the maintained relation is the sidecar's visible part
    // (the VIEW holds only qualifying groups — a filtered-out group's
    // aggregates live in the sidecar alone); every (old, oldAux) return
    // below re-derives the view via shape.viewOf
    val old =
      if (shape.having.isDefined) oldAux.select(shape.kinds.map(k => col(k._1)): _*)
      else spark.table(name)
    if (moved.isEmpty) return Some((shape.viewOf(old), oldAux))
    // overlay bases with SAME-NAMED temp views for the (eager) analysis
    // of the body — unqualified resolution prefers the temp view, so
    // every filter/projection in the body binds to the overlay — then
    // drop them, revealing the untouched catalog tables (and restoring
    // any mock-hint broadcast shadow the overlay displaced).
    // Single-writer safe under the statement write lock.
    def replayWith(overlays: Seq[(String, DataFrame)]): DataFrame =
      try {
        overlays.foreach { case (t, df) => df.createOrReplaceTempView(t) }
        ivmDecomposedBody(body)
      } finally overlays.foreach { case (t, _) =>
        spark.catalog.dropTempView(t)
        applyMockHint(t)
      }
    def deltaDf(base: String, paths: Seq[String]): DataFrame = {
      val schema = StructType.fromDDL(history(base).last.ddl)
      if (!partitions.contains(base))
        return spark.read.schema(schema).parquet(paths: _*)
      // partitioned base (r18): appended leaf files carry their
      // partition values in k=v path segments — group them by version
      // directory (.history/<t>/vN) and read each group with basePath so those
      // values resolve. Delete/update delta DIRS materialize the
      // partition columns as data (or preserve the k=v tree for
      // discovery) and read plain.
      val root = historyDir(base).toAbsolutePath
      val (dirs, files) = paths.partition(p => Files.isDirectory(Paths.get(p)))
      def rootOf(p: String): String = // .history/<t>/vN/<k=v>/file
        root.resolve(Paths.get(p).toAbsolutePath
          .getName(root.getNameCount).toString).toString
      val frames = files.groupBy(rootOf).toSeq.map { case (root, fs) =>
          spark.read.schema(schema).option("basePath", root).parquet(fs: _*) } ++
        (if (dirs.nonEmpty)
           Seq(spark.read.schema(schema).parquet(dirs: _*)) else Nil)
      frames.reduce(_ unionByName _)
    }
    // r18 outer joins: which bases sit on a DISTRIBUTING side of every
    // join above them? Those replay through the standard windows; a
    // single moved base on the null-supplying side of the body's one
    // outer join takes the two-term signed arm below; anything else
    // recomputes fully.
    val distMap = ivmDistributing(body)
    val movedDistributes =
      moved.forall(m => distMap.getOrElse(m._1.toLowerCase, false))
    /** Null-side arm: only probe rows that join some delta row change
      * their output at all (every other probe row's match set is
      * untouched), so the view delta is exactly
      *   agg(A ⟗new) − agg(A ⟗old),  A = probe ⋉ Δbase,
      * two decomposed replays whose PROBE SUBTREE is substituted with
      * the materialized A: the new-side term enters the merge as an add
      * window, the old-side term as a delete window (the signed fold and
      * MIN/MAX extremum eviction below are window-shape-agnostic). A is
      * computed as a LeftSemi join inside ONE analyzed overlay plan, so
      * attribute ids stay consistent; both terms re-alias A's output to
      * their own probe ids — the snapshotPin substitution pattern.
      */
    def outerNullSideTerms(base: String, v0: Int, addFiles: Seq[String],
        delDirs: Seq[java.nio.file.Path])
        : Option[(Option[DataFrame], Option[DataFrame])] = {
      import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project}
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
      import org.apache.spark.sql.catalyst.expressions.Alias
      def outerJoins(p: LogicalPlan): Seq[Join] =
        p.collect { case j: Join if j.joinType != Inner && j.joinType != LeftSemi => j }
      val deltaAll = deltaDf(base, addFiles ++ delDirs.map(_.toString))
      val pDeltaOpt = scala.util.Try {
        try {
          deltaAll.createOrReplaceTempView(base)
          planBody(body).queryExecution.analyzed
        } finally { spark.catalog.dropTempView(base); applyMockHint(base) }
      }.toOption
      pDeltaOpt.flatMap { pDelta =>
        outerJoins(pDelta) match {
          case Seq(jD) if jD.joinType == LeftOuter || jD.joinType == RightOuter =>
            val (probeD, nullD) =
              if (jD.joinType == LeftOuter) (jD.left, jD.right)
              else (jD.right, jD.left)
            val aTry = scala.util.Try(org.apache.spark.sql.GraftSqlBridge
              .ofRows(spark, Join(probeD, nullD, LeftSemi, jD.condition,
                JoinHint.NONE)).checkpointScoped)
            aTry.toOption.flatMap { aDf =>
              val aOut = aDf.queryExecution.analyzed.output
              def term(overlays: Seq[(String, DataFrame)]): Option[DataFrame] =
                scala.util.Try {
                  val dec = try {
                    overlays.foreach { case (t, df) =>
                      df.createOrReplaceTempView(t) }
                    ivmDecomposedBody(body).queryExecution.analyzed
                  } finally overlays.foreach { case (t, _) =>
                    spark.catalog.dropTempView(t); applyMockHint(t)
                  }
                  outerJoins(dec) match {
                    case Seq(jj) =>
                      val probe =
                        if (jj.joinType == LeftOuter) jj.left else jj.right
                      if (probe.output.map(a => (a.name.toLowerCase, a.dataType)) !=
                          aOut.map(a => (a.name.toLowerCase, a.dataType))) None
                      else {
                        val aliased = Project(
                          probe.output.zip(aOut).map { case (o, n) =>
                            Alias(n, o.name)(exprId = o.exprId,
                              qualifier = o.qualifier) },
                          aDf.queryExecution.analyzed)
                        val nj =
                          if (jj.joinType == LeftOuter) jj.copy(left = aliased)
                          else jj.copy(right = aliased)
                        val np = dec.transformUp { case x if x eq jj => nj }
                        Some(org.apache.spark.sql.GraftSqlBridge.ofRows(spark, np))
                      }
                    case _ => None
                  }
                }.toOption.flatten
              for {
                tNew <- term(Seq.empty) // probe := A, null side live
                tOld <- term(Seq(base -> versionState(base, v0)))
              } yield (Option(tNew), Option(tOld))
            }
          case _ => None
        }
      }
    }
    val (aAgg, dAgg): (Option[DataFrame], Option[DataFrame]) =
      if (moved.length == 1 && !movedDistributes) {
        val (base, v0) = moved.head
        val (addFiles, delDirs) = windowOf(base, v0).getOrElse(return None)
        if (addFiles.isEmpty && delDirs.isEmpty)
          return Some((shape.viewOf(old), oldAux))
        outerNullSideTerms(base, v0, addFiles, delDirs).getOrElse(return None)
      } else if (!movedDistributes) return None
      else if (moved.length == 1) {
        val (base, v0) = moved.head
        val (addFiles, delDirs) = windowOf(base, v0).getOrElse(return None)
        // a GLOBAL (ungrouped) extremum with deletes proceeds through the
        // merge: eviction is checked LAZILY on the merged row (r16) — only
        // a delete that ties-or-beats the stored extremum forces the full
        // recompute; any other delete stays incremental
        if (addFiles.isEmpty && delDirs.isEmpty)
          return Some((shape.viewOf(old), oldAux))
        (if (addFiles.nonEmpty)
           Some(replayWith(Seq(base -> deltaDf(base, addFiles)))) else None,
         if (delDirs.nonEmpty)
           Some(replayWith(Seq(base -> deltaDf(base, delDirs.map(_.toString)))))
         else None)
      } else {
        // SEVERAL bases moved: telescoping cross-delta.
        //   new(F₁⋈…⋈Fₙ) − old(F₁⋈…⋈Fₙ)
        //     = Σᵢ (F₁..Fᵢ₋₁ NEW) ⋈ ΔFᵢ ⋈ (Fᵢ₊₁..Fₙ OLD)
        // with ΔFᵢ = addsᵢ − deletesᵢ as a SIGNED multiset. Each
        // positive term is one replay: tables before i read live
        // (= new), table i reads its delta files, tables after i read
        // their ANCHORED archived versions. The identity is exact for
        // arbitrary signed deltas — telescoping absorbs what would be
        // Dᵢ⋈Dⱼ cross-terms into the new-prefix states — so each
        // delete window contributes the SAME term shape at its own
        // position, entered negated through the dAgg merge (r15:
        // several delete windows fold group-wise exactly like the add
        // terms; COUNT/SUM/AVG are fully linear). MIN/MAX under
        // deletes — in ANY number of windows — ride extremum eviction:
        // the folded delete term's per-group min/max is the extremum
        // over ALL removed contributions (any net-removed contribution
        // appears in ≥1 delete term, so detection never under-fires),
        // and the eviction recompute below re-aggregates flagged groups
        // from the LIVE bases, which is window-count-agnostic. A GLOBAL
        // (ungrouped) extremum with deletes merges incrementally too
        // (r16): eviction is checked lazily on the merged row, and only
        // a delete that ties-or-beats the stored extremum falls back to
        // the full recompute (its one "group" IS the whole body).
        val wins = moved.map { case (b, v) =>
          val (adds, dels) = windowOf(b, v).getOrElse(return None)
          (b, v, adds, dels)
        }
        if (wins.forall(w => w._3.isEmpty && w._4.isEmpty))
          return Some((shape.viewOf(old), oldAux))
        // every table that can appear as a suffix needs its anchored
        // archive intact (VACUUM may have reclaimed it) → else full
        if (wins.drop(1).exists { case (ob, ov, _, _) =>
            !Files.isDirectory(versionDir(ob, ov)) }) return None
        def suffixOlds(i: Int): Seq[(String, DataFrame)] =
          wins.drop(i + 1).map { case (ob, ov, _, _) =>
            ob -> versionState(ob, ov)
          }
        val terms = wins.zipWithIndex.flatMap { case ((b, _, files, _), i) =>
          if (files.isEmpty) None
          else Some(replayWith((b -> deltaDf(b, files)) +: suffixOlds(i)))
        }
        // fold replay terms group-wise into ONE delta frame: counts/
        // sums/sidecars add, extremes take least/greatest, AVG
        // recomputes from its combined sidecar; everything casts back
        // to the decomposed frame's own types. Shared by the add terms
        // and (r15) the per-window delete terms — subtraction is as
        // linear as addition for COUNT/SUM/AVG; a MIN/MAX fold over the
        // delete terms yields the extremum over all removed
        // contributions, exactly what eviction detection needs.
        def foldTerms(ts: Seq[DataFrame]): Option[DataFrame] =
          ts.headOption.map { head =>
            val tmplSchema = head.schema
            if (ts.length == 1) head
            else {
              val u = ts.reduce(_ unionByName _)
              val aggs: Seq[Column] = shape.kinds.collect {
                case (n, IvmCount) =>
                  sum(col(n)).cast(tmplSchema(n).dataType).as(n)
                case (n, IvmSum) =>
                  sum(col(n)).cast(tmplSchema(n).dataType).as(n)
                case (n, IvmMin) => min(col(n)).as(n)
                case (n, IvmMax) => max(col(n)).as(n)
                case (n, IvmAvg) =>
                  (sum(col(s"__ivm_s_$n")) / sum(col(s"__ivm_c_$n")))
                    .cast(tmplSchema(n).dataType).as(n)
                // an IvmExpr's visible value in a folded term is never
                // read — the merge recomputes it from the sidecars —
                // but the column must survive the fold with its type
                case (n, IvmExpr(_)) =>
                  first(col(n)).cast(tmplSchema(n).dataType).as(n)
              } ++ shape.hiddenCols.map(h =>
                sum(col(h)).cast(tmplSchema(h).dataType).as(h))
              u.groupBy(groupCols.map(col): _*)
                .agg(aggs.head, aggs.tail: _*)
                .select(tmplSchema.fieldNames.toSeq.map(col): _*)
            }
          }
        // each delete window's negated term, same prefix/suffix states
        // as its positive sibling at the same position i
        val delTerm = foldTerms(wins.zipWithIndex.flatMap {
          case ((b, _, _, dels), i) =>
            if (dels.isEmpty) None
            else Some(replayWith(
              (b -> deltaDf(b, dels.map(_.toString))) +: suffixOlds(i)))
        })
        val combined = foldTerms(terms)
        (combined, delTerm)
      }
    def pre(df: DataFrame, p: String) =
      df.select(df.columns.map(c => col(c).as(s"$p$c")).toIndexedSeq: _*)
    val o = pre(old, "o_")
    val x = pre(oldAux, "x_")
    val a = aAgg.map(pre(_, "a_"))
    val d = dAgg.map(pre(_, "d_"))
    def condOn(keys: Seq[(Column, Column)]): Column =
      keys.map { case (l, r) => l <=> r }.reduceOption(_ && _).getOrElse(lit(true))
    val oWithAux = o.join(x,
      condOn(groupCols.map(g => col(s"o_$g") -> col(s"x_$g"))), "inner")
    val withA = a match {
      case Some(ad) => oWithAux.join(ad,
        condOn(groupCols.map(g => col(s"o_$g") -> col(s"a_$g"))), "full_outer")
      case None => oWithAux
    }
    def keyCol(g: String): Column = {
      val oa = if (a.isDefined) coalesce(col(s"o_$g"), col(s"a_$g")) else col(s"o_$g")
      if (d.isDefined) coalesce(oa, col(s"d_$g")) else oa
    }
    val withD = d match {
      case Some(dd) =>
        val oaKey = (g: String) =>
          if (a.isDefined) coalesce(col(s"o_$g"), col(s"a_$g")) else col(s"o_$g")
        withA.join(dd,
          condOn(groupCols.map(g => oaKey(g) -> col(s"d_$g"))), "full_outer")
      case None => withA
    }
    def acol(n: String): Column = if (a.isDefined) col(s"a_$n") else lit(null)
    def dcol(n: String): Column = if (d.isDefined) col(s"d_$n") else lit(null)
    def nz(c: Column): Column = coalesce(c, lit(0))
    val viewSchema = old.schema
    def cNew(n: String): Column =
      nz(col(s"x___ivm_c_$n")) + nz(acol(s"__ivm_c_$n")) - nz(dcol(s"__ivm_c_$n"))
    def sNew(n: String): Column =
      nz(col(s"x___ivm_s_$n")) + nz(acol(s"__ivm_s_$n")) - nz(dcol(s"__ivm_s_$n"))
    val nNew = nz(col("x___ivm_n")) + nz(acol("__ivm_n")) - nz(dcol("__ivm_n"))
    // IvmExpr sidecars merge additively like counts/sums
    def xNew(h: String): Column =
      nz(col(s"x_$h")) + nz(acol(h)) - nz(dcol(h))
    // the analyzed body's output expressions, for IvmExpr recomputation
    lazy val bodyOutExprs = ivmNormalizeDistinct(ivmNormalizeHaving(
        planBody(body).queryExecution.analyzed)._1) match {
      case org.apache.spark.sql.catalyst.plans.logical
          .Aggregate(_, aex, _, _) =>
        aex.map(ne => ne.name -> (ne match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case o => o
        })).toMap
      case _ => Map.empty[String,
        org.apache.spark.sql.catalyst.expressions.Expression]
    }
    // the PARSED (unanalyzed) select-list, positionally aligned with the
    // analyzed aggregateExpressions — substitution happens pre-analysis
    // because surgically editing an ANALYZED expression corrupts Spark's
    // With/CommonExpressionRef structures (nullif and friends), while a
    // uniformly-unresolved expression re-analyzes cleanly in the select
    lazy val parsedOutList: Seq[
        org.apache.spark.sql.catalyst.expressions.NamedExpression] = {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
      spark.sessionState.sqlParser
        .parsePlan(inlineFunctions(rewriteQualify(body)))
        .collectFirst {
          case a: Aggregate => a.aggregateExpressions
          case p: Project => p.projectList // global agg: no GROUP BY
        }.getOrElse(Seq.empty)
    }
    /** The IvmExpr output at position `idx` recomputed over MERGED
      * sidecars: each inner aggregate call (document order, matching the
      * decomposed names) substitutes its additive sidecar — count
      * directly, sum nulled when its count sidecar reaches zero, avg as
      * sum/count — each cast back to the analyzed aggregate's own type
      * so the surrounding expression keeps its original semantics.
      */
    def exprMerged(n: String, idx: Int, inner: Seq[String]): Column = {
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction}
      import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
      import org.apache.spark.sql.catalyst.expressions.Alias
      val aggTypes = bodyOutExprs(n).collect {
        case ae: AggregateExpression => ae.dataType
      }
      val parsed = parsedOutList(idx) match {
        case ua: UnresolvedAlias => ua.child
        case al: Alias => al.child
        case o => o
      }
      var i = -1
      val sub = parsed.transformDown {
        case f: UnresolvedFunction
            if Set("count", "sum", "avg", "mean")
              .contains(f.nameParts.last.toLowerCase) =>
          i += 1
          val x = xNew(s"__ivm_x${i}_$n")
          lazy val xc = xNew(s"__ivm_xc${i}_$n")
          val v = inner(i) match {
            case "count" => x
            case "sum" => when(xc === 0, lit(null)).otherwise(x)
            case "avg" => when(xc === 0, lit(null)).otherwise(x / xc)
          }
          org.apache.spark.sql.graftbridge.Bridge
            .expression(v.cast(aggTypes(i)))
      }
      org.apache.spark.sql.graftbridge.Bridge.column(sub)
    }
    // cast back everywhere: +/least on decimals widens precision, and
    // the view's column types must stay put across refreshes
    val mergedView: Seq[Column] = viewSchema.fields.toSeq.map { f =>
      val kind = shape.kinds.find(_._1 == f.name).get._2
      (kind match {
        case IvmGroup => keyCol(f.name)
        case IvmCount =>
          nz(col(s"o_${f.name}")) + nz(acol(f.name)) - nz(dcol(f.name))
        case IvmSum =>
          val s2 = nz(col(s"o_${f.name}")) + nz(acol(f.name)) - nz(dcol(f.name))
          when(cNew(f.name) === 0, lit(null)).otherwise(s2)
        case IvmAvg =>
          when(cNew(f.name) === 0, lit(null))
            .otherwise(sNew(f.name) / cNew(f.name))
        case IvmMin => least(col(s"o_${f.name}"), acol(f.name))
        case IvmMax => greatest(col(s"o_${f.name}"), acol(f.name))
        case IvmExpr(inner) =>
          exprMerged(f.name, shape.kinds.indexWhere(_._1 == f.name), inner)
      }).cast(f.dataType).as(f.name)
    }
    val mergedHidden: Seq[Column] = shape.hiddenCols.map { h =>
      val v = if (h == "__ivm_n") nNew
        else if (h.startsWith("__ivm_s_")) sNew(h.stripPrefix("__ivm_s_"))
        else if (h.startsWith("__ivm_x")) xNew(h) // IvmExpr sidecars
        else cNew(h.stripPrefix("__ivm_c_"))
      v.cast(auxSchema(h).dataType).as(h)
    }
    // a deleted value at (or below/above) the stored-or-incoming
    // extremum may have BEEN the extremum: flag the group for targeted
    // re-aggregation (equality is conservative — a duplicate would
    // survive, but recomputing is always correct)
    val evictAny: Column = shape.minMaxCols.map { case (n, k) =>
      if (d.isEmpty) lit(false)
      else {
        val cand = if (k == IvmMin) least(col(s"o_$n"), acol(n))
          else greatest(col(s"o_$n"), acol(n))
        // the delete replay's own min/max column IS the deleted extremum
        // for the group
        val dv = dcol(n)
        dv.isNotNull && (cand.isNull ||
          (if (k == IvmMin) dv <= cand else dv >= cand))
      }
    }.reduceOption(_ || _).getOrElse(lit(false))
    val merged = withD
      .select((mergedView ++ mergedHidden :+ evictAny.as("__ivm_evict")).toIndexedSeq: _*)
      .checkpointScoped
    val survivors =
      if (groupCols.isEmpty) merged // a global aggregate always has a row
      else merged.filter(col("__ivm_n") > 0)
    val okRows = survivors.filter(!col("__ivm_evict")).drop("__ivm_evict")
    val combined =
      if (dAgg.isEmpty || shape.minMaxCols.isEmpty) okRows
      // ungrouped extremum (r16): the one "group" is the whole body, so a
      // FIRED eviction is by definition the full recompute — take it
      // honestly. But eviction now checks LAZILY against the merged row
      // (the stored extremum is a k=1 eviction sidecar): a delete whose
      // own max/min never ties-or-beats the stored one merges
      // incrementally like any COUNT/SUM — the common case for churny
      // fact deletes. Cheap: `merged` is already localCheckpoint()ed.
      else if (groupCols.isEmpty) {
        if (!survivors.filter(col("__ivm_evict")).isEmpty) return None
        okRows
      }
      // belt-and-braces Try: bareGroups is traced to real base columns,
      // but any residual resolution failure here must degrade to a full
      // recompute, never error the REFRESH statement
      else scala.util.Try {
        val keys = survivors.filter(col("__ivm_evict"))
          .select(groupCols.map(col): _*).checkpointScoped
        // push the evicted keys into EVERY base that owns some group key
        // as a bare column (broadcast semi — the key set is tiny). A
        // base owning only part of the key — or none — filters to a
        // SUPERSET of the evicted groups' rows (or reads live in full),
        // so the replay is trimmed to exactly the evicted groups on the
        // view's own group outputs afterwards. Correctness never depends
        // on the pushdown; the filters only narrow the rescans.
        val overlays = shape.bases.flatMap { b =>
          val owned = shape.bareGroups.filter(_._2.equalsIgnoreCase(b))
          if (owned.isEmpty) None
          else {
            val renamed = keys.select(owned.map { case (out, _, bcol) =>
              col(out).as(bcol) }.toIndexedSeq: _*).dropDuplicates()
            val baseDf = spark.table(b)
            Some(b -> baseDf.join(broadcast(renamed),
              owned.map { case (_, _, bcol) => baseDf(bcol) <=> renamed(bcol) }
                .reduce(_ && _), "left_semi"))
          }
        }
        val recomputed = replayWith(overlays)
        val trimmed = recomputed.join(broadcast(keys),
          groupCols.map(g => recomputed(g) <=> keys(g)).reduce(_ && _),
          "left_semi")
        okRows.unionByName(
          trimmed.select((viewSchema.fieldNames.toSeq ++ shape.hiddenCols)
            .map(col): _*)).checkpointScoped
      }.getOrElse(return None)
    Some((shape.viewOf(combined.select(viewSchema.fieldNames.toSeq.map(col): _*)),
      combined.select(shape.auxCols.map(col): _*)))
  }

  private def dispatch(stmt: String): DataFrame = stmt match {
    case """\dt""" => systemTable("pg_tables")
    // shell sugar parity with the reference REPL (src/db.rs:64-81)
    case """\di""" => systemTable("pg_indexes")
    case """\ds""" => systemTable("pg_sequences")
    case reDescribe(name) =>
      systemTable("pg_attribute").where(col("tablename") === name)
    case reStat(tbl, column) => stat(Option(tbl), Option(column))
    case reCreateMatView(name, query) =>
      requireNoTempRefs(query, "materialized view")
      val res = createTableAs(name, None, query)
      matviews(name) = query.trim
      anchorMatview(name, query.trim)
      saveManifest()
      res
    case reRefreshMatView(name) =>
      require(matviews.contains(name), s"no such materialized view: $name")
      val body = matviews(name)
      // apply just the base's append + recorded-delete deltas when
      // provably safe; anything else (updates, joins, vacuumed history,
      // non-mergeable aggregates) recomputes fully. An eligible shape's
      // full recompute runs the DECOMPOSED body once (checkpointed) so
      // the sidecar rides the same aggregation.
      // belt-and-braces: an incremental-merge failure of ANY kind (a
      // sidecar misalignment, an analysis surprise in a substituted
      // expression) must degrade to the always-correct full recompute,
      // never error the REFRESH statement
      val (df, aux, mode) = scala.util.Try(incrementalRefresh(name, body))
          .toOption.flatten match {
        case Some((v, a)) => (v, Some(a), "incremental")
        case None => ivmShape(body) match {
          case Some(s) =>
            val dec = ivmDecomposedBody(body).checkpointScoped
            // viewOf applies any HAVING condition and drops its
            // aux-only aggregates; the sidecar keeps every group
            (s.viewOf(dec).select(dec.columns
              .filterNot(_.startsWith("__ivm_"))
              .map(col).toIndexedSeq: _*),
              Some(dec.select(s.auxCols.map(col): _*)), "full")
          case None => (run(body), None, "full")
        }
      }
      // data first: if the swap throws (disk full, runtime error in the
      // body), neither the catalog entry nor the manifest has moved —
      // the old snapshot stays fully consistent. Only after the commit
      // does the catalog pick up any schema drift from the sources.
      rewriteSwap(name, df, "refresh materialized view")
      tables(name) = (df.schema, tables(name)._2)
      // the commit just recorded captured the pre-drift schema; pin the
      // refreshed one so an archived read of THIS version resolves right
      history(name) = history(name).init :+
        history(name).last.copy(ddl = df.schema.toDDL)
      register(name)
      refresh(name)
      anchorMatview(name, body, aux)
      saveManifest()
      spark.range(1).select(lit(mode).as("refresh_mode"))
    case reDropMatView(name) =>
      require(matviews.contains(name), s"no such materialized view: $name")
      matviews.remove(name)
      matviewBase.remove(name)
      if (Files.isDirectory(auxRoot(name)))
        deleteRecursively(auxRoot(name), keepRoot = false)
      drop("table", name)
    case reCreateTableAs(name, pCols, bCol, bN, query) =>
      createTableAs(name, Option(bCol).map(c => (c, bN.toInt)), query,
        parsePartitionCols(pCols))
    case reCreateTable(name, colsSpec, pCols, bCol, bN) =>
      createTable(name, colsSpec,
        Option(bCol).map(c => (c, bN.toInt)), parsePartitionCols(pCols))
    case reCreateView(name, cols, rawBody) =>
      // column aliases rename positionally via a derived-table alias, so
      // the stored text stays pure SQL and re-plans like any other view
      val body = Option(cols).filter(_.trim.nonEmpty) match {
        case Some(cs) => s"SELECT * FROM ($rawBody) AS __v($cs)"
        case None => rawBody
      }
      // a TEMP view (arriving mangled from the run() rewrite) may read
      // temp tables; a PERMANENT one may not — it would outlive them
      if (!name.toLowerCase.startsWith("graft_temp_"))
        requireNoTempRefs(body, "view")
      views(name) = body
      spark.sql(inlineFunctions(rewriteQualify(body))).createOrReplaceTempView(name)
      saveManifest()
      emptyResult
    case reCreateIndex(name, table, method, column, opts) =>
      indexes(name) = (table, column, Option(method).getOrElse("btree"),
        Option(opts).getOrElse(""))
      saveManifest()
      emptyResult
    case reCreateFunction(name, params, bodyQ, _, bodyD, bodyR) =>
      // a type-only spec (`INT`) is an UNNAMED parameter — reachable via $n
      // only; recording its type as a "name" would corrupt bodies that
      // mention the type word (e.g. `cast($1 as int)`)
      val ps = params.split(",").map(_.trim).filter(_.nonEmpty).map { spec =>
        val toks = spec.split("\\s+")
        if (toks.length >= 2) toks(0) else ""
      }.toSeq
      // the quoted `as '...'` form arrives with its interior '' escapes
      // still doubled (the regex captured the raw span) — collapse them
      // FIRST or the conformance scan below inverts its quote state at
      // each ''; then conform the body's literals NOW: expansion splices
      // it into text that already crossed conformLiterals, so it would
      // otherwise be the one fragment parsed with C-escape semantics
      val body = SqlText.conformLiterals(
        Option(bodyQ).map(_.replace("''", "'"))
          .orElse(Option(bodyD))
          .getOrElse("select " + bodyR))
      functions(name.toLowerCase) = (ps, body)
      saveManifest()
      emptyResult
    case reInsertValues(table, colList, ovr, source) =>
      // GENERATED ALWAYS identity columns refuse explicit values unless
      // OVERRIDING SYSTEM VALUE says so (pg). OVERRIDING USER VALUE
      // (pg: silently ignore the given identity values) errors honestly
      // rather than diverge silently — omit the column instead.
      require(ovr == null || !ovr.equalsIgnoreCase("user"),
        "OVERRIDING USER VALUE is not supported: omit the identity column " +
          "(or write DEFAULT) to take the sequence value")
      checkIdentityAlways(table, Option(colList), source,
        overridingSystem = ovr != null)
      val oc = SqlText.indexOfTopLevelPhrase(source, Seq("on", "conflict"))
      if (oc < 0) insert(table, Option(colList), source)
      else {
        val reOC =
          """(?is)on\s+conflict\s*\(([^)]*)\)\s*do\s+(?:(nothing)|update\s+set\s+(.+))\s*""".r
        source.substring(oc) match {
          case reOC(keys, _, sets) =>
            upsert(table, Option(colList), source.substring(0, oc), keys,
              Option(sets))
          case _ => throw new IllegalArgumentException(
            "ON CONFLICT supports (columns) DO NOTHING | DO UPDATE SET ...")
        }
      }
    case reDelete(table, cond) => delete(table, Option(cond))
    case reUpdate(table, rest) if tables.contains(table) =>
      val (setList, cond) = splitSetWhere(rest)
      update(table, setList, cond)
    case reMerge(tgt, src, rest) if tables.contains(tgt) =>
      merge(tgt, src, rest)
    case reAlterAddCol(table, colName, typeSpec) if tables.contains(table) =>
      alterAddColumn(table, colName, typeSpec)
    case reAlterDropCol(table, colName) if tables.contains(table) =>
      alterDropColumn(table, colName)
    case reAlterRenameCol(table, from, to) if tables.contains(table) =>
      alterRenameColumn(table, from, to)
    case reAlterRenameTable(from, to) if tables.contains(from) =>
      alterRenameTable(from, to)
    case reAlterAddConstraint(table, clause) if tables.contains(table) =>
      alterAddConstraint(table, clause)
    case reAlterDropConstraint(table, ie, name) if tables.contains(table) =>
      alterDropConstraint(table, name, ifExists = ie != null)
    case reAlterNotNull(table, colName, mode) if tables.contains(table) =>
      alterNotNull(table, colName, set = mode.equalsIgnoreCase("set"))
    case reTruncate(table, idMode) if tables.contains(table) =>
      val res = truncate(table)
      // pg TRUNCATE ... RESTART IDENTITY: owned sequences restart at
      // their START value (CONTINUE IDENTITY is the default, a no-op)
      if (idMode != null && idMode.toLowerCase.startsWith("restart"))
        sequences.synchronized {
          sequences.values
            .filter(_.owner.exists(_._1.equalsIgnoreCase(table)))
            .foreach { s => s.last = s.start; s.called = false }
          saveManifest()
        }
      res
    case reDescribeHistory(table) => describeHistory(table)
    case reVacuum(table, retain) =>
      require(tables.contains(table), s"no such table: $table")
      vacuum(table, Option(retain).map(_.toInt).getOrElse(0))
    case reRestore(table, v, ts) =>
      require(tables.contains(table), s"no such table: $table")
      restoreTable(table,
        Option(v).map(_.toInt).getOrElse(versionAtTimestamp(table, ts)))
    case reOptimize(table, za, zb, nf) if tables.contains(table) =>
      optimizeTable(table, Option(za), Option(zb), Option(nf).map(_.toInt))
    case reCopyFrom(table, path, opts) => copyFrom(table, path, Option(opts))
    case reCopyTo(table, path, opts) => copyTo(table, path, Option(opts))
    case qy if reCopyQueryStart.findFirstIn(qy).isDefined =>
      // pg's COPY (query) TO: export any result, not just whole tables
      val open = qy.indexOf('(')
      val close = matchingParen(qy, open)
      qy.substring(close + 1) match {
        case reCopyQueryTo(path, opts) =>
          copyToDf(run(qy.substring(open + 1, close)), path, Option(opts))
        case _ => throw new IllegalArgumentException(
          "COPY (query) supports only TO '<path>' [(options)]")
      }
    case rePrepare(name, _, body) =>
      // the optional type list is accepted for pg compatibility but not
      // needed: $n sites take the EXECUTE argument text verbatim and the
      // planner infers types from context, like the SQL UDF tier.
      // Duplicate names error like pg (and like DECLARE below);
      // putIfAbsent keeps the check-then-put atomic on the shared map.
      if (preparedStatements.putIfAbsent(name.toLowerCase, body.trim).isDefined)
        throw new IllegalArgumentException(
          s"""prepared statement "$name" already exists""")
      emptyResult
    case reExecuteStmt(name, args) if preparedStatements.contains(name.toLowerCase) =>
      val body = preparedStatements(name.toLowerCase)
      val actuals = Option(args).map(splitTopLevel).getOrElse(Seq.empty)
      // $n inside a string literal is payload (pg treats it as text) —
      // mapOutsideQuotes keeps the quote handling in the one
      // property-tested scanner; \$(\d+) means $10 never partially
      // matches as $1, and a $n beyond the argument list fails like pg's
      // "wrong number of parameters" instead of leaking into the parser
      val bound = mapOutsideQuotes(body, seg =>
        """\$(\d+)""".r.replaceAllIn(seg, m => {
          val idx = m.group(1).toInt
          if (idx >= 1 && idx <= actuals.length)
            java.util.regex.Matcher.quoteReplacement(s"(${actuals(idx - 1)})")
          else throw new IllegalArgumentException(
            s"wrong number of parameters for prepared statement \"$name\": " +
              s"got ${actuals.length}, statement references $$$idx")
        }))
      run(bound)
    case reExecuteStmt(name, _) => throw new IllegalArgumentException(
      s"prepared statement \"$name\" does not exist")
    case reDeallocate(name) =>
      if (name.equalsIgnoreCase("all")) preparedStatements.clear()
      else if (preparedStatements.remove(name.toLowerCase).isEmpty)
        throw new IllegalArgumentException(
          s"prepared statement \"$name\" does not exist")
      emptyResult
    case reDeclareCursor(name, scrollOpt, query) =>
      require(!sess.cursors.contains(name), s"""cursor "$name" already exists""")
      val df = run(query)
      val scroll = Option(scrollOpt).exists(_.equalsIgnoreCase("scroll"))
      // snapshot: one distributed write into a private spill dir (bounded
      // by disk, not driver memory). An explicit ordinal pins the row
      // order through the round trip — monotonically_increasing_id
      // follows the declared query's partition order, and the snapshot
      // scan re-sorts on it (split packing on read does NOT preserve
      // file order on its own).
      val dir = Files.createTempDirectory("graft-cursor")
      try {
        val data = dir.resolve("data").toString
        // dodge a user column that happens to carry the ordinal's name
        var ord = "__graft_ord"
        while (df.columns.contains(ord)) ord += "_x"
        val withOrd = df.withColumn(ord, monotonically_increasing_id())
        if (scroll) {
          // SCROLL needs row ARITHMETIC (ABSOLUTE -3, BACKWARD 2), which
          // the partition-striped monotonic id can't do — rewrite the
          // spill once with a contiguous 1-based position. DISTRIBUTED:
          // range-partition on the monotonic id (ascending, disjoint
          // partitions), sort within each, then zipWithIndex's two-pass
          // per-partition-count + offset stamp — no single-task global
          // Window, so a big export cursor stays parallel at DECLARE.
          val tmp = dir.resolve("tmp").toString
          withOrd.write.parquet(tmp)
          val sorted = spark.read.schema(withOrd.schema).parquet(tmp)
            .repartitionByRange(col(ord)).sortWithinPartitions(col(ord))
          val schema = withOrd.schema
          spark.createDataFrame(
            sorted.rdd.zipWithIndex().map { case (r, i) =>
              org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ (i + 1L)) },
            schema).write.parquet(data)
          deleteRecursively(dir.resolve("tmp"), keepRoot = false)
          val snap = spark.read.schema(withOrd.schema).parquet(data)
          sess.cursors(name) =
            new ScrollCursor(snap, ord, snap.count(), df.schema, dir)
        } else {
          withOrd.write.parquet(data)
          val snap = spark.read.schema(withOrd.schema).parquet(data)
            .orderBy(ord).drop(ord)
          sess.cursors(name) = ForwardCursor(snap.toLocalIterator(), df.schema, dir)
        }
      } catch {
        case e: Exception => // failed snapshot: no orphan spill dir
          deleteRecursively(dir, keepRoot = false)
          throw e
      }
      emptyResult
    case reFetch(verb, spec, name) if sess.cursors.contains(name) =>
      val rows = sess.cursors(name) match {
        case ForwardCursor(it, schema, _) =>
          val n = Option(spec).map(_.toLowerCase.replaceAll("\\s+", " ")) match {
            case None | Some("next") | Some("forward") => 1
            case Some("all") | Some("forward all") => Int.MaxValue
            case Some(d) if d.stripPrefix("+").forall(_.isDigit) &&
                d.stripPrefix("+").nonEmpty =>
              // pg accepts int8 counts: clamp on numeric VALUE (a length
              // check would read zero-padded '0000000001' as huge)
              BigInt(d).min(Int.MaxValue).toInt
            case Some(f) if f.startsWith("forward ") &&
                f.stripPrefix("forward ").stripPrefix("+").forall(_.isDigit) =>
              BigInt(f.stripPrefix("forward ")).min(Int.MaxValue).toInt
            // a negative count means BACKWARD — a plain cursor can't
            case Some(other) => throw new IllegalArgumentException(
              s"""cursor "$name" is not scrollable ($other needs """ +
                "DECLARE ... SCROLL CURSOR)")
          }
          val buf = mutable.Buffer[org.apache.spark.sql.Row]()
          while (buf.length < n && it.hasNext) buf += it.next()
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(buf.asJava, schema)
        case sc: ScrollCursor => scrollFetch(sc, Option(spec))
      }
      if (verb.equalsIgnoreCase("move")) rowCountResult(rows.count())
      else rows
    case reFetch(_, _, name) => throw new IllegalArgumentException(
      s"""cursor "$name" does not exist""")
    case reCloseCursor(name) =>
      if (name.equalsIgnoreCase("all")) {
        sess.cursors.values.foreach(c => deleteRecursively(c.dir, keepRoot = false))
        sess.cursors.clear()
      } else sess.cursors.remove(name) match {
        case Some(c) => deleteRecursively(c.dir, keepRoot = false)
        case None => throw new IllegalArgumentException(
          s"""cursor "$name" does not exist""")
      }
      emptyResult
    case reBegin() => beginTxn(stmt)
    case reSetTransaction() => setTransactionModes(stmt)
    case reCommit() => commitTxn()
    case reRollback() => rollbackTxn()
    case reSavepoint(name) => savepoint(name)
    case reRollbackTo(name) => rollbackToSavepoint(name)
    case reRelease(name) => releaseSavepoint(name)
    case reCreateSequence(ine, name, opts) =>
      createSequence(name, opts, ifNotExists = ine != null)
    case reAlterSequence(name, opts) => alterSequence(name, opts)
    case reDropSequence(ie, name) => dropSequence(name, ifExists = ie != null)
    case reDrop(kind, name) => drop(kind.toLowerCase, name)
    case rePragma(key, value) => pragma(key, Option(value))
    case reSet(key, value) =>
      // unquoted DEFAULT is pg's RESET spelling (quoted 'default' is a value)
      if (value.equalsIgnoreCase("default")) resetVar(key)
      else setVar(key, unquoteSetValue(value))
    case reSetTimeZone(v) =>
      val z = unquoteSetValue(v)
      if (z.equalsIgnoreCase("local") || z.equalsIgnoreCase("default"))
        resetVar("timezone")
      else setVar("timezone", z)
    case reSetTo(key, value) =>
      if (value.trim.equalsIgnoreCase("default")) resetVar(key)
      else setVar(key, unquoteSetValue(value))
    case reShowTimeZone() => showVar("timezone")
    case reShowAll() => showAll()
    case reShowVar(key) if showableGucs.contains(key.toLowerCase) ||
        sess.confOverlay.contains(key.toLowerCase) ||
        sess.pragmas.contains(key.toLowerCase) => showVar(key)
    case reDiscard(what) => discard(what.toLowerCase)
    case reResetStmt(key) => resetVar(key)
    case reExplainAnalyze(body) => explainAnalyze(body)
    case reExplain(body) =>
      import spark.implicits._
      // cost section carries per-node Statistics (sizeInBytes, and
      // rowCount once the table is ANALYZEd — CBO is on for the engine
      // session), the behavior-level analogue of the reference's
      // per-node cost+rows explain (src/planner/explain.rs).
      // A statement the vector IndexScan tier would intercept explains
      // THAT plan (the probed scan), not the full scan it replaces.
      val qe = vectorIndexScan(body)
        .getOrElse(spark.sql(inlineFunctions(rewriteQualify(body)))).queryExecution
      val plan =
        qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("cost")) +
          "\n" +
          qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Seq(plan).toDF("plan")
    // pg's data-modifying CTEs: WITH d AS (DELETE ... RETURNING *) SELECT
    // ... FROM d — each DML member runs once (its RETURNING rows become a
    // temp relation named like the CTE), then the rebuilt statement runs
    // with only the plain members left in its WITH list. pg SNAPSHOT
    // visibility: every READ of an engine table — by any member or the
    // tail — resolves to the statement-start image (overlaid temp views
    // over the hard-link-archived current version, O(#files) metadata);
    // only each DML's own write target stays live, for the write itself.
    // Effects travel between parts only via RETURNING relations, like pg.
    // Remaining documented edge: a DML whose SOURCE reads its own write
    // target sees the live table (pg calls same-row multi-touch in one
    // statement unsupported anyway).
    case q if q.toLowerCase.startsWith("with") && parseDmlWith(q).isDefined =>
      val (ctes, tail) = parseDmlWith(q).get
      def isDml(t: String): Boolean = {
        val lw = t.trim.toLowerCase
        lw.startsWith("insert") || lw.startsWith("update") ||
          lw.startsWith("delete")
      }
      val reTarget = """(?is)\s*(?:insert\s+into|delete\s+from|update)\s+(\w+).*""".r
      def dmlTarget(t: String): Option[String] =
        t match { case reTarget(n) => Some(n); case _ => None }
      val cteNames = ctes.map(_._1.toLowerCase).toSet
      // engine tables named anywhere outside string literals (a CTE name
      // shadowing a table keeps CTE precedence — no overlay for it)
      val outside = { val sb = new StringBuilder
        mapOutsideQuotes(q, seg => { sb.append(seg).append(' '); seg })
        sb.toString.toLowerCase }
      val referenced = tables.keys.toSeq.filter { t =>
        !cteNames(t.toLowerCase) && history.get(t).exists(_.nonEmpty) &&
          ("""(?i)\b""" + java.util.regex.Pattern.quote(t) + """\b""").r
            .findFirstIn(outside).isDefined
      }
      // pin the statement-start image: the current version directory,
      // which a member's commit never touches — so the snapshot frame
      // stays readable after the table moves on mid-statement
      val snaps: Map[String, DataFrame] = referenced.map { t =>
        val log = history(t)
        t -> spark.read.schema(StructType.fromDDL(log.last.ddl))
          .parquet(versionDir(t, log.length - 1).toString)
      }.toMap
      val created = mutable.LinkedHashSet[String]()
      val saved = mutable.Map[String, DataFrame]() // clobbered temp views
      def putView(n: String, df: DataFrame): Unit = {
        if (!created.contains(n) && !saved.contains(n) &&
            spark.catalog.tableExists(n) && spark.catalog.getTable(n).isTemporary)
          saved(n) = spark.table(n)
        df.createOrReplaceTempView(n)
        created += n
      }
      snapshotOverlayDepth.incrementAndGet()
      try {
        snaps.foreach { case (t, df) => putView(t, df) }
        val keep = ctes.flatMap { case (n, b) =>
          if (isDml(b)) {
            // un-overlay just this member's write target so the mutation
            // lands on the live table; the member's result frame
            // (RETURNING rows, or the one-row rows_affected) is
            // checkpointed, so LATER members swapping the same table
            // can't invalidate it
            val target = dmlTarget(b).filter(snaps.contains)
            target.foreach(spark.catalog.dropTempView(_))
            val res =
              try run(b).checkpointScoped
              finally target.foreach(t => snaps(t).createOrReplaceTempView(t))
            putView(n, res)
            None
          } else if (isDml(tail)) {
            // a DML tail re-enters the INSERT/UPDATE/DELETE dispatch,
            // whose grammar carries no WITH list — plain members become
            // (lazy) temp relations its source/conditions can reference;
            // analysis binds them to the snapshot overlays NOW, so they
            // keep the statement-start image even once the tail's own
            // target is un-overlaid below
            putView(n, run(b))
            None
          } else Some((n, b))
        }
        val rebuilt =
          if (keep.isEmpty) tail
          else s"WITH ${keep.map { case (n, b) => s"$n AS ($b)" }.mkString(", ")} $tail"
        if (isDml(tail))
          dmlTarget(tail).filter(snaps.contains)
            .foreach(spark.catalog.dropTempView(_))
        // materialize before the finally drops the member views the lazy
        // tail plan references
        run(rebuilt).checkpointScoped
      } finally {
        snapshotOverlayDepth.decrementAndGet()
        created.foreach(n =>
          try spark.catalog.dropTempView(n) catch { case _: Exception => })
        // anything we shadowed (a mock-hint broadcast view, a user temp
        // view sharing a CTE name) comes back exactly as it was
        saved.foreach { case (n, df) =>
          try df.createOrReplaceTempView(n) catch { case _: Exception => } }
      }
    case qRaw if qRaw.toLowerCase.startsWith("select") || qRaw.toLowerCase.startsWith("with") ||
        qRaw.toLowerCase.startsWith("values") || qRaw.toLowerCase.startsWith("table") =>
      {
          // sequence functions compute ONCE per textual occurrence and
          // substitute as literals — pg's semantics for a scalar SELECT,
          // and for currval/lastval anywhere (stable in-statement);
          // per-row nextval over a FROM source is refused inside
          // rewriteSeqFns with a pointer to the SERIAL/DEFAULT path
          // (current_setting()/version() substitute inside
          // inlineFunctions below — the chokepoint every path shares)
          val q = if (usesSequenceFn(qRaw))
            rewriteSeqFns(qRaw, allowNextval =
              SqlText.indexOfTopLevelPhrase(qRaw, Seq("from")) < 0)
          else qRaw
          // QUALIFY (DuckDB/Snowflake extension) is rewritten to plain
          // SQL before anything else — recursively, so subquery and CTE
          // bodies carrying their own QUALIFY work too
          val q2r = rewriteQualify(q)
          // VERSION AS OF / TIMESTAMP AS OF resolve to per-invocation
          // snapshot views (dropped after analysis in the finally below)
          val (q2, ttViews) = rewriteTimeTravel(q2r)
          try {
          var inlined = inlineFunctions(q2)
          analysisErrorParity(inlined)
          refreshViews()
          // information_schema (extension: what BI tools and JDBC metadata
          // probes actually query) — qualified names can't be temp views,
          // so rewrite them to the lazily-registered unqualified twins.
          // Quote-aware: the qualified name inside a string literal is
          // payload. Runs after the single refreshViews (columns
          // introspection plans view bodies).
          if (inlined.toLowerCase.contains("information_schema.")) {
            val infoNames = Seq("tables", "columns", "views", "routines",
              "referential_constraints")
            infoNames.foreach { n =>
              systemTable(s"information_schema.$n")
                .createOrReplaceTempView(s"__graft_info_$n")
            }
            inlined = mapOutsideQuotes(inlined, seg =>
              infoNames.foldLeft(seg) { (acc, n) =>
                acc.replaceAll(s"(?i)\\binformation_schema\\.$n\\b",
                  s"__graft_info_$n")
              })
          }
          // system tables resolve from plain SQL too (reference
          // internal.slt): registered lazily, only when the statement
          // names one
          lazySystemTables
            .filter(n => s"\\b$n\\b".r.findFirstIn(inlined.toLowerCase).isDefined)
            .foreach(n => systemTable(n).createOrReplaceTempView(n))
          // pg_settings is the one SESSION-DEPENDENT system table: a
          // shared view name would race two concurrent read-locked
          // sessions into each other's GUC snapshots, so it registers
          // under a per-session name, the reference is rewritten
          // QUOTE-AWARE ('pg_settings' in a literal is payload), and the
          // view drops with the statement (no catalog growth under
          // connection churn). Reachable from this SELECT path only —
          // CTAS/INSERT sources don't resolve it, documented.
          var psView: Option[String] = None
          val rePgSettings = "(?i)(?:\\bpg_catalog\\s*\\.\\s*)?\\bpg_settings\\b"
          val psRewritten = mapOutsideQuotes(inlined,
            _.replaceAll(rePgSettings, "__graft_pg_settings_ref"))
          if (psRewritten != inlined) {
            // per-STATEMENT view name: two threads sharing one session
            // (the embedded default) must not create/drop each other's
            // snapshot mid-analysis
            val vn = s"__graft_pg_settings_${sess.id}_${ttCounter.incrementAndGet()}"
            systemTable("pg_settings").createOrReplaceTempView(vn)
            psView = Some(vn)
            inlined = psRewritten.replace("__graft_pg_settings_ref", vn)
          }
          try {
          // r18 plan cache: a repeated identical read-only statement —
          // the hot pgwire EXECUTE loop — reuses the fully planned
          // DataFrame, skipping parse+analyze+optimize. The key is the
          // FULLY REWRITTEN text (params, sequence values,
          // current_setting, temp aliases all substituted), so any
          // session state that reaches the plan reaches the key; the
          // epoch invalidates on every commit/DDL/SET (a pinned file
          // listing must never serve post-append reads). Excluded:
          // system/info-table snapshots (re-registered per statement),
          // time-travel views (unique per call), nondeterministic plans
          // (each EXECUTE must draw fresh), and any statement planned
          // while a DML-CTE's statement-start snapshot overlay is up —
          // that plan binds the PRE-STATEMENT image of every referenced
          // table under its ordinary name, so serving it to a later
          // identical SELECT would resurrect deleted rows.
          val cacheable = snapshotOverlayDepth.get == 0 &&
            ttViews.isEmpty && !inlined.contains("__graft_") &&
            !lazySystemTables.exists(n => s"\\b$n\\b".r
              .findFirstIn(inlined.toLowerCase).isDefined)
          val cacheKey = s"${sess.vectorIndexEnabled}:$inlined"
          val epoch = planCacheEpoch.get
          // a bound extended-protocol SELECT (see runGeneric): `inlined`
          // is its rewritten template, analyzed and optimized once and
          // cached under its own key; each execution binds the values
          // and plans physically. No snapshotPin: no transaction is open.
          val binding = sess.binding
          sess.binding = None
          binding match {
            case Some(b) =>
              def refuse = new IllegalArgumentException("no generic plan")
              if (!cacheable || vectorIndexScan(q2).isDefined) throw refuse
              val key = "generic:" + cacheKey
              val template = planCacheGet(key, epoch).getOrElse {
                val df = spark.sql(inlined)
                if (!planDeterministic(df) || planTimeDependent(df) ||
                    !graft.plans.GenericPlans.eligible(df.queryExecution.optimizedPlan))
                  throw refuse
                planCachePut(key, epoch, df)
                df
              }
              graft.plans.GenericPlans.bind(spark, template, b.params)
            case None =>
              val hit = if (cacheable) planCacheGet(cacheKey, epoch) else None
              // repeatable read: pin/substitute table versions (analysis
              // happens here, inside the try, while the tt views still exist)
              snapshotPin(hit.getOrElse {
                val df = vectorIndexScan(q2).getOrElse(spark.sql(inlined))
                if (cacheable && planDeterministic(df) && !planTimeDependent(df))
                  planCachePut(cacheKey, epoch, df)
                df
              })
          }
          } finally psView.foreach(v =>
            scala.util.Try(spark.catalog.dropTempView(v)))
          } finally ttViews.foreach(v => spark.catalog.dropTempView(v))
      }
    case reAnalyze(t) if tables.contains(t) =>
      // Spark's compareAndGetNewStats treats pre-existing stats as a
      // previous ANALYZE: a size delta WITHOUT a row-count delta (our
      // auto-stats count is already exact) makes it drop rowCount from
      // the new stats. Clear first so ANALYZE writes the complete pair.
      // An overlay table ANALYZEs its RAW catalog entry (the temp view
      // would refuse); stats land where the scans read them.
      val stmtA = if (!overlayOn(t)) stmt
        else stmt.replaceFirst("(?i)(table\\s+)" + t + "\\b",
          "$1" + rawName(t))
      scala.util.Try(spark.sessionState.catalog.alterTableStats(
        org.apache.spark.sql.catalyst.TableIdentifier(catName(t)), None))
      // FOR COLUMNS also collects an equi-height histogram (the extra
      // percentile pass only runs on explicit ANALYZE, never on the
      // auto-stats path) — CBO then estimates skewed predicates from
      // bins instead of assuming a uniform value distribution
      val histWas = spark.conf.getOption("spark.sql.statistics.histogram.enabled")
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      val res = try spark.sql(stmtA)
      finally histWas match {
        case Some(v) => spark.conf.set("spark.sql.statistics.histogram.enabled", v)
        case None => spark.conf.unset("spark.sql.statistics.histogram.enabled")
      }
      // adopt the computed stats into the ledgers, so a later
      // re-registration (or engine restart) pushes — not clears — them:
      // row count as before, and FOR COLUMNS results verbatim
      // (min/max already in CatalogColumnStat's external string form)
      scala.util.Try {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(catName(t)))
        meta.stats.foreach { st =>
          st.rowCount.foreach(n => rowCounts(t) = n.toLong)
          if (st.colStats.nonEmpty) {
            val ledger = colStatsLedger.getOrElseUpdate(t, mutable.Map.empty)
            st.colStats.foreach { case (c, s) =>
              ledger(c) = ColLedger(s.distinctCount.map(_.toLong),
                s.min, s.max, s.nullCount.map(_.toLong),
                s.histogram.map(org.apache.spark.sql.catalyst.plans
                  .logical.HistogramSerializer.serialize))
            }
            saveManifest()
          }
        }
      }
      res
    case other => refreshViews(); spark.sql(inlineFunctions(rewriteQualify(other)))
  }

  // ---- time travel (extension: delta/iceberg surface over the swap layout)

  private val ttCounter = new java.util.concurrent.atomic.AtomicLong()

  // ---- prepared/repeated-statement plan cache (r18) ------------------------
  // fully-rewritten text → (epoch, planned DataFrame). The epoch bumps on
  // every catalog save (all DDL and every DML commit route through
  // saveManifest) and on SET/RESET/PRAGMA/DISCARD, so a cached plan can
  // never pin a stale file listing, view definition, mock hint or
  // execution conf. LRU-bounded; reads happen under the statement READ
  // lock (concurrent sessions), hence the synchronized access-order map.
  private val planCacheEpoch = new java.util.concurrent.atomic.AtomicLong()
  /** >0 while a DML-CTE's statement-start snapshot overlay shadows
    * engine tables with their pre-statement image — every nested
    * plan built in that window is overlay-bound and must not cache.
    */
  private val snapshotOverlayDepth = new java.util.concurrent.atomic.AtomicInteger()
  private[engine] def bumpPlanEpoch(): Unit = planCacheEpoch.incrementAndGet()
  private def lru[V](): java.util.LinkedHashMap[String, V] =
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size > 64
    }
  private val planCache = lru[(Long, DataFrame)]()
  /** Extended-protocol templates refused a generic plan → the epoch of
    * the verdict; they take the bound-text path until the epoch moves.
    */
  private val genericRefused = lru[java.lang.Long]()
  /** observable by tests: proves an EXECUTE loop actually skipped
    * re-planning rather than re-parsing quickly
    */
  private[graft] val planCacheHits = new java.util.concurrent.atomic.AtomicLong()
  private def planCacheGet(key: String, epoch: Long): Option[DataFrame] =
    planCache.synchronized {
      val hit = Option(planCache.get(key))
        .collect { case (e, df) if e == epoch => df }
      if (hit.isDefined) planCacheHits.incrementAndGet()
      hit
    }
  private def planCachePut(key: String, epoch: Long, df: DataFrame): Unit =
    planCache.synchronized { planCache.put(key, (epoch, df)); () }

  /** A fresh, empty directory for `table`'s next version. Callers write
    * it completely before [[commitVersion]] makes it current.
    */
  private def newVersionDir(table: String): java.nio.file.Path =
    freshVersionDir(table, s"v${history.get(table).map(_.length).getOrElse(0)}")

  /** `<base>` under `table`'s history directory, or the first free
    * `<base>_<k>` while a directory of that name survives (a rolled-back
    * or dropped version some reader still pins), created empty. A name
    * is never shared by two versions that exist at the same time.
    */
  private def freshVersionDir(table: String, base: String): java.nio.file.Path = {
    val root = historyDir(table)
    var dir = root.resolve(base)
    var k = 0
    while (Files.exists(dir)) { k += 1; dir = root.resolve(s"${base}_$k") }
    Files.createDirectories(dir)
    dir
  }

  /** Flip `table`'s current-version pointer to the complete directory
    * `dir`: log the commit (schema captured NOW = the post-commit state),
    * update the ledgers, re-point the catalog and persist — all under the
    * write side of [[stmtLock]], so no statement plans against a
    * half-flipped table. The log is load-bearing across engine restarts
    * like the rest of the catalog.
    */
  private def commitVersion(table: String, dir: java.nio.file.Path,
      op: String)(ledger: => Unit): Unit = {
    beforeCommit(table)
    exclusively {
      txnTouch(table)
      history(table) = history(table) :+ Commit(System.currentTimeMillis(),
        op, tables(table)._1.toDDL, dir.getFileName.toString)
      ledger
      refresh(table)
      saveManifest()
      pushStats(table)
    }
    syncLive(table) // read by no statement: outside the lock
  }

  /** Runs as a commit starts, before its lock (tests park writers here). */
  @volatile private[graft] var beforeCommit: String => Unit = _ => ()

  /** Bring the live directory in step with the current version: link the
    * files it lacks, then drop the ones the version no longer has (file
    * names are unique per write job, so a shared name is a shared inode).
    */
  private def syncLive(table: String): Unit = {
    val live = liveDir(table)
    val cur = Paths.get(tableDir(table))
    // a missing version never empties the mirror
    if (!Files.isDirectory(cur)) return
    def files(root: java.nio.file.Path): Set[String] =
      if (!Files.isDirectory(root)) Set.empty
      else {
        val st = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(root.relativize(_).toString).toSet
        } finally st.close()
      }
    val want = files(cur)
    val have = files(live)
    Files.createDirectories(live)
    (want -- have).foreach { f =>
      val dst = live.resolve(f)
      Files.createDirectories(dst.getParent)
      linkOrCopy(dst, cur.resolve(f))
    }
    (have -- want).foreach(f => Files.delete(live.resolve(f)))
  }

  /** A commit that changes metadata only: the new version hard-links
    * every file of the current one.
    */
  private def linkCommit(table: String, op: String): Unit = {
    val dir = newVersionDir(table)
    linkTree(Paths.get(tableDir(table)), dir)
    commitVersion(table, dir, op)(())
  }

  /** Hard-link every file under `src` into `dst` (dirs recreated), skipping
    * names `dst` already holds (a write job's `_SUCCESS` marker). Falls
    * back to a copy only where the filesystem refuses links.
    */
  private def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val stream = Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_ != src).foreach { p =>
        val rel = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(rel)
        else if (!Files.exists(rel)) {
          Files.createDirectories(rel.getParent)
          linkOrCopy(rel, p)
        }
      }
    } finally stream.close()
  }

  // ---- version pins --------------------------------------------------------
  // A statement's result executes after run() returns, with no lock held.
  // Every version directory its plan reads is pinned until the reader
  // ends (see [[takePins]]); VACUUM, DROP and a rollback retire a pinned
  // directory instead of deleting it, and its last unpin deletes it.

  /** pinned version directory (absolute) → readers */
  private val pins = mutable.Map[java.nio.file.Path, Int]()
  /** version directories no version refers to any more, awaiting their
    * last unpin
    */
  private val retired = mutable.Set[java.nio.file.Path]()

  private def pinKey(dir: java.nio.file.Path) = dir.toAbsolutePath.normalize

  /** Delete version directory `dir` now, or retire it while a reader pins
    * it. True when it is gone.
    */
  private def reclaim(dir: java.nio.file.Path): Boolean = pins.synchronized {
    if (!Files.exists(dir)) true
    else if (pins.contains(pinKey(dir))) { retired += pinKey(dir); false }
    else { deleteRecursively(dir, keepRoot = false); true }
  }

  /** Reclaim everything under `table`'s history directory (DROP, RENAME,
    * a failed CREATE TABLE AS): pinned versions stay until their last
    * unpin, the rest goes now.
    */
  private def reclaimHistory(table: String): Unit = pins.synchronized {
    val root = historyDir(table)
    if (Files.isDirectory(root)) {
      children(root).foreach(reclaim)
      if (children(root).isEmpty) Files.delete(root)
    }
  }

  private def children(dir: java.nio.file.Path): List[java.nio.file.Path] = {
    val st = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; st.iterator().asScala.toList }
    finally st.close()
  }

  private def isRetired(dir: java.nio.file.Path): Boolean =
    pins.synchronized(retired.contains(pinKey(dir)))

  /** False once VACUUM reclaimed (or retired) version `v`'s directory. */
  private def versionAvailable(table: String, v: Int): Boolean = {
    val dir = versionDir(table, v)
    Files.exists(dir) && !isRetired(dir)
  }

  /** Version directories the plan of `df` reads: the `.history/<t>/<dir>`
    * ancestor of every file relation's roots (a version directory, a
    * partition directory or the files a raw scan names).
    */
  private def planRoots(df: DataFrame): Seq[java.nio.file.Path] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val hist = pinKey(Paths.get(warehouse, ".history"))
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths
    }.flatten.map(p => Paths.get(p.toUri).normalize)
      .filter(p => p.startsWith(hist) && hist.relativize(p).getNameCount >= 2)
      .map(p => hist.resolve(hist.relativize(p).subpath(0, 2))).distinct
  }

  /** Make a statement's result safe to execute with no lock held (the
    * caller holds the statement's lock): partitioned scans get a fixed
    * file listing in place of their catalog-backed index (Spark would
    * re-read the catalog at execution, and adaptive re-planning again),
    * the physical plan is built now, and the versions read are pinned on
    * the session until [[takePins]] hands them to the consumer or the
    * session's next statement releases them.
    */
  private def pinResult(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, HadoopFsRelation, LogicalRelation}
    val catalogIndexed: PartialFunction[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        (LogicalRelation, HadoopFsRelation, CatalogFileIndex)] = {
      case lr @ LogicalRelation(h @ HadoopFsRelation(c: CatalogFileIndex, _, _, _, _, _), _, _, _, _) =>
        (lr, h, c)
    }
    val opt = df.queryExecution.optimizedPlan
    val out = if (opt.collectWithSubqueries(catalogIndexed).isEmpty) df else
      org.apache.spark.sql.graftbridge.Bridge.ofOptimized(spark,
        opt.transformUpWithSubqueries(catalogIndexed.andThen { case (lr, h, c) =>
          lr.copy(relation = h.copy(location = c.filterPartitions(Nil))(h.sparkSession))
        }))
    out.queryExecution.executedPlan
    val roots = planRoots(out)
    if (roots.nonEmpty) {
      pins.synchronized(roots.foreach(p => pins(p) = pins.getOrElse(p, 0) + 1))
      val s = sess
      s.pins.synchronized(s.pins ++= roots)
    }
    out
  }

  /** Hand over the version pins of `s`'s last statement: the caller
    * reads its result and passes them to [[unpin]] when it stops — the
    * server's result spool does so when its producer finishes, fails or
    * is abandoned. Pins nobody takes end at the session's next top-level
    * statement or when the session closes.
    */
  def takePins(s: Session): Seq[java.nio.file.Path] = s.pins.synchronized {
    val out = s.pins.toList
    s.pins.clear()
    out
  }

  /** Release pins from [[takePins]]; a retired directory goes with its
    * last pin.
    */
  def unpin(paths: Seq[java.nio.file.Path]): Unit = if (paths.nonEmpty)
    pins.synchronized {
      paths.foreach { p =>
        val n = pins.getOrElse(p, 0) - 1
        if (n > 0) pins(p) = n else pins.remove(p)
      }
      retired.toList.filterNot(pins.contains).foreach { r =>
        retired -= r
        if (Files.exists(r)) deleteRecursively(r, keepRoot = false)
      }
    }

  /** The table as of version `v`: the live table for the current version,
    * otherwise the archived snapshot read with the schema recorded at that
    * commit (so empty snapshots and pre-ADD-COLUMN ones resolve).
    */
  private def versionState(table: String, v: Int): DataFrame = {
    require(tables.contains(table), s"no such table: $table")
    val log = history.getOrElse(table, Vector.empty)
    val cur = log.length - 1
    require(v >= 0 && v <= cur,
      s"version $v of $table does not exist (current version: $cur)")
    if (v == cur) spark.table(table)
    else {
      require(versionAvailable(table, v),
        s"version $v of $table has been vacuumed")
      val dir = versionDir(table, v)
      // archived snapshots hard-link the same files by the same names,
      // so the missing-fill overlay applies identically (a version
      // whose schema predates the fill column skips it by construction)
      withMissingFill(table,
        spark.read.schema(StructType.fromDDL(log(v).ddl)).parquet(dir.toString))
    }
  }

  /** REPEATABLE READ's read side (r15): inside an open
    * snapshot-isolation transaction, rewrite every catalog-table scan in
    * the ANALYZED plan to the version pinned at this transaction's FIRST
    * read of that table — pg's repeatable-read snapshot, served by the
    * same version log as time travel (the reference's per-txn snapshot
    * intent, /root/reference/src/storage/secondary/transaction.rs:26-50).
    * Tables this transaction has WRITTEN read live: the NOWAIT lock means
    * only we can have moved them, and txnTouch drops their pin so a
    * transaction sees its own writes, like pg. The substitution keeps
    * the original output attribute ids through an aliasing Project, so
    * references in the surrounding plan stay bound, and Catalyst
    * re-optimizes the snapshot scan (pruning, pushdown) exactly like a
    * live one. Subquery expressions are covered
    * (transformUpWithSubqueries). A concurrent schema change lands as
    * pg's serialization failure rather than a mis-bound plan.
    */
  private def snapshotPin(df: DataFrame): DataFrame = {
    val s = sess
    if (!s.txnOpen || s.txnAborted || !s.txnSnapshotReads) return df
    var changed = false
    val pinned = df.queryExecution.analyzed.transformUpWithSubqueries {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.catalogTable.exists(ct => tables.contains(
            ct.identifier.table.stripPrefix("__graft_raw_"))) =>
        // an overlay table's raw relation registers under __graft_raw_<t>
        // (r18); the pin keys on the ENGINE name either way
        val t = lr.catalogTable.get.identifier.table
          .stripPrefix("__graft_raw_")
        val cur = math.max(history.getOrElse(t, Vector.empty).length - 1, 0)
        val v = s.txnReadSnap.getOrElseUpdate(t, cur)
        if (v == cur) lr
        else {
          val snap = versionState(t, v).queryExecution.analyzed
          require(snap.output.map(a => (a.name, a.dataType)) ==
              lr.output.map(a => (a.name, a.dataType)),
            "could not serialize access due to concurrent schema change: " +
              s""""$t" was altered past this repeatable-read """ +
              "transaction's snapshot")
          changed = true
          org.apache.spark.sql.catalyst.plans.logical.Project(
            lr.output.zip(snap.output).map { case (o, n) =>
              org.apache.spark.sql.catalyst.expressions.Alias(n, o.name)(
                exprId = o.exprId, qualifier = o.qualifier)
            }, snap)
        }
    }
    if (changed)
      org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, pinned)
    else df
  }

  /** Largest version whose commit time is <= the given timestamp text
    * (date or datetime, engine session semantics = UTC).
    */
  private def versionAtTimestamp(table: String, tsText: String): Int = {
    val millis = try {
      import java.time._
      if (tsText.contains(" ") || tsText.contains("T"))
        LocalDateTime.parse(tsText.trim.replace(' ', 'T'))
          .toInstant(ZoneOffset.UTC).toEpochMilli
      else LocalDate.parse(tsText.trim).atStartOfDay
        .toInstant(ZoneOffset.UTC).toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"TIMESTAMP AS OF: cannot parse '$tsText' as a date or timestamp", e)
    }
    val log = history.getOrElse(table, Vector.empty)
    val v = log.lastIndexWhere(_.ts <= millis)
    require(v >= 0,
      s"timestamp '$tsText' is before the earliest recorded version of $table")
    v
  }

  /** Rewrite `<table> VERSION AS OF <n>` / `<table> TIMESTAMP AS OF '<ts>'`
    * (outside string literals) to PER-INVOCATION temp views over the
    * archived snapshot — unique names, dropped by the caller after
    * analysis, so concurrent readers under the shared lock never race on
    * a view name. Returns the rewritten text plus the created view names.
    */
  private def rewriteTimeTravel(sql: String): (String, Seq[String]) = {
    val lower = sql.toLowerCase
    if (!"""(?i)\bas\s+of\b""".r.findFirstIn(sql).isDefined &&
        !lower.contains("table_changes")) return (sql, Nil)
    val pat = java.util.regex.Pattern.compile(
      """(\w+)\s+(?:version\s+as\s+of\s+(\d+)|timestamp\s+as\s+of\s+'([^']*)')""",
      java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
    // change-data-feed view (delta's table_changes surface): rows added
    // and removed between two versions, exact multiset semantics —
    // updates surface as a delete+insert pair (no row tracking)
    val tcPat = java.util.regex.Pattern.compile(
      """table_changes\s*\(\s*'(\w+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""",
      java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
    val m = pat.matcher(sql)
    val tc = tcPat.matcher(sql)
    val out = new StringBuilder
    val created = mutable.Buffer[String]()
    var i = 0
    var q: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (q != 0) {
        out += c
        if (c == q) {
          if (i + 1 < sql.length && sql.charAt(i + 1) == q) {
            out += q; i += 1
          } else q = 0
        }
        i += 1
      } else if (c == '\'' || c == '"') {
        q = c; out += c; i += 1
      } else {
        val boundary = i == 0 || {
          val p = sql.charAt(i - 1); !p.isLetterOrDigit && p != '_'
        }
        m.region(i, sql.length)
        tc.region(i, sql.length)
        if (boundary && tc.lookingAt() && tables.contains(tc.group(1))) {
          val t = tc.group(1)
          val (v1, v2) = (tc.group(2).toInt, tc.group(3).toInt)
          val a = versionState(t, v1)
          val b = versionState(t, v2)
          require(a.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq,
            s"table_changes across a schema change of $t is not supported")
          val changes = b.exceptAll(a).withColumn("_change_type", lit("insert"))
            .unionByName(
              a.exceptAll(b).withColumn("_change_type", lit("delete")))
          val view = s"__graft_tt_${ttCounter.incrementAndGet()}"
          changes.createOrReplaceTempView(view)
          created += view
          out ++= view
          i = tc.end()
        } else if (boundary && m.lookingAt() && tables.contains(m.group(1))) {
          val t = m.group(1)
          val v =
            if (m.group(2) != null) m.group(2).toInt
            else versionAtTimestamp(t, m.group(3))
          val view = s"__graft_tt_${ttCounter.incrementAndGet()}"
          versionState(t, v).createOrReplaceTempView(view)
          created += view
          out ++= view
          i = m.end()
        } else { out += c; i += 1 }
      }
    }
    (out.toString, created.toSeq)
  }

  /** RESTORE TABLE <t> TO VERSION AS OF <v> (delta surface): a FULL state
    * revert — data through the usual swap commit, schema back to the one
    * recorded at that version (so a restore across ADD/DROP/RENAME COLUMN
    * is exact). The restore is itself a commit: the pre-restore state
    * archives like any other, so a restore can be un-restored.
    */
  private def restoreTable(table: String, v: Int): DataFrame = {
    txnTouch(table) // BEFORE the schema moves: the undo must capture it
    val log = history.getOrElse(table, Vector.empty)
    val cur = log.length - 1
    require(v >= 0 && v <= cur,
      s"version $v of $table does not exist (current version: $cur)")
    if (v == cur) return rowCountResult(0L)
    val df = versionState(table, v)
    val oldSchema = StructType.fromDDL(log(v).ddl)
    buckets.get(table).foreach { case (c, _) =>
      require(oldSchema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"cannot restore $table to version $v: the CLUSTERED BY column " +
          s"$c does not exist there")
    }
    partitions.get(table).foreach(_.foreach { c =>
      require(oldSchema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"cannot restore $table to version $v: the PARTITIONED BY column " +
          s"$c does not exist there")
    })
    val prior = tables(table)
    tables(table) = (oldSchema,
      prior._2.filter(p => oldSchema.fieldNames.exists(_.equalsIgnoreCase(p))))
    register(table)
    try {
      val obs = org.apache.spark.sql.Observation()
      rewriteSwap(table, df.observe(obs, count(lit(1)).as("n")),
        s"restore to version $v")
      rowCountResult(observedCount(obs))
    } catch {
      case e: Throwable => // failed restore: revert the schema change
        tables(table) = prior
        register(table)
        throw e
    }
  }

  /** DESCRIBE HISTORY <t> (delta surface): the commit log, newest first;
    * `available` = false once VACUUM reclaimed that version's snapshot.
    */
  private def describeHistory(table: String): DataFrame = {
    require(tables.contains(table), s"no such table: $table")
    import spark.implicits._
    val log = history.getOrElse(table, Vector.empty)
    val cur = log.length - 1
    log.zipWithIndex.reverse.map { case (c, v) =>
      (v.toLong, java.time.Instant.ofEpochMilli(c.ts).toString, c.op,
        v == cur || versionAvailable(table, v))
    }.toDF("version", "committed_at", "operation", "available")
  }

  /** VACUUM <t> [RETAIN n VERSIONS]: drop version directories beyond the
    * `n` newest (default 0 = every version but the current one; the log
    * itself stays, so DESCRIBE HISTORY still shows what happened).
    * Returns the number of directories reclaimed. Hard links make this
    * exact: removing a version frees a file only when no other version
    * links it.
    */
  private def vacuum(table: String, retain: Int): DataFrame = {
    val cur = history.getOrElse(table, Vector.empty).length - 1
    // never reclaim a snapshot ANY session's open undo set needs: a
    // foreign transaction's ROLLBACK must still find its first-touch
    // version (VACUUM implicitly commits only the ISSUING session's
    // transaction). Savepoint snapshots restore to versions >= the
    // undo version, so the undo version is the floor.
    // ... nor one a repeatable-read transaction's pinned snapshot still
    // reads from (r15): the read pin is as hard a floor as the undo set
    val undoFloor = openSessions.values
      .flatMap(s => s.txnUndo.get(table).map(_.version) ++
        s.txnReadSnap.get(table))
      .reduceOption(_ min _).getOrElse(Int.MaxValue)
    var reclaimed = 0L
    (0 until math.min(cur - retain, undoFloor)).foreach { v =>
      // version directories plus any IVM delete/update deltas recorded
      // for commits this far back (a refresh needing one that's gone
      // falls back to full recompute — the same contract as a vacuumed
      // version). A version a reader still pins is skipped: it is
      // retired, and goes at its last unpin.
      val vd = versionDir(table, v)
      if (Files.exists(vd) && !isRetired(vd) && reclaim(vd)) reclaimed += 1
      Seq(deleteDeltaDir(table, v), updateAddDir(table, v)).foreach { d =>
        if (Files.exists(d)) {
          deleteRecursively(d, keepRoot = false)
          reclaimed += 1
        }
      }
    }
    // prune missing-fill GENERATIONS whose files no longer exist
    // anywhere (live or archived): they were kept for time travel, and
    // VACUUM just destroyed the versions that needed them. When the map
    // empties, refresh() returns to the cheap refreshTable path.
    missingFill.get(table).foreach { m =>
      val alive = mutable.Set[String]()
      def basenames(root: java.nio.file.Path): Unit =
        if (Files.isDirectory(root)) {
          val st = Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala
              .filter(p => Files.isRegularFile(p) &&
                p.getFileName.toString.endsWith(".parquet"))
              .foreach(p => alive += p.getFileName.toString)
          } finally st.close()
        }
      basenames(historyDir(table))
      val kept = m.map { case (c, gens) =>
        c -> gens.filter(_.files.exists(alive))
      }.filter(_._2.nonEmpty)
      if (kept.isEmpty) missingFill.remove(table)
      else missingFill(table) = kept
      saveManifest()
    }
    rowCountResult(reclaimed)
  }

  // ---- vector IndexScan (reference src/planner: IndexScan node) -----------

  /** With `pragma enable_vector_index` (the default), the canonical ANN
    * statement `SELECT ... FROM t ORDER BY vecCol <->|<=>|<#>
    * '[..]'::VECTOR(n) LIMIT k` over a table carrying a vector index
    * (`USING ivfflat` or `USING hnsw`) executes through
    * [[graft.operators.Similarity.indexProbe]]: only the query's
    * `nprobe` nearest IVF cells are ranked, so results are approximate —
    * exactly the contract a pgvector index gives (and the IndexScan the
    * reference plans but never executes). Any other statement shape, or
    * `pragma disable_vector_index`, runs the exact full scan.
    */
  private val reVectorTopK =
    ("""(?is)^\s*select\s+(.+?)\s+from\s+(\w+)\s+order\s+by\s+""" +
      """(\w+)\s*(?:<->|<=>|<#>)\s*'(\[[^']*\])'\s*::\s*vector\s*\(\s*\d+\s*\)""" +
      """\s*(?:asc\s*)?limit\s+(\d+)\s*$""").r

  private def vectorIndexScan(sql: String): Option[DataFrame] = {
    if (!sess.vectorIndexEnabled) return None
    sql.trim.replaceAll(";\\s*$", "") match {
      case reVectorTopK(_, tbl, vecCol, vecLit, _) if tables.contains(tbl) =>
        indexes.values.collectFirst {
          case (t, c, m, opts)
              if t.equalsIgnoreCase(tbl) && c.equalsIgnoreCase(vecCol) &&
                Set("ivfflat", "hnsw").contains(m.toLowerCase) => opts
        }.map { opts =>
          val optMap = opts.split(",").map(_.trim).filter(_.nonEmpty)
            .flatMap { o =>
              val kv = o.split("=", 2).map(_.trim)
              if (kv.length == 2)
                Some(kv(0).toLowerCase ->
                  kv(1).stripPrefix("'").stripSuffix("'"))
              else None
            }.toMap
          def intOpt(k: String, dflt: Int): Int =
            optMap.get(k).flatMap(s => scala.util.Try(s.toInt).toOption)
              .getOrElse(dflt)
          val qv = vecLit.stripPrefix("[").stripSuffix("]").split(",")
            .map(_.trim.toDouble).toSeq
          val probed = graft.operators.Similarity.indexProbe(
            spark.table(tbl), vecCol, qv,
            nLists = intOpt("nlists", 100), nProbe = intOpt("nprobe", 4))
          // identical statement over the probed subset, through the normal
          // SQL pipeline (vector-op rewrite, UDF inlining). The view name
          // is unique per invocation and dropped right after spark.sql
          // returns: analysis is eager, so the DataFrame keeps the resolved
          // probe plan — concurrent sessions (the server holds only the
          // SHARED read lock for SELECTs) can never see each other's view,
          // and nothing leaks into the session catalog.
          val view = "__graft_index_probe_" +
            java.util.UUID.randomUUID.toString.replace("-", "")
          probed.createOrReplaceTempView(view)
          // quote-aware rewrite: a string literal containing "from <tbl>"
          // ahead of the real FROM stays payload (SqlTextPropertySpec)
          try spark.sql(inlineFunctions(SqlText.replaceFirstOutsideQuotes(
            sql, s"(?i)\\bfrom\\s+$tbl\\b", s"from $view")))
          finally spark.catalog.dropTempView(view)
        }
      case _ => None
    }
  }

  // ---- analysis-error parity (reference src/binder/select.rs) -------------

  /** Reject the statements the reference's binder rejects but Spark's
    * analyzer would accept (or reject with an unrelated message):
    * ORDER-BY⊄DISTINCT (`select.rs:296-345`), aggregates in WHERE /
    * GROUP BY (`select.rs:156,188,242`), window functions in WHERE /
    * HAVING (`select.rs:159-171`). Operates on the parsed (unresolved)
    * plan, so it costs one parse and no analysis.
    */
  private def analysisErrorParity(sql: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter => LFilter, Project, Sort}
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case _: Exception => return } // parse errors surface in spark.sql
    val aggNames = Set("sum", "min", "max", "count", "avg", "first", "last",
      "first_value", "last_value", "stddev", "variance", "var_samp", "stddev_samp")
    def hasAgg(e: Expression): Boolean = e.exists {
      case f: UnresolvedFunction => aggNames.contains(f.nameParts.last.toLowerCase)
      case _ => false
    }
    def hasWindow(e: Expression): Boolean = e.exists {
      case _: WindowExpression => true
      case _ => false
    }
    // `sum(sum(a) over w) over w` — Spark's window extraction would accept
    // it; the reference binder rejects (select.rs window nesting check)
    def nestedWindow(e: Expression): Boolean = e.exists {
      case w: WindowExpression => w.children.exists(hasWindow)
      case _ => false
    }
    def err(msg: String) = throw new IllegalArgumentException(s"bind error: $msg")
    plan.foreach { node =>
      node.expressions.foreach { e =>
        if (nestedWindow(e)) err("window function calls cannot be nested")
      }
    }
    plan.foreach {
      case f: LFilter =>
        if (hasAgg(f.condition)) err("aggregate functions are not allowed in WHERE clause")
        if (hasWindow(f.condition)) err("window functions are not allowed in WHERE clause")
      case a: Aggregate =>
        if (a.groupingExpressions.exists(hasAgg))
          err("aggregate functions are not allowed in GROUP BY")
      case h if h.nodeName == "UnresolvedHaving" =>
        h.expressions.foreach { e =>
          if (hasWindow(e)) err("window functions are not allowed in HAVING clause")
        }
      case s: Sort =>
        s.child match {
          // `SELECT DISTINCT * ...` exposes every column — skip the check
          // (the reference binder resolves the star before the membership
          // test, `select.rs plan_distinct`)
          case Distinct(Project(projectList, _))
              if !projectList.exists(_.exists(_.isInstanceOf[UnresolvedStar])) =>
            // membership is checked on full SQL text AND the unqualified
            // name, so `SELECT DISTINCT a ... ORDER BY t.a` passes like the
            // reference's post-resolution check does
            val visible: Set[String] = projectList.flatMap {
              case a: Alias => Seq(a.name.toLowerCase, a.child.sql.toLowerCase) ++
                (a.child match {
                  case u: UnresolvedAttribute => Seq(u.nameParts.last.toLowerCase)
                  case _ => Nil
                })
              case u: UnresolvedAttribute =>
                Seq(u.sql.toLowerCase, u.nameParts.last.toLowerCase)
              case e => Seq(e.sql.toLowerCase)
            }.toSet
            s.order.foreach { so =>
              so.child match {
                case _: Literal => // constant — trivially fine
                case o if o.nodeName == "UnresolvedOrdinal" => // position — in-list by construction
                case u: UnresolvedAttribute
                    if visible.contains(u.nameParts.last.toLowerCase) =>
                case _ if visible.contains(so.child.sql.toLowerCase) =>
                case other =>
                  err(s"ORDER BY expression ${other.sql} must appear in the DISTINCT list")
              }
            }
          case _ =>
        }
      case _ =>
    }
  }

  private def emptyResult: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("ok", BooleanType))))

  // ---- PRAGMA / SET (reference src/db.rs:160-199) -------------------------

  /** mocked row counts (`SET mock_rowcount_<table> = n`) — planner-test
    * stats injection, applied as a broadcast hint on small-mocked tables
    * when their views are (re-)registered.
    */
  private val mockRowCounts = mutable.Map[String, Long]()

  /** The reference validates pragma names against a closed list and its
    * optimizer toggle actually changes planning (`db.rs:160-180,199`).
    * Spark analogue: AQE + CBO are the cost-based re-planning layers, so
    * enable/disable_optimizer maps onto their flags — EXPLAIN visibly
    * gains/loses the AdaptiveSparkPlan wrapper under the toggle.
    */
  private def pragma(key: String, value: Option[String]): DataFrame = {
    bumpPlanEpoch()
    key.toLowerCase match {
      case "enable_optimizer" =>
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.cbo.enabled", "true")
      case "disable_optimizer" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "false")
      // pgvector-parity switch: with a vector index present, the canonical
      // ORDER BY distance LIMIT k statement runs the approximate IndexScan
      // tier; disabling restores exact full scans (pg: `enable_indexscan`).
      // SESSION-scoped (r16, pg GUC semantics): one connection's toggle
      // must not re-plan another connection's queries.
      case "enable_vector_index" => sess.vectorIndexEnabled = true
      case "disable_vector_index" => sess.vectorIndexEnabled = false
      // engine-owned valves over Spark's WITH RECURSIVE safety limits
      // (the engine raises the row default to 100M at construction)
      case "cte_recursion_row_limit" =>
        val n = value.map(_.trim).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            "pragma cte_recursion_row_limit needs a row count")).toLong
        require(n > 0, "cte_recursion_row_limit must be positive")
        spark.conf.set("spark.sql.cteRecursionRowLimit", n.toString)
      case "cte_recursion_level_limit" =>
        val n = value.map(_.trim).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            "pragma cte_recursion_level_limit needs a depth")).toLong
        require(n > 0, "cte_recursion_level_limit must be positive")
        spark.conf.set("spark.sql.cteRecursionLevelLimit", n.toString)
      case other =>
        throw new IllegalArgumentException(s"no such pragma: $other")
    }
    sess.pragmas(key.toLowerCase) = value.getOrElse("true")
    emptyResult
  }

  /** pg display/locale GUCs that must be SESSION-scoped: they shape how
    * THIS connection's results render, so two clients setting different
    * values must not interfere. Everything else SET still writes the one
    * shared SparkSession's conf (it changes execution semantics of the
    * shared engine — documented divergence) but is recorded on the
    * session too so RESET/DISCARD can undo per connection.
    */
  private val sessionDisplayConfs = Set("timezone", "datestyle",
    "intervalstyle", "extra_float_digits", "application_name",
    "client_encoding", "client_min_messages", "search_path")

  /** Parse a pg TimeZone GUC value; region ids verbatim, common
    * abbreviations (utc, gmt, est...) case-folded up — ZoneId.of is
    * case-sensitive where pg is not.
    */
  private[graft] def parseZone(v: String): java.time.ZoneId =
    scala.util.Try(java.time.ZoneId.of(v)).getOrElse(
      scala.util.Try(java.time.ZoneId.of(v.toUpperCase,
        java.time.ZoneId.SHORT_IDS)).getOrElse(
        throw new IllegalArgumentException(
          s"""invalid value for parameter "TimeZone": "$v"""")))

  /** The zone THIS session's results render in (pgwire timestamp text /
    * binary epoch math): the session's SET TimeZone overlay first, then
    * the engine-global spark conf, then the JVM default.
    */
  private[graft] def renderZone(session: Session): java.time.ZoneId =
    session.confOverlay.get("timezone").map(parseZone).getOrElse(
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)))

  /** Absorb a pgwire STARTUP parameter (pgJDBC ships TimeZone, DateStyle,
    * client_encoding, application_name, extra_float_digits in the startup
    * packet, before any SET): display GUCs land on the connection's
    * session overlay; anything else is ignored (user/database/options).
    * Lenient on bad values — a weird zone must not fail the connect.
    */
  /** UTF-8 spellings pg accepts for client_encoding; everything the
    * server emits is UTF-8, so any other encoding is refused (a SET) or
    * ignored (a startup param) rather than falsely acknowledged.
    */
  private def isUtf8Name(v: String): Boolean =
    Set("utf8", "utf-8", "unicode").contains(v.trim.toLowerCase)

  /** Normalize a DateStyle SET to pg's canonical "ISO, MDY" form.
    * pgJDBC kills the connection on any ParameterStatus(DateStyle) not
    * starting with uppercase "ISO" — and the engine renders ISO text
    * unconditionally — so only the ISO family is accepted; SQL/Postgres/
    * German output styles are refused honestly rather than acknowledged
    * while the bytes stay ISO.
    */
  private def normalizeDateStyle(v: String,
      current: Option[String]): String = {
    // pg preserves the component a SET leaves unspecified (SET 'ISO'
    // after 'ISO, DMY' keeps DMY) and rejects an empty value. `current`
    // is the TARGET session's stored value — passed explicitly because
    // applyStartupParam runs on the connection-accept thread, where the
    // thread-local session is still the shared default (reading it
    // there leaked another session's order component into a fresh
    // connection).
    var style = "ISO"
    var order = current.map(_.split(",")(1).trim).getOrElse("MDY")
    val toks = v.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
    if (toks.isEmpty) throw new IllegalArgumentException(
      s"""invalid value for parameter "DateStyle": "$v"""")
    toks.foreach {
      case "iso" => style = "ISO"
      case "sql" | "postgres" | "german" =>
        throw new IllegalArgumentException(
          s"""DateStyle "$v" is not supported: output is always ISO""")
      case "mdy" | "us" | "noneuro" | "noneuropean" => order = "MDY"
      case "dmy" | "euro" | "european" => order = "DMY"
      case "ymd" => order = "YMD"
      case other => throw new IllegalArgumentException(
        s"""invalid value for parameter "DateStyle": "$other"""")
    }
    s"$style, $order"
  }

  private[graft] def applyStartupParam(session: Session, key: String,
      value: String): Unit = {
    val k = key.toLowerCase
    val normalized: Option[String] = k match {
      case "timezone" =>
        if (scala.util.Try(parseZone(value)).isSuccess) Some(value) else None
      case "client_encoding" => if (isUtf8Name(value)) Some(value) else None
      case "datestyle" => scala.util.Try(normalizeDateStyle(value,
        session.confOverlay.get("datestyle"))).toOption
      case _ => Some(value)
    }
    if (sessionDisplayConfs.contains(k))
      normalized.foreach(session.confOverlay(k) = _)
  }

  /** A SET value: quoted values unwrap AND collapse the '' escape (pg:
    * SET application_name = 'it''s me' stores it's me — the former bare
    * strip kept the doubled quotes in the stored value); unquoted values
    * (numbers, bare keywords) pass through trimmed. SET values never
    * cross Spark's parser, so backslashes stay raw, like pg.
    */
  private def unquoteSetValue(v0: String): String = {
    val v = v0.trim
    if (v.length >= 2 && v.head == '\'' && v.last == '\'') {
      // pg parity (r18): an interior quote must be doubled — `SET x =
      // 'a'b'` is a syntax error, not the value a'b (the former bare
      // strip accepted it). Scan the interior left to right consuming
      // '' pairs; a lone quote is malformed.
      val interior = v.substring(1, v.length - 1)
      var i = 0
      while (i < interior.length) {
        if (interior.charAt(i) == '\'') {
          if (i + 1 >= interior.length || interior.charAt(i + 1) != '\'')
            throw new IllegalArgumentException(
              s"""syntax error at or near "'"""" + s" in SET value $v")
          i += 2
        } else i += 1
      }
      interior.replace("''", "'")
    } else v
  }

  /** `SET mock_rowcount_<t> = n` mirrors the reference's planner-test stats
    * mock: a table mocked small enough to broadcast gets a broadcast hint
    * at view-registration time, visibly flipping join strategy in EXPLAIN.
    * Display GUCs land on the session overlay only; `spark.*` execution
    * confs apply engine-globally from the EMBEDDED session and are
    * refused from remote ones (r17 — see the branch below); anything
    * else is a pg custom GUC, session-local in the overlay.
    */
  private def setVar(key: String, value: String): DataFrame = {
    bumpPlanEpoch() // confs/mock hints may re-plan cached statements
    val k = key.toLowerCase
    if (k.startsWith("mock_rowcount_")) {
      val table = key.substring("mock_rowcount_".length)
      require(tables.contains(table), s"table not found: $table")
      mockRowCounts(table) = value.toLong
      refresh(table)
    } else if (sessionDisplayConfs.contains(k)) {
      if (k == "timezone") parseZone(value) // a bad zone errors AT SET, like pg
      if (k == "client_encoding" && !isUtf8Name(value))
        throw new IllegalArgumentException(
          s"conversion between $value and UTF8 is not supported")
      sess.confOverlay(k) =
        if (k == "datestyle")
          normalizeDateStyle(value, sess.confOverlay.get("datestyle"))
        else value
    } else if (k.startsWith("spark.")) {
      // Spark execution confs are ENGINE-GLOBAL: one shared SparkSession
      // (and its single SQLConf) serves every connection, so a
      // per-session value is impossible to isolate — applying it would
      // silently re-plan every other session's statements, and a
      // statement-scoped set→run→restore races concurrent read-lock
      // holders. The EMBEDDED session (REPL/tests/direct API — the DBA
      // surface, pg's ALTER SYSTEM analogue) applies them globally;
      // remote sessions get a crisp refusal instead of a silent lie.
      // Boundary documented in COVERAGE.md.
      if (sess ne defaultSession) throw new IllegalArgumentException(
        s"""parameter "$key" is engine-global: Spark execution """ +
          "configuration cannot take a per-session value on the shared " +
          "SparkSession; set it from the embedded session or the engine " +
          "launch configuration")
      // apply FIRST: a static/immutable conf throws here, and the
      // overlay must not claim a value that never landed
      spark.conf.set(key, value)
      sess.confOverlay(k) = value
      setConfKeys.synchronized { setConfKeys += key }
    } else {
      // pg custom-GUC semantics (SET myapp.tag = '...'): session-LOCAL,
      // stored only in this session's overlay — readable back via
      // SHOW / current_setting / pg_settings, never visible to other
      // sessions, never written into the engine-global Spark conf
      sess.confOverlay(k) = value
    }
    emptyResult
  }

  /** Unset the engine-global Spark confs THIS session's SET statements
    * recorded (its `confOverlay` holds the lowercased keys), leaving
    * keys other sessions set alone — RESET ALL / DISCARD ALL are
    * session commands in pg, so session A recycling a pooled connection
    * must not undo session B's SETs. A key BOTH sessions set is still
    * one engine-global slot (documented divergence); last reset wins it.
    */
  private def resetSessionConfs(): Unit = setConfKeys.synchronized {
    val mine = setConfKeys.filter(k => sess.confOverlay.contains(k.toLowerCase))
    mine.foreach(k => scala.util.Try(spark.conf.unset(k)))
    setConfKeys --= mine
  }

  /** `RESET <var>` / `RESET ALL` (pg): undo SET — conf keys unset back
    * to their session defaults, mocked row counts cleared (their views
    * re-register unhinted). Like PRAGMA/SET, the conf VALUE space is
    * engine-global (one shared SparkSession) — documented divergence —
    * but RESET ALL unsets only the keys THIS session recorded
    * ([[resetSessionConfs]]), never another session's.
    */
  private def resetVar(key: String): DataFrame = {
    bumpPlanEpoch()
    if (key.equalsIgnoreCase("all")) {
      resetSessionConfs() // reads confOverlay: must run before the clear
      sess.confOverlay.clear()
      sess.pragmas.clear()
      sess.vectorIndexEnabled = true
      mockRowCounts.keys.toSeq.foreach { t =>
        mockRowCounts.remove(t)
        if (tables.contains(t)) refresh(t)
      }
    } else if (key.toLowerCase.startsWith("mock_rowcount_")) {
      val t = key.substring("mock_rowcount_".length)
      mockRowCounts.remove(t)
      if (tables.contains(t)) refresh(t)
    } else {
      sess.confOverlay.remove(key.toLowerCase)
      // only the EMBEDDED session ever writes the engine-global conf
      // (remote spark.* SETs are refused; custom GUCs are overlay-only),
      // so only it may unset one — a remote RESET of a custom GUC that
      // happens to shadow an engine-global launch conf must not clear it
      if (!sessionDisplayConfs.contains(key.toLowerCase) &&
          (sess eq defaultSession)) {
        scala.util.Try(spark.conf.unset(key))
        setConfKeys.synchronized { setConfKeys -= key }
      }
    }
    emptyResult
  }

  /** `DISCARD ALL|PLANS|SEQUENCES|TEMP` (pg): the pool-recycle reset.
    * ALL clears this SESSION's prepared statements, cursors (spills
    * reclaimed), transaction characteristics, sequence currval state,
    * and — like pg's embedded RESET ALL — unsets the Spark confs this
    * session SET (its own keys only, [[resetSessionConfs]]); pg refuses
    * it inside a transaction block. TEMP (r18) drops the session's temp
    * tables/views ([[dropSessionTemps]]), and ALL includes it, like pg.
    * PLANS is effectively real too: the bumpPlanEpoch below invalidates
    * every cached plan.
    */
  private def discard(what: String): DataFrame = {
    bumpPlanEpoch()
    val s = sess
    if (what == "all") {
      if (s.txnOpen) throw new IllegalArgumentException(
        "DISCARD ALL cannot run inside a transaction block")
      s.prepared.clear()
      s.cursors.values.foreach(c => deleteRecursively(c.dir, keepRoot = false))
      s.cursors.clear()
      s.defaultSnapshotReads = false; s.defaultReadOnly = false
      s.seqCurr.clear(); s.seqLast = None
      resetSessionConfs() // reads confOverlay: before the clear
      s.confOverlay.clear(); s.pragmas.clear(); s.vectorIndexEnabled = true
      dropSessionTemps(s) // DISCARD ALL includes DISCARD TEMP (pg)
    } else if (what == "temp" || what == "temporary") {
      dropSessionTemps(s)
    } else if (what == "sequences") {
      // pg: forget this session's currval/lastval state (the sequences
      // themselves are engine-global and keep their positions)
      s.seqCurr.clear(); s.seqLast = None
    }
    emptyResult
  }

  // ---- sequences -----------------------------------------------------------

  /** One sequence's engine-global state machine (pg semantics): the
    * first nextval returns `start` (is_called latches), later calls step
    * by `increment` inside [minV, maxV], erroring or wrapping (CYCLE) at
    * the bound. DELIBERATELY non-transactional, like pg: nextval never
    * rolls back (gaps are the contract — the alternative serializes every
    * concurrent insert on the sequence), so SeqState lives outside the
    * txn undo set. `owner` marks SERIAL/IDENTITY auto-sequences, dropped
    * with their table and restarted by TRUNCATE ... RESTART IDENTITY.
    */
  private case class SeqState(var last: Long, var called: Boolean,
      var increment: Long, var minV: Long, var maxV: Long, var cycle: Boolean,
      var start: Long, owner: Option[(String, String)])
  private val sequences = mutable.LinkedHashMap[String, SeqState]()
  /** table → lowercase columns declared GENERATED ALWAYS AS IDENTITY:
    * an INSERT naming one errors without OVERRIDING SYSTEM VALUE (pg).
    */
  private val identityAlways = mutable.Map[String, Set[String]]()

  private def seqState(name: String): SeqState =
    sequences.getOrElse(name.toLowerCase, throw new IllegalArgumentException(
      s"""relation "$name" does not exist"""))

  private def seqReadOnlyGate(fn: String): Unit = {
    val s = sess
    if (s.txnOpen && s.txnReadOnly) throw new IllegalArgumentException(
      s"cannot execute $fn() in a read-only transaction")
  }

  /** Advance `name` once and return the value (pg nextval). */
  private def seqNext(name: String): Long = sequences.synchronized {
    seqReadOnlyGate("nextval")
    val s = seqState(name)
    // when !called, `last` holds the PENDING value (start at creation,
    // n after setval(n,false), the restart point after RESTART) — pg's
    // is_called latch
    val v =
      if (!s.called) { s.called = true; s.last }
      else if (s.increment > 0 && s.last > s.maxV - s.increment) {
        // overflow-safe bound test: s.last + inc > maxV
        if (s.cycle) s.minV else throw new IllegalArgumentException(
          s"""nextval: reached maximum value of sequence "$name" (${s.maxV})""")
      } else if (s.increment < 0 && s.last < s.minV - s.increment) {
        if (s.cycle) s.maxV else throw new IllegalArgumentException(
          s"""nextval: reached minimum value of sequence "$name" (${s.minV})""")
      } else s.last + s.increment
    s.last = v
    val ss = sess
    ss.seqCurr(name.toLowerCase) = v
    ss.seqLast = Some(name.toLowerCase)
    saveManifest()
    v
  }

  /** Reserve `k` consecutive values and return the FIRST; row i of a bulk
    * insert takes first + i·increment. One reservation per statement —
    * the block never straddles two statements, so concurrent writers
    * can't interleave inside it. CYCLE sequences refuse block mode (a
    * wrapped block would hand out duplicate "unique" ids silently; pg
    * would too, but pg at least steps row-by-row — we error instead).
    */
  private def seqNextBlock(name: String, k: Long): Long = sequences.synchronized {
    require(k > 0, "sequence block reservation needs k > 0")
    seqReadOnlyGate("nextval")
    val s = seqState(name)
    require(!s.cycle, s"bulk insert through CYCLE sequence \"$name\" is " +
      "not supported: a wrapped block would silently duplicate ids")
    // Compute `first` WITHOUT mutating state: a refused oversized block
    // (or one past MAXVALUE) must leave the sequence exactly as it was,
    // else a failed bulk insert silently consumes the START value and
    // the next nextval skips it.
    val first = if (!s.called) s.last else {
      if (s.increment > 0 && s.last > s.maxV - s.increment)
        throw new IllegalArgumentException(
          s"""nextval: reached maximum value of sequence "$name" (${s.maxV})""")
      if (s.increment < 0 && s.last < s.minV - s.increment)
        throw new IllegalArgumentException(
          s"""nextval: reached minimum value of sequence "$name" (${s.minV})""")
      s.last + s.increment
    }
    val span = s.increment * (k - 1) // k-1 further steps past `first`
    val lastV = first + span
    if (s.increment > 0 && (lastV < first || lastV > s.maxV))
      throw new IllegalArgumentException(
        s"""nextval: reached maximum value of sequence "$name" (${s.maxV})""")
    if (s.increment < 0 && (lastV > first || lastV < s.minV))
      throw new IllegalArgumentException(
        s"""nextval: reached minimum value of sequence "$name" (${s.minV})""")
    s.called = true
    s.last = lastV
    val ss = sess
    ss.seqCurr(name.toLowerCase) = lastV // pg: currval = last value obtained
    ss.seqLast = Some(name.toLowerCase)
    saveManifest()
    first
  }

  /** pg setval(seq, n [, is_called]): set last_value; is_called=false
    * makes the NEXT nextval return n itself. Sets the session's currval
    * like pg does.
    */
  private def seqSet(name: String, n: Long, called: Boolean): Long =
    sequences.synchronized {
      seqReadOnlyGate("setval")
      val s = seqState(name)
      require(n >= s.minV && n <= s.maxV,
        s"""setval: value $n is out of bounds for sequence "$name" """ +
          s"(${s.minV}..${s.maxV})")
      s.last = n
      s.called = called
      val ss = sess
      ss.seqCurr(name.toLowerCase) = n
      ss.seqLast = Some(name.toLowerCase)
      saveManifest()
      n
    }

  private def seqCurrval(name: String): Long = {
    seqState(name) // dropped/missing sequence errors first, like pg
    sess.seqCurr.getOrElse(name.toLowerCase, throw new IllegalArgumentException(
      s"""currval of sequence "$name" is not yet defined in this session"""))
  }

  private def seqLastval(): Long = {
    val n = sess.seqLast.getOrElse(throw new IllegalArgumentException(
      "lastval is not yet defined in this session"))
    seqCurrval(n)
  }

  private val reSeqFnProbe = """(?i)\b(nextval|currval|setval|lastval)\s*\(""".r
  /** Quote-aware: `nextval(...)` TEXT inside a string literal (e.g.
    * `SELECT 'use nextval(''sq'')'`) is payload, not a call — substituting
    * it would corrupt the literal and its doubled-quote arg fails seqArg.
    */
  private[graft] def usesSequenceFn(sql: String): Boolean = {
    val mask = SqlText.quotedMask(sql)
    val m = reSeqFnProbe.pattern.matcher(sql)
    var found = false
    while (!found && m.find()) if (!mask(m.start)) found = true
    found
  }

  /** Substitute every sequence-function call in `sql` with its computed
    * literal. Correct wherever each textual occurrence means one
    * evaluation: scalar SELECTs and VALUES tuples (pg evaluates one call
    * per tuple there too). currval/lastval are STABLE within a statement,
    * so their substitution is also correct per-row under a FROM;
    * per-row nextval over a FROM source is refused (`allowNextval`) —
    * the sanctioned bulk path is a SERIAL/DEFAULT column, which assigns
    * a distinct value per row distributively.
    */
  private val reSeqCall =
    """(?i)\b(nextval|currval|setval|lastval)\s*\(([^()]*)\)""".r
  private def rewriteSeqFns(sql: String, allowNextval: Boolean): String = {
    // Skip matches that START inside a string literal: that text is
    // payload (`SELECT 'use nextval(''sq'')'`), not a call.
    val mask = SqlText.quotedMask(sql)
    reSeqCall.replaceAllIn(sql, m => {
      if (mask(m.start))
        java.util.regex.Matcher.quoteReplacement(m.matched)
      else rewriteOneSeqCall(m, allowNextval)
    })
  }

  private def rewriteOneSeqCall(m: scala.util.matching.Regex.Match,
      allowNextval: Boolean): String = {
      val fn = m.group(1).toLowerCase
      val args = SqlText.splitTopLevel(m.group(2)).map(_.trim)
        .filter(_.nonEmpty)
      def seqArg(a: String): String = {
        val base = a.replaceAll("(?i)::\\s*regclass\\s*$", "").trim
        require(base.length >= 2 && base.startsWith("'") && base.endsWith("'"),
          s"$fn expects a quoted sequence name, got: $a")
        base.substring(1, base.length - 1)
      }
      val v = fn match {
        case "nextval" =>
          require(args.length == 1, "nextval(regclass) takes one argument")
          require(allowNextval, "per-row nextval over a FROM source is not " +
            "supported: use a SERIAL/IDENTITY column or a DEFAULT " +
            "nextval(...) so values assign distributively")
          seqNext(seqArg(args.head))
        case "currval" =>
          require(args.length == 1, "currval(regclass) takes one argument")
          seqCurrval(seqArg(args.head))
        case "lastval" =>
          require(args.isEmpty, "lastval() takes no arguments")
          seqLastval()
        case _ =>
          require(args.length == 2 || args.length == 3,
            "setval(regclass, bigint [, boolean]) takes two or three arguments")
          require(allowNextval, "per-row setval over a FROM source is not supported")
          val called = args.lift(2)
            .map(a => java.lang.Boolean.parseBoolean(a.trim)).getOrElse(true)
          seqSet(seqArg(args.head), args(1).trim.toLong, called)
      }
      java.util.regex.Matcher.quoteReplacement(s"CAST($v AS BIGINT)")
  }

  private def createSequence(name: String, opts: String,
      ifNotExists: Boolean, owner: Option[(String, String)] = None): DataFrame = {
    val key = name.toLowerCase
    if (sequences.contains(key)) {
      if (ifNotExists) return emptyResult
      throw new IllegalArgumentException(s"sequence already exists: $name")
    }
    require(!tables.contains(name) && !views.contains(name),
      s"table or view already exists: $name")
    def longOpt(kw: String): Option[Long] =
      s"""(?i)\\b$kw\\s+(?:with\\s+|by\\s+)?(-?\\d+)""".r
        .findFirstMatchIn(opts).map(_.group(1).toLong)
    val noMin = """(?i)\bno\s+minvalue\b""".r.findFirstIn(opts).isDefined
    val noMax = """(?i)\bno\s+maxvalue\b""".r.findFirstIn(opts).isDefined
    val cycle = """(?i)\bcycle\b""".r.findFirstIn(opts).isDefined &&
      !"""(?i)\bno\s+cycle\b""".r.findFirstIn(opts).isDefined
    // AS <type> narrows the default bounds (pg); CACHE is accepted and
    // ignored (a single-writer engine has no per-backend cache to size)
    val (tMin, tMax) = """(?i)\bas\s+(\w+)""".r.findFirstMatchIn(opts)
      .map(_.group(1).toLowerCase) match {
      case Some("smallint") | Some("int2") => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case Some("int") | Some("integer") | Some("int4") => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    val inc = longOpt("increment").getOrElse(1L)
    require(inc != 0L, "INCREMENT must not be zero")
    val minV = if (noMin) (if (inc > 0) 1L else tMin)
      else longOpt("minvalue").getOrElse(if (inc > 0) 1L else tMin)
    val maxV = if (noMax) (if (inc > 0) tMax else -1L)
      else longOpt("maxvalue").getOrElse(if (inc > 0) tMax else -1L)
    require(minV <= maxV, s"MINVALUE ($minV) must be no greater than MAXVALUE ($maxV)")
    val start = longOpt("start").getOrElse(if (inc > 0) minV else maxV)
    require(start >= minV && start <= maxV,
      s"START value ($start) cannot be outside [$minV, $maxV]")
    sequences(key) = SeqState(last = start, called = false, inc, minV, maxV,
      cycle, start, owner)
    saveManifest()
    emptyResult
  }

  private def alterSequence(name: String, opts: String): DataFrame =
    sequences.synchronized {
      val s = seqState(name)
      def longOpt(kw: String): Option[Long] =
        s"""(?i)\\b$kw\\s+(?:with\\s+|by\\s+)?(-?\\d+)""".r
          .findFirstMatchIn(opts).map(_.group(1).toLong)
      longOpt("increment").foreach { i =>
        require(i != 0L, "INCREMENT must not be zero"); s.increment = i }
      longOpt("minvalue").foreach(s.minV = _)
      longOpt("maxvalue").foreach(s.maxV = _)
      require(s.minV <= s.maxV, "MINVALUE must be no greater than MAXVALUE")
      if ("""(?i)\bno\s+cycle\b""".r.findFirstIn(opts).isDefined) s.cycle = false
      else if ("""(?i)\bcycle\b""".r.findFirstIn(opts).isDefined) s.cycle = true
      // START WITH changes the base a BARE restart returns to (pg keeps
      // start_value separate from the restart point)
      longOpt("start").foreach(s.start = _)
      if ("""(?i)\brestart\b""".r.findFirstIn(opts).isDefined) {
        val at = longOpt("restart").getOrElse(s.start)
        require(at >= s.minV && at <= s.maxV,
          s"RESTART value ($at) cannot be outside [${s.minV}, ${s.maxV}]")
        s.last = at
        s.called = false
      }
      saveManifest()
      emptyResult
    }

  private def dropSequence(name: String, ifExists: Boolean): DataFrame = {
    val key = name.toLowerCase
    if (!sequences.contains(key)) {
      if (ifExists) return emptyResult
      throw new IllegalArgumentException(s"""sequence "$name" does not exist""")
    }
    // pg dependency tracking: a column default still calling nextval on
    // this sequence would break at the next INSERT — refuse, name the dep
    val needle = s"""(?i)nextval\\s*\\(\\s*'${java.util.regex.Pattern.quote(name)}'""".r
    defaults.foreach { case (t, ds) =>
      ds.foreach { case (c, e) =>
        if (needle.findFirstIn(e).isDefined) throw new IllegalArgumentException(
          s"cannot drop sequence $name because other objects depend on it " +
            s"(default of $t.$c)")
      }
    }
    sequences.remove(key)
    saveManifest()
    emptyResult
  }

  /** pg's GENERATED ALWAYS contract: an INSERT naming an always-identity
    * column errors unless every VALUES field at its position is the
    * DEFAULT keyword (pg allows writing DEFAULT into the slot) or the
    * statement carries OVERRIDING SYSTEM VALUE.
    */
  private def checkIdentityAlways(table: String, colList: Option[String],
      source: String, overridingSystem: Boolean): Unit = {
    if (!tables.contains(table)) return
    val always =
      if (overridingSystem) Set.empty[String] // bypasses IDENTITY only
      else identityAlways.getOrElse(table, Set.empty)
    val gens = generatedCols.getOrElse(table, Map.empty).keySet
    if (always.isEmpty && gens.isEmpty) return
    val declared = colList.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(tables(table)._1.fields.map(_.name).toSeq)
    // Strip the ON CONFLICT tail first: with it attached, the last VALUES
    // tuple ends in "do nothing"/"do update ..." instead of ")", so a
    // legitimate (DEFAULT, ...) insert would be spuriously refused.
    val src = {
      val oc = SqlText.indexOfTopLevelPhrase(source, Seq("on", "conflict"))
      if (oc >= 0) source.substring(0, oc) else source
    }
    declared.zipWithIndex
      .filter { case (cn, _) =>
        always.contains(cn.toLowerCase) || gens.contains(cn.toLowerCase) }
      .foreach { case (cn, i) =>
        val s = src.trim
        val allDefault = s.toLowerCase.startsWith("values") &&
          SqlText.splitTopLevel(s.substring("values".length)).forall { t =>
            val tt = t.trim
            tt.startsWith("(") && tt.endsWith(")") && {
              val fs = SqlText.splitTopLevel(tt.substring(1, tt.length - 1))
              i < fs.length && fs(i).trim.equalsIgnoreCase("default")
            }
          }
        if (!allDefault) throw new IllegalArgumentException(
          if (gens.contains(cn.toLowerCase))
            s"""cannot insert a non-DEFAULT value into column "$cn": it """ +
              "is a generated column" // pg: OVERRIDING does not bypass
          else
            s"""cannot insert a non-DEFAULT value into column "$cn": column """ +
              "is an identity column defined as GENERATED ALWAYS " +
              "(use OVERRIDING SYSTEM VALUE to override)")
      }
  }

  // ---- generated columns ---------------------------------------------------

  /** table → (lowercase column → generating expression text) for
    * `GENERATED ALWAYS AS (expr) STORED` columns (pg 12). The value is
    * ALWAYS the expression over the row's other columns: every DML
    * projection chains [[withGenerated]] so post-images (the write, the
    * RETURNING rows, the IVM update deltas) all carry freshly computed
    * values. Expressions are validated at CREATE: deterministic, no
    * sequence functions, no references to other generated columns —
    * which also makes the recompute idempotent.
    */
  private val generatedCols = mutable.LinkedHashMap[String, Map[String, String]]()

  /** Recompute `table`'s generated columns over `df` (a frame carrying
    * the table's schema columns): each generated output becomes its
    * expression over the OTHER columns' current values — chained after
    * an assignment projection this yields pg's contract (generated
    * values derive from the post-image). No-op for tables without
    * generated columns.
    */
  private def withGenerated(table: String, df: DataFrame): DataFrame = {
    val gens = generatedCols.getOrElse(table, Map.empty)
    if (gens.isEmpty) return df
    df.select(df.columns.map { n =>
      gens.get(n.toLowerCase) match {
        case Some(e) =>
          val dt = tables(table)._1.fields
            .find(_.name.equalsIgnoreCase(n)).get.dataType
          expr(inlineFunctions(e)).cast(dt).as(n)
        case None => col(n)
      }
    }.toIndexedSeq: _*)
  }

  /** Split a column-spec tail on `GENERATED ALWAYS AS (expr) STORED`:
    * returns the spec with the clause removed and the expression text.
    * Balanced-paren, quote-aware scan — the expression may contain
    * nested calls, commas, and keyword-lookalike literals.
    */
  private def splitGenerated(spec: String): (String, Option[String]) = {
    val m = """(?i)\bgenerated\s+always\s+as\s*\(""".r.findFirstMatchIn(spec)
      .getOrElse(return (spec, None))
    val open = m.end - 1
    var depth = 0
    var inQ = false
    var close = -1
    var i = open
    while (i < spec.length && close < 0) {
      val ch = spec.charAt(i)
      if (inQ) { if (ch == '\'') inQ = false }
      else ch match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    require(close > open, s"unbalanced GENERATED expression in: $spec")
    val tail = spec.substring(close + 1)
    val stored = """(?i)^\s*stored\b""".r.findFirstMatchIn(tail)
    require(stored.isDefined,
      "GENERATED ALWAYS AS (expr) requires STORED (virtual generated " +
        "columns are not supported)")
    val cleaned = spec.substring(0, m.start) + " " +
      tail.substring(stored.get.end)
    (cleaned, Some(spec.substring(open + 1, close).trim))
  }

  /** Validate a generated column's expression at CREATE/ALTER time:
    * resolvable over the table's schema, deterministic, no sequence
    * functions, and no references to OTHER generated columns (pg
    * forbids chains; it also keeps [[withGenerated]] single-pass).
    */
  private def validateGenerated(table: String, colName: String, e: String,
      schema: StructType, otherGens: Iterable[String]): Unit = {
    require(!usesSequenceFn(e),
      s"generated column $colName: sequence functions are not allowed")
    otherGens.filterNot(_ == colName.toLowerCase).foreach { g =>
      require(s"(?i)\\b${java.util.regex.Pattern.quote(g)}\\b".r
          .findFirstIn(e).isEmpty,
        s"generated column $colName cannot reference another generated " +
          s"column ($g)")
    }
    require(s"(?i)\\b${java.util.regex.Pattern.quote(colName)}\\b".r
        .findFirstIn(e).isEmpty,
      s"generated column $colName cannot reference itself")
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val analyzed =
      try probe.select(expr(inlineFunctions(e))).queryExecution.analyzed
      catch {
        case ex: Exception => throw new IllegalArgumentException(
          s"generated column $colName: expression does not resolve over " +
            s"$table's columns: ${ex.getMessage}", ex)
      }
    require(analyzed.expressions.forall(_.deterministic),
      s"generated column $colName: expression must be deterministic (pg " +
        "requires immutable generation expressions)")
  }

  /** The nextval('<seq>') DEFAULT shape the bulk-insert stamp recognizes. */
  private val reNextvalDefault =
    """(?i)^\s*nextval\s*\(\s*'(\w+)'\s*(?:::\s*regclass\s*)?\)\s*$""".r
  private def nextvalDefaultSeq(dflt: String): Option[String] =
    reNextvalDefault.findFirstMatchIn(dflt).map(_.group(1))

  // ---- DDL ---------------------------------------------------------------

  /** Reference type names → Spark types (SURVEY.md §1.2). */
  private def parseType(t: String): DataType = t.trim.toLowerCase match {
    case s if s.startsWith("smallint") => ShortType
    // INTERVAL must precede the int prefix match ("interval".startsWith("int")).
    // Day-to-second ANSI interval: parquet-writable (CalendarIntervalType is
    // not); reference intervals with month parts are out of this envelope
    // (`/root/reference/src/types/interval.rs`).
    case s if s.startsWith("interval") => DayTimeIntervalType()
    case s if s.startsWith("int") || s.startsWith("integer") => IntegerType
    case s if s.startsWith("bigint") => LongType
    case s if s.startsWith("double") || s.startsWith("float") || s.startsWith("real") => DoubleType
    case s if s.startsWith("decimal") || s.startsWith("numeric") =>
      val m = """\w+\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r.findFirstMatchIn(s)
      m.map(g => DecimalType(g.group(1).toInt, g.group(2).toInt)).getOrElse(DecimalType(38, 10))
    case s if s.startsWith("varchar") || s.startsWith("char") || s.startsWith("text") ||
        s.startsWith("string") => StringType
    case s if s.startsWith("bool") => BooleanType
    case s if s.startsWith("date") => DateType
    case s if s.startsWith("timestamp") => TimestampNTZType
    case s if s.startsWith("blob") || s.startsWith("bytea") || s.startsWith("binary") => BinaryType
    case s if s.startsWith("vector") =>
      // reference VECTOR(n) — fixed-length double vector (types/vector.rs)
      ArrayType(DoubleType, containsNull = false)
    case other => throw new IllegalArgumentException(s"unknown type: $other")
  }

  /** Split a column-spec tail (`int DEFAULT 5 NOT NULL`) into the
    * type/constraint text and the DEFAULT expression — quote-aware, so a
    * default literal containing 'not null' stays payload. The expression
    * runs to the next top-level constraint keyword or the end.
    */
  private def splitDefault(spec: String): (String, Option[String]) = {
    val di = SqlText.indexOfTopLevelPhrase(spec, Seq("default"))
    if (di < 0) (spec, None)
    else {
      val tail = spec.substring(di + "default".length)
      val cut = Seq(Seq("not", "null"), Seq("primary", "key"))
        .map(SqlText.indexOfTopLevelPhrase(tail, _)).filter(_ >= 0)
        .sorted.headOption.getOrElse(tail.length)
      val e = tail.substring(0, cut).trim
      require(e.nonEmpty, s"DEFAULT requires an expression in: $spec")
      (spec.substring(0, di) + " " + tail.substring(cut), Some(e))
    }
  }

  /** Extract a `[CONSTRAINT name] CHECK (expr)` clause from a column-spec
    * tail or a table-level constraint entry — the keyword search is
    * quote-aware (a default literal containing 'check' stays payload) and
    * the expression is taken paren-balanced, so nested calls and commas
    * inside the check survive. Returns the spec without the clause plus
    * the optional (name, expression).
    */
  private def splitCheck(spec: String)
      : (String, Option[(Option[String], String)]) = {
    val ci = SqlText.indexOfTopLevelPhrase(spec, Seq("check"))
    if (ci < 0) (spec, None)
    else {
      val open = spec.indexOf('(', ci)
      require(open >= 0 && spec.substring(ci + "check".length, open).trim.isEmpty,
        s"CHECK requires a parenthesized expression in: $spec")
      val close = SqlText.matchingParen(spec, open)
      val e = spec.substring(open + 1, close).trim
      require(e.nonEmpty, s"CHECK requires an expression in: $spec")
      val ni = SqlText.indexOfTopLevelPhrase(spec, Seq("constraint"))
      val (start, nm) =
        if (ni >= 0 && ni < ci) {
          val n = spec.substring(ni + "constraint".length, ci).trim
          require(n.matches("""\w+"""), s"bad constraint name '$n' in: $spec")
          (ni, Some(n))
        } else (ci, None)
      (spec.substring(0, start) + " " + spec.substring(close + 1), Some((nm, e)))
    }
  }

  /** Append one CHECK under a unique name (pg naming: `t_check`,
    * `t_col_check`, numbered on collision) — pure, so a CREATE that fails
    * mid-parse leaves no orphan constraint state behind. */
  private def addCheckEntry(cur: Vector[(String, String)], nm: Option[String],
      base: String, e: String, table: String): Vector[(String, String)] = {
    val name = nm.getOrElse {
      var c = base; var i = 0
      while (cur.exists(_._1.equalsIgnoreCase(c))) { i += 1; c = s"$base$i" }
      c
    }
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists on $table")
    cur :+ (name, e)
  }

  private def parsePartitionCols(spec: String): Seq[String] =
    Option(spec).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Validate PARTITIONED BY columns against `schema` and pin the layout:
    * the stored schema moves partition columns LAST (Spark's catalog
    * normalization — our copy stays identical so positional INSERT and
    * SELECT * agree with the catalog), and a column can't be both a
    * partition and the bucket column.
    */
  private def adoptPartitionSpec(name: String, schema: StructType,
      pCols: Seq[String], bucketSpec: Option[(String, Int)]): StructType = {
    if (pCols.isEmpty) return schema
    val resolved = pCols.map { p =>
      schema.fields.find(_.name.equalsIgnoreCase(p)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY: unknown column $p in $name"))
    }
    require(resolved.map(_.name.toLowerCase).distinct.length == resolved.length,
      s"PARTITIONED BY: duplicate column in $name")
    bucketSpec.foreach { case (c, _) =>
      require(!resolved.exists(_.name.equalsIgnoreCase(c)),
        s"column $c cannot be both a partition and the bucket column")
    }
    resolved.foreach { f =>
      require(minMaxableType(f.dataType) || f.dataType == StringType ||
          f.dataType == BooleanType,
        s"PARTITIONED BY: unsupported partition column type " +
          s"${f.dataType.simpleString} for ${f.name}")
    }
    partitions(name) = resolved.map(_.name)
    val partNames = resolved.map(_.name.toLowerCase).toSet
    StructType(schema.fields.filterNot(f =>
      partNames.contains(f.name.toLowerCase)) ++ resolved)
  }

  private def createTable(name: String, colsSpec: String,
      bucketSpec: Option[(String, Int)] = None,
      partitionCols: Seq[String] = Seq.empty): DataFrame = {
    // duplicate-create parity: the reference catalog rejects an existing
    // name (src/catalog/root.rs add_table)
    require(!tables.contains(name) && !views.contains(name),
      s"table or view already exists: $name")
    require(!name.startsWith("__graft_"), s"reserved name prefix: $name")
    // split on top-level commas, quote-aware (parens nest inside
    // DECIMAL(p,s) and CHECK exprs; a DEFAULT ',' literal is payload)
    val parts = SqlText.splitTopLevel(colsSpec).filter(_.trim.nonEmpty)

    val pk = mutable.Buffer[String]()
    val colDefaults = mutable.LinkedHashMap[String, String]()
    var colChecks = Vector.empty[(String, String)]
    // SERIAL / GENERATED ... AS IDENTITY desugar to an OWNED sequence +
    // DEFAULT nextval (pg's own desugaring) — collected here, created
    // after the table registers
    val pendingSeqs = mutable.Buffer[(String, String, String)]()
    val alwaysCols = mutable.Set[String]()
    val pendingGens = mutable.LinkedHashMap[String, String]()
    val reIdent =
      """(?i)\bgenerated\s+(always|by\s+default)\s+as\s+identity\s*(?:\(([^)]*)\))?""".r
    val reSerial = """(?i)^\s*(small|big)?serial\b""".r
    val fields = parts.flatMap { p =>
      val toks = p.trim.split("\\s+", 2)
      if (toks(0).equalsIgnoreCase("primary")) {
        // table-level: PRIMARY KEY (a, b)
        pk ++= "\\((.*)\\)".r.findFirstMatchIn(p).toSeq
          .flatMap(_.group(1).split(",").map(_.trim))
        None
      } else if (toks(0).equalsIgnoreCase("check") ||
          toks(0).equalsIgnoreCase("constraint")) {
        // table-level: [CONSTRAINT name] CHECK (expr)
        val (rem, c) = splitCheck(p.trim)
        require(c.isDefined && rem.trim.isEmpty,
          s"malformed table constraint: ${p.trim}")
        val (nm, e) = c.get
        colChecks = addCheckEntry(colChecks, nm, s"${name}_check", e, name)
        None
      } else {
        val colName = toks(0)
        // the identity/serial clause comes out BEFORE the keyword scans:
        // "GENERATED BY DEFAULT AS IDENTITY" contains the DEFAULT
        // keyword and would spoof splitDefault into a bogus expression
        var spec = toks(1)
        val identM = reIdent.findFirstMatchIn(spec)
        val serialM = reSerial.findFirstMatchIn(spec)
        identM.foreach(_ => spec = reIdent.replaceFirstIn(spec, " "))
        serialM.foreach { m =>
          val ty = Option(m.group(1)).map(_.toLowerCase) match {
            case Some("big") => "bigint"
            case Some("small") => "smallint"
            case _ => "int"
          }
          spec = reSerial.replaceFirstIn(spec, ty)
        }
        // ... as does GENERATED ALWAYS AS (expr) STORED, whose expression
        // may contain keyword-lookalike payload ('check', 'default')
        val (specG, genOpt) = splitGenerated(spec)
        genOpt.foreach { g =>
          require(identM.isEmpty && serialM.isEmpty,
            s"column $colName: a column is identity OR generated, not both")
          pendingGens(colName.toLowerCase) = g
        }
        // constraint clauses come out next (check, then default) so a
        // literal containing 'not null' / 'primary key' / 'check' can't
        // spoof the keyword scans that follow
        val (rest0, chkOpt) = splitCheck(specG)
        chkOpt.foreach { case (nm, e) =>
          colChecks = addCheckEntry(colChecks, nm,
            s"${name}_${colName.toLowerCase}_check", e, name)
        }
        val (rest, defOpt) = splitDefault(rest0)
        require(genOpt.isEmpty || defOpt.isEmpty,
          s"column $colName: GENERATED excludes an explicit DEFAULT (pg)")
        if (identM.isDefined || serialM.isDefined) {
          require(defOpt.isEmpty,
            s"column $colName: identity/serial excludes an explicit DEFAULT")
          var sq = s"${name}_${colName}_seq".toLowerCase
          while (sequences.contains(sq) || tables.contains(sq) ||
              pendingSeqs.exists(_._1 == sq)) sq += "1"
          val seqOpts = identM.flatMap(m => Option(m.group(2))).getOrElse("")
          pendingSeqs += ((sq, seqOpts, colName))
          colDefaults(colName.toLowerCase) = s"nextval('$sq')"
          if (identM.exists(_.group(1).equalsIgnoreCase("always")))
            alwaysCols += colName.toLowerCase
        } else defOpt.foreach(d => colDefaults(colName.toLowerCase) = d)
        val lower = rest.toLowerCase
        if (lower.contains("primary key")) pk += colName
        // identity/serial columns are NOT NULL by construction (pg)
        val notNull = lower.contains("not null") ||
          lower.contains("primary key") ||
          identM.isDefined || serialM.isDefined
        Some(StructField(colName, parseType(rest), nullable = !notNull))
      }
    }
    val schema0 = StructType(fields.toSeq)
    // validate generation expressions BEFORE anything registers, so a
    // bad expression leaves no half-created table behind
    pendingGens.foreach { case (cn, e) =>
      validateGenerated(name, cn, e, schema0, pendingGens.keys)
    }
    bucketSpec.foreach { case (c, n) =>
      require(schema0.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"CLUSTERED BY: unknown column $c in $name")
      require(n > 0, s"CLUSTERED BY: bucket count must be positive, got $n")
    }
    val schema = adoptPartitionSpec(name, schema0, partitionCols, bucketSpec)
    bucketSpec.foreach { case (c, n) =>
      buckets(name) = (schema.fieldNames.find(_.equalsIgnoreCase(c)).get, n)
    }
    tables(name) = (schema, pk.toSeq)
    if (colDefaults.nonEmpty) defaults(name) = colDefaults.toMap
    if (colChecks.nonEmpty) checks(name) = colChecks
    pendingSeqs.foreach { case (sq, seqOpts, colName) =>
      createSequence(sq, seqOpts, ifNotExists = false,
        owner = Some((name, colName)))
    }
    if (alwaysCols.nonEmpty) identityAlways(name) = alwaysCols.toSet
    if (pendingGens.nonEmpty) generatedCols(name) = pendingGens.toMap
    history(name) = Vector(Commit(System.currentTimeMillis(), "create table",
      schema.toDDL, newVersionDir(name).getFileName.toString))
    Files.createDirectories(liveDir(name))
    rowCounts(name) = 0L // ledger baseline: a new table is empty
    register(name)
    saveManifest()
    emptyResult
  }

  /** CREATE TABLE ... AS <query>: schema from the analyzed query, data
    * written in the SAME distributed pass (rows_affected rides the write
    * as an observe metric — no second scan), optional bucket layout
    * honored by writing through the catalog entry like every other write
    * path. The query runs through the full statement pipeline (`run`),
    * so UDF inlining, views, and the vector IndexScan tier all apply.
    */
  private def createTableAs(name: String, bucketSpec: Option[(String, Int)],
      query: String, partitionCols: Seq[String] = Seq.empty): DataFrame = {
    require(!tables.contains(name) && !views.contains(name),
      s"table or view already exists: $name")
    require(!name.startsWith("__graft_"), s"reserved name prefix: $name")
    val df0 = run(query)
    bucketSpec.foreach { case (c, n) =>
      require(df0.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"CLUSTERED BY: unknown column $c in $name")
      require(n > 0, s"CLUSTERED BY: bucket count must be positive, got $n")
    }
    val schema = adoptPartitionSpec(name, df0.schema, partitionCols, bucketSpec)
    // the stored layout moved partition columns last: write in that order
    val df = df0.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    tables(name) = (schema, Seq.empty)
    bucketSpec.foreach { case (c, n) =>
      buckets(name) = (schema.fieldNames.find(_.equalsIgnoreCase(c)).get, n)
    }
    val dir = newVersionDir(name)
    try {
      history(name) = Vector(Commit(System.currentTimeMillis(),
        "create table as select", schema.toDDL, dir.getFileName.toString))
      rowCounts(name) = 0L // baseline; the write adds the observed delta
      register(name)
      val obs = org.apache.spark.sql.Observation()
      writeAppend(name, df.observe(obs, count(lit(1)).as("n")), dir)()
      refresh(name)
      saveManifest()
      pushStats(name)
      syncLive(name)
      rowCountResult(observedCount(obs))
    } catch {
      case e: Exception => // failed write: don't leave a phantom catalog entry
        tables.remove(name); buckets.remove(name); history.remove(name)
        partitions.remove(name)
        rowCounts.remove(name); colStatsLedger.remove(name)
        spark.sql(s"DROP TABLE IF EXISTS `$name`")
        reclaimHistory(name)
        throw e
    }
  }

  /** ADD COLUMN (nullable only — NOT NULL over existing rows needs a
    * DEFAULT, which pg stores as metadata; unsupported here): schema-only
    * change, old files read NULL for the new column by name resolution.
    */
  private def alterAddColumn(table: String, colName: String,
      typeSpec: String): DataFrame = {
    val (schema, pk) = tables(table)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"column already exists: $colName")
    // partitioned layout: partition columns stay LAST in the schema
    // (catalog normalization) — a new data column slots in before them
    def added(f: StructField): StructType = partitions.get(table) match {
      case Some(ps) =>
        val pSet = ps.map(_.toLowerCase).toSet
        val (data, parts) = schema.fields.partition(x =>
          !pSet.contains(x.name.toLowerCase))
        StructType((data :+ f) ++ parts)
      case None => schema.add(f)
    }
    // ADD COLUMN ... GENERATED ALWAYS AS (expr) STORED (pg): existing
    // rows backfill with the computed expression through the same swap
    // commit a filled DEFAULT takes; new writes recompute per statement
    locally {
      val (specG, genOpt) = splitGenerated(typeSpec)
      genOpt.foreach { g =>
        val dt = parseType(specG)
        validateGenerated(table, colName, g, schema,
          generatedCols.getOrElse(table, Map.empty).keys)
        val filled = spark.table(table)
          .withColumn(colName, expr(inlineFunctions(g)).cast(dt))
        tables(table) = (added(StructField(colName, dt, nullable = true)), pk)
        generatedCols(table) = generatedCols.getOrElse(table, Map.empty) +
          (colName.toLowerCase -> g)
        register(table)
        rewriteSwap(table, filled, s"add column $colName")
        saveManifest()
        return emptyResult
      }
    }
    val (spec, defOpt) = splitDefault(typeSpec)
    val notNull = spec.toLowerCase.contains("not null")
    defOpt match {
      case None =>
        require(!notNull, "ADD COLUMN ... NOT NULL requires a DEFAULT")
        tables(table) = (added(StructField(colName, parseType(spec),
          nullable = true)), pk)
        register(table)
        // metadata-only, but still a commit: the pre-ADD version's log
        // entry already pins the narrower schema, so its archived read
        // excludes the column; the files are unchanged (links, no copy)
        linkCommit(table, s"add column $colName")
        emptyResult
      case Some(d) =>
        // pg semantics: existing rows take the default. Like pg 11+, a
        // NON-VOLATILE default becomes per-column "missing value"
        // metadata — evaluated exactly ONCE here, stored as a literal —
        // and NO row is rewritten: pre-ALTER files (recorded by
        // basename) read the fill at scan time through the overlay. An
        // N-TB table takes this ALTER as a metadata commit. A volatile
        // default (nextval, rand) fills through the O(table) swap
        // commit, exactly as pg rewrites for volatile defaults.
        val dt = parseType(spec)
        val fillProbe = scala.util.Try(
          spark.range(1).select(expr(inlineFunctions(d)).cast(dt).as("v")))
        val litOpt = fillProbe.toOption
          .filter(planDeterministic)
          .flatMap(f => scala.util.Try(f.collect()(0).get(0)).toOption
            .flatMap(v => sqlLiteralOpt(v, dt)))
        litOpt match {
          case Some(litText) =>
            require(!notNull || !litText.startsWith("CAST(NULL"),
              s"column $colName: NOT NULL requires a non-null DEFAULT")
            val files = liveDataFiles(Paths.get(tableDir(table)))
              .map(_.getFileName.toString).toSet
            tables(table) =
              (added(StructField(colName, dt, nullable = !notNull)), pk)
            defaults(table) =
              defaults.getOrElse(table, Map.empty) + (colName.toLowerCase -> d)
            if (files.nonEmpty) {
              val gens = missingFill.getOrElse(table, Map.empty)
              missingFill(table) = gens + (colName.toLowerCase ->
                (MissingFill(litText, files) +:
                  gens.getOrElse(colName.toLowerCase, Seq.empty)))
            }
            register(table)
            // metadata-only, but still a commit (same shape as the bare
            // ADD COLUMN above): the archived version pins the narrower
            // schema; every data file keeps its inode
            linkCommit(table, s"add column $colName")
            saveManifest()
            emptyResult
          case None =>
            val filled = spark.table(table)
              .withColumn(colName, expr(inlineFunctions(d)).cast(dt))
            tables(table) =
              (added(StructField(colName, dt, nullable = !notNull)), pk)
            defaults(table) =
              defaults.getOrElse(table, Map.empty) + (colName.toLowerCase -> d)
            register(table)
            rewriteSwap(table, filled, s"add column $colName")
            emptyResult
        }
    }
  }

  /** Render a collected value as a self-contained Spark SQL literal for
    * the missing-value overlay (round-trip exact; floats/decimals go
    * through a string cast so shortest-round-trip text re-reads the
    * same bits). None → the caller falls back to the rewrite path.
    */
  private def sqlLiteralOpt(v: Any, dt: DataType): Option[String] = v match {
    case null => Some(s"CAST(NULL AS ${dt.sql})")
    case s: String =>
      Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case b: Boolean => Some(b.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(s"CAST($n AS ${dt.sql})")
    case f: Float => Some(s"CAST('$f' AS FLOAT)")
    case d: Double => Some(s"CAST('$d' AS DOUBLE)")
    case d: java.math.BigDecimal => Some(s"CAST('$d' AS ${dt.sql})")
    case d: scala.math.BigDecimal => Some(s"CAST('$d' AS ${dt.sql})")
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '$t'")
    case _ => None // arrays/binary/etc: rewrite path handles them
  }

  /** DROP COLUMN: rewrites the data with the column projected out,
    * through the same materialize-then-swap commit as DELETE. A
    * metadata-only drop (leave the parquet column orphaned) would be
    * O(1) — but a later ADD COLUMN with the same name RESURRECTS the
    * dropped values through name-based resolution, silent wrong data;
    * zero-rewrite drops need column-mapping metadata (iceberg/delta).
    * The bucket column and PK members are load-bearing and refuse to
    * drop (pg parity: dependent constraints block a drop).
    */
  /** ALTER TABLE ... ADD [CONSTRAINT name] CHECK (expr): pg validates the
    * EXISTING rows with one scan before the constraint lands — a limit-1
    * probe for any row where the check is FALSE (3VL: NULL passes).
    */
  private def alterAddConstraint(table: String, clause: String): DataFrame = {
    val (rem, c) = splitCheck(clause.trim)
    require(c.isDefined && rem.trim.isEmpty,
      s"malformed ADD CONSTRAINT clause: ${clause.trim}")
    val (nm, e) = c.get
    val cur = checks.getOrElse(table, Vector.empty)
    val appended = addCheckEntry(cur, nm, s"${table}_check", e, table)
    val name = appended.last._1
    val violating = spark.table(table)
      .filter(!coalesce(expr(inlineFunctions(e)).cast("boolean"), lit(true)))
      .limit(1).count()
    require(violating == 0,
      s"""check constraint "$name" of relation "$table" is violated by some row""")
    checks(table) = appended
    saveManifest()
    emptyResult
  }

  private def alterDropConstraint(table: String, name: String,
      ifExists: Boolean): DataFrame = {
    val cur = checks.getOrElse(table, Vector.empty)
    if (!cur.exists(_._1.equalsIgnoreCase(name))) {
      if (ifExists) return emptyResult
      throw new IllegalArgumentException(
        s"""constraint "$name" of relation "$table" does not exist""")
    }
    val kept = cur.filterNot(_._1.equalsIgnoreCase(name))
    if (kept.isEmpty) checks.remove(table) else checks(table) = kept
    saveManifest()
    emptyResult
  }

  /** ALTER TABLE ... ALTER [COLUMN] c SET|DROP NOT NULL: SET validates
    * the existing rows first (pg); both directions are metadata-only —
    * the schema's nullable flag is what the write-path guard reads, and
    * parquet files carry their own (advisory) nullability.
    */
  private def alterNotNull(table: String, colName: String,
      set: Boolean): DataFrame = {
    val (schema, pk) = tables(table)
    val field = schema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(s"no such column: $colName"))
    if (set) {
      if (!field.nullable) return emptyResult // already NOT NULL
      val nulls = spark.table(table).filter(col(field.name).isNull)
        .limit(1).count()
      require(nulls == 0,
        s"""column "${field.name}" of relation "$table" contains null values""")
    } else {
      require(!pk.exists(_.equalsIgnoreCase(colName)),
        s"""column "${field.name}" is in a primary key""") // pg refuses
      if (field.nullable) return emptyResult
    }
    tables(table) = (StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(colName)) f.copy(nullable = !set) else f)),
      pk)
    register(table)
    linkCommit(table,
      s"alter column ${field.name} ${if (set) "set" else "drop"} not null")
    saveManifest()
    emptyResult
  }

  private def alterDropColumn(table: String, colName: String): DataFrame = {
    val (schema, pk) = tables(table)
    val field = schema.fieldNames.find(_.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(s"no such column: $colName"))
    require(schema.length > 1, "cannot drop the only column")
    require(!buckets.get(table).exists(_._1.equalsIgnoreCase(colName)),
      s"cannot drop the CLUSTERED BY column $colName")
    require(!partitions.get(table).exists(_.exists(_.equalsIgnoreCase(colName))),
      s"cannot drop the PARTITIONED BY column $colName")
    require(!pk.exists(_.equalsIgnoreCase(colName)),
      s"cannot drop primary key column $colName")
    // a generated column may be dropped; a column another generated
    // expression READS may not (pg refuses the dependent drop)
    generatedCols.get(table).foreach { gens =>
      gens.foreach { case (g, e) =>
        require(g == field.toLowerCase ||
            s"(?i)\\b${java.util.regex.Pattern.quote(field)}\\b".r
              .findFirstIn(e).isEmpty,
          s"cannot drop column $field: generated column $g depends on it")
      }
      val kept = gens - field.toLowerCase
      if (kept.isEmpty) generatedCols.remove(table)
      else generatedCols(table) = kept
    }
    val narrowed = spark.table(table).drop(field)
    tables(table) = (StructType(schema.filterNot(_.name == field)), pk)
    defaults.get(table).foreach(d => defaults(table) = d - field.toLowerCase)
    // the fill HISTORY deliberately survives DROP COLUMN: live reads no
    // longer carry the column (withMissingFill only fills columns present
    // in the frame), but archived versions between the ADD and this DROP
    // still owe the fill to time travel

    // CHECK constraints referencing the column go with it (pg drops
    // column-level constraints on DROP COLUMN) — a lingering check would
    // brick every later write on an unresolvable column
    checks.get(table).foreach { cs =>
      val kept = cs.filterNot { case (_, e) =>
        s"(?i)\\b${java.util.regex.Pattern.quote(field)}\\b".r
          .findFirstIn(e).isDefined }
      if (kept.isEmpty) checks.remove(table) else checks(table) = kept
    }
    register(table)
    rewriteSwap(table, narrowed, s"drop column $field")
    saveManifest()
    emptyResult
  }

  /** RENAME COLUMN: parquet resolves by name, so the data REWRITES through
    * the same materialize-then-swap commit as DELETE — correct at any
    * size, though O(table); zero-rewrite renames need column-mapping
    * metadata (the iceberg/delta approach), documented trade.
    */
  private def alterRenameColumn(table: String, from: String, to: String)
      : DataFrame = {
    val (schema, pk) = tables(table)
    val field = schema.fieldNames.find(_.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(s"no such column: $from"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column already exists: $to")
    // the partition column's name is baked into every k=v directory —
    // renaming it would orphan the layout (buckets re-hash on rewrite,
    // directories don't)
    require(!partitions.get(table).exists(_.exists(_.equalsIgnoreCase(from))),
      s"cannot rename the PARTITIONED BY column $from")
    // BEFORE any catalog mutation: renaming a column a generated
    // expression READS would orphan the expression text — refuse (pg
    // tracks the dependency through its parse trees); renaming the
    // generated column itself re-keys its entry below
    generatedCols.get(table).foreach { gens =>
      gens.foreach { case (g, e) =>
        require(g == from.toLowerCase ||
            s"(?i)\\b${java.util.regex.Pattern.quote(from)}\\b".r
              .findFirstIn(e).isEmpty,
          s"cannot rename column $from: generated column $g references it")
      }
    }
    val renamed = spark.table(table).withColumnRenamed(field, to)
    tables(table) = (StructType(schema.map(f =>
      if (f.name == field) f.copy(name = to) else f)),
      pk.map(p => if (p.equalsIgnoreCase(from)) to else p))
    buckets.get(table).foreach { case (c, n) =>
      if (c.equalsIgnoreCase(from)) buckets(table) = (to, n)
    }
    defaults.get(table).foreach { d =>
      d.get(from.toLowerCase).foreach(e =>
        defaults(table) = d - from.toLowerCase + (to.toLowerCase -> e))
    }
    generatedCols.get(table).foreach { gens =>
      gens.get(from.toLowerCase).foreach(e =>
        generatedCols(table) = gens - from.toLowerCase + (to.toLowerCase -> e))
    }
    register(table)
    rewriteSwap(table, renamed, s"rename column $field to $to")
    saveManifest()
    emptyResult
  }

  /** RENAME TO: link the version directories under the new name, then
    * move every catalog reference (bucket spec, indexes); the old
    * directories are reclaimed once no reader pins them.
    */
  private def alterRenameTable(from: String, to: String): DataFrame = {
    require(!tables.contains(to) && !views.contains(to),
      s"table or view already exists: $to")
    spark.sql(s"DROP TABLE IF EXISTS `$from`")
    spark.sql(s"DROP TABLE IF EXISTS `${rawName(from)}`")
    spark.catalog.dropTempView(from)
    if (Files.exists(liveDir(from))) Files.move(liveDir(from), liveDir(to))
    tables(to) = tables.remove(from).get
    buckets.remove(from).foreach(b => buckets(to) = b)
    partitions.remove(from).foreach(p => partitions(to) = p)
    missingFill.remove(from).foreach(m => missingFill(to) = m)
    overlayOn -= from // register(to) recomputes activity under the new name
    indexes.keys.toSeq.foreach { ix =>
      val (t, c, m, o) = indexes(ix)
      if (t.equalsIgnoreCase(from)) indexes(ix) = (to, c, m, o)
    }
    // history travels with the table (versions + IVM deltas under the
    // new name): linked, as a reader may still scan the old directories.
    // Each version takes a name free under the new one — a dropped
    // table's directories may survive there until their readers end.
    history.remove(from).foreach { log =>
      history(to) = log.map { c =>
        val src = historyDir(from).resolve(c.dir)
        if (!Files.isDirectory(src)) c // vacuumed
        else {
          val dst = freshVersionDir(to, c.dir)
          linkTree(src, dst)
          c.copy(dir = dst.getFileName.toString)
        }
      }
    }
    if (Files.isDirectory(historyDir(from)))
      children(historyDir(from)).filter { d =>
        val n = d.getFileName.toString
        n.startsWith("d") || n.startsWith("u")
      }.foreach(d => linkTree(d, historyDir(to).resolve(d.getFileName.toString)))
    reclaimHistory(from)
    defaults.remove(from).foreach(d => defaults(to) = d)
    rowCounts.remove(from).foreach(n => rowCounts(to) = n)
    colStatsLedger.remove(from).foreach(cs => colStatsLedger(to) = cs)
    identityAlways.remove(from).foreach(s => identityAlways(to) = s)
    generatedCols.remove(from).foreach(g => generatedCols(to) = g)
    // owned sequences follow their table (keeps DROP TABLE / TRUNCATE
    // RESTART IDENTITY working after a rename; the sequence NAME stays,
    // like pg)
    sequences.keys.toSeq.foreach { sq =>
      val st = sequences(sq)
      st.owner.filter(_._1.equalsIgnoreCase(from)).foreach { case (_, c) =>
        sequences(sq) = st.copy(owner = Some((to, c)))
      }
    }
    register(to)
    linkCommit(to, s"rename from $from")
    emptyResult
  }

  /** TRUNCATE: drop every data file, keep the schema/layout — one row-less
    * table dir, no per-row work at any size.
    */
  private def truncate(table: String): DataFrame = {
    txnTouch(table)
    // an empty new version: the pre-truncate one stays as it was (an
    // undoable commit: INSERT INTO t SELECT * FROM t VERSION AS OF k
    // restores it)
    commitVersion(table, newVersionDir(table), "truncate") {
      rowCounts(table) = 0L
      colStatsLedger.remove(table) // empty table: no column stats
    }
    emptyResult
  }

  private def drop(kind: String, name: String): DataFrame = {
    if (kind == "function") { // SQL UDFs are catalog-only metadata
      require(functions.contains(name), s"no such function: $name")
      functions.remove(name)
      saveManifest()
      return emptyResult
    }
    // dropping a missing object errors like the reference binder
    require(if (kind == "table") tables.contains(name) else views.contains(name),
      s"no such $kind: $name")
    // pg parity: a matview is neither (DROP MATERIALIZED VIEW routes here
    // only after removing the marker, so this guard never blocks it)
    require(!matviews.contains(name),
      s"$name is a materialized view: use DROP MATERIALIZED VIEW")
    if (kind == "table") {
      // a foreign session's open txn could not undo past a DROP
      checkForeignLock(name)
      tables.remove(name)
      buckets.remove(name)
      partitions.remove(name)
      missingFill.remove(name)
      overlayOn -= name
      spark.sql(s"DROP TABLE IF EXISTS `${rawName(name)}`")
      history.remove(name)
      defaults.remove(name)
      rowCounts.remove(name)
      colStatsLedger.remove(name)
      identityAlways.remove(name)
      generatedCols.remove(name)
      // serial/identity sequences are OWNED: they drop with their table
      // (pg); explicitly-created sequences survive
      sequences.filterInPlace { case (_, st) =>
        !st.owner.exists(_._1.equalsIgnoreCase(name)) }
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      if (Files.exists(liveDir(name)))
        deleteRecursively(liveDir(name), keepRoot = false)
      // a version a reader still scans goes at its last unpin
      reclaimHistory(name)
    } else views.remove(name)
    spark.catalog.dropTempView(name)
    // a session dropping its own temp object by alias arrives here with
    // the mangled name — retire the alias with it
    sess.tempObjects.filterInPlace { case (_, (m, _)) => m != name }
    saveManifest()
    emptyResult
  }

  /** Drop every temp object `s` created (reverse creation order: temp
    * views may read earlier temp tables) — disconnect and DISCARD
    * TEMP/ALL, pg semantics. Failures are swallowed: a temp object a
    * concurrent path already removed must not block session teardown.
    */
  private def dropSessionTemps(s: Session): Unit = {
    s.tempObjects.toSeq.reverse.foreach { case (_, (m, kind)) =>
      scala.util.Try(drop(kind, m))
    }
    s.tempObjects.clear()
  }

  // ---- DML ---------------------------------------------------------------

  /** INSERT: align/reorder columns, null-fill missing, cast to the column
    * types (reference `src/executor/insert.rs:13-52`), append parquet.
    */
  /** The INSERT source planned and aligned to the table schema:
    * columns reordered, missing ones null-filled, types cast (reference
    * `src/executor/insert.rs:13-52`). Shared by plain INSERT and the
    * ON CONFLICT upsert path.
    */
  private def alignedSource(table: String, colList: Option[String],
      source: String): DataFrame = {
    require(tables.contains(table), s"no such table: $table")
    // the INSERT/upsert source may read engine views: re-register them
    // so their plans bind the CURRENT table files — a prior statement's
    // registration may point at swapped-away files (DELETE/UPDATE) or
    // at a DML-CTE's statement-start snapshot overlay
    refreshViews()
    val (schema, _) = tables(table)
    val declared = colList.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(schema.fields.map(_.name).toSeq)
    val defs = defaults.getOrElse(table, Map.empty)
    // sequence functions in the source text: VALUES substitutes one
    // computed literal per occurrence (pg evaluates one call per tuple
    // too — the expandDefaultKeyword pass just planted a nextval(...)
    // per tuple for DEFAULT fields of serial columns); a SELECT source
    // may use them only without a top-level FROM (per-row nextval over
    // a relation is refused with a pointer to the DEFAULT path)
    val expanded0 = expandDefaultKeyword(declared, defs, source)
    val expanded = if (usesSequenceFn(expanded0)) {
      val isValues = expanded0.trim.toLowerCase.startsWith("values")
      rewriteSeqFns(expanded0, allowNextval = isValues ||
        SqlText.indexOfTopLevelPhrase(expanded0, Seq("from")) < 0)
    } else expanded0
    // the INSERT source may read an archived version (restore idiom:
    // INSERT INTO t SELECT * FROM t VERSION AS OF k)
    val (source2, ttViews) = rewriteTimeTravel(expanded)
    // repeatable read: the INSERT source reads the transaction's snapshot
    // (the target table itself was just un-pinned by txnTouch, so a
    // self-referencing INSERT sees the pre-statement live state)
    val src = try snapshotPin(spark.sql(inlineFunctions(rewriteQualify(source2))))
    finally ttViews.foreach(v => spark.catalog.dropTempView(v))
    require(declared.length == src.columns.length,
      s"INSERT column count mismatch: ${declared.length} vs ${src.columns.length}")
    val renamed = src.toDF(declared: _*)
    def alignCol(f: StructField, in: DataFrame,
        seqVal: Option[Column]): Column =
      if (declared.contains(f.name)) (f.dataType, in.schema(f.name).dataType) match {
        // VECTOR(n) columns accept the reference's string literal form
        // ('[1, 2.0, 3]', src/binder/insert.rs vector path)
        case (at: ArrayType, StringType) => from_json(col(f.name), at).as(f.name)
        case _ => col(f.name).cast(f.dataType).as(f.name)
      }
      else seqVal match {
        case Some(v) => v.cast(f.dataType).as(f.name)
        case None => defs.get(f.name.toLowerCase) match {
          // omitted column: its DEFAULT expression, NULL without one (pg)
          case Some(d) => expr(inlineFunctions(d)).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }
    // OMITTED serial/identity columns (DEFAULT nextval): values must be
    // DISTINCT PER ROW, which a per-statement expression can't give —
    // reserve one block per sequence and stamp first + idx·increment
    // over a distributed zipWithIndex (two narrow passes, no global
    // window, no driver loop). The reservation only needs the ROW COUNT
    // to match the stamped rows: a DETERMINISTIC source re-evaluates to
    // the same count, so it stamps directly (no materialization — at
    // warehouse scale checkpointing a huge insert batch is the memory
    // hazard); a nondeterministic source (rand() etc.) materializes
    // ONCE via localCheckpoint first. Which ROW gets which id is
    // explicitly unordered, like pg under parallel insert.
    val seqCols: Seq[(String, String)] = schema.fields.toSeq
      .filter(f => !declared.contains(f.name))
      .flatMap(f => defs.get(f.name.toLowerCase).flatMap(nextvalDefaultSeq)
        .map(f.name -> _))
    if (seqCols.isEmpty)
      withGenerated(table, renamed.select(schema.fields.map(f =>
        alignCol(f, renamed, None)).toIndexedSeq: _*))
    else {
      val deterministicSrc = planDeterministic(renamed)
      val mat = if (deterministicSrc) renamed else renamed.checkpointScoped
      val k = mat.count()
      var ord = "__graft_seq_ord"
      while (mat.columns.contains(ord)) ord += "_x"
      val stamped =
        if (k == 0) mat.withColumn(ord, lit(0L))
        else spark.createDataFrame(
          mat.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
          mat.schema.add(ord, LongType, nullable = false))
      val blocks: Map[String, Column] = seqCols.map { case (cn, sq) =>
        if (k == 0) cn -> lit(null)
        else {
          val inc = sequences.synchronized(seqState(sq).increment)
          val first = seqNextBlock(sq, k)
          cn -> (lit(first) + col(ord) * lit(inc))
        }
      }.toMap
      withGenerated(table, stamped.select(schema.fields.map(f =>
        alignCol(f, stamped, blocks.get(f.name))).toIndexedSeq: _*))
    }
  }

  /** `INSERT ... VALUES (1, DEFAULT)`: replace a bare DEFAULT field with
    * the target column's default expression (NULL without one), matching
    * fields to columns positionally. Non-VALUES sources pass through.
    */
  private def expandDefaultKeyword(declared: Seq[String],
      defs: Map[String, String], source: String): String = {
    val s = source.trim
    if (!s.toLowerCase.startsWith("values") ||
        !"""(?i)\bdefault\b""".r.findFirstIn(s).isDefined) return source
    val tuples = SqlText.splitTopLevel(s.substring("values".length))
    "values " + tuples.map { t =>
      val tt = t.trim
      if (!(tt.startsWith("(") && tt.endsWith(")"))) t
      else SqlText.splitTopLevel(tt.substring(1, tt.length - 1)).zipWithIndex
        .map { case (f, i) =>
          if (f.trim.equalsIgnoreCase("default")) {
            val cn = if (i < declared.length) declared(i).toLowerCase else ""
            defs.getOrElse(cn, "NULL")
          } else f
        }.mkString("(", ",", ")")
    }.mkString(", ")
  }

  private def insert(table: String, colList: Option[String], source: String): DataFrame = {
    returningExprs match {
      case Some(_) =>
        // RETURNING needs the inserted rows themselves: materialize the
        // aligned source once (checkpoint), append that, and evaluate the
        // RETURNING list over the checkpointed frame — still one
        // execution of a SELECT source.
        val mat = alignedSource(table, colList, source).checkpointScoped
        appendCommit(table, mat, "insert")
        captureReturning(mat)
        rowCountResult(mat.count())
      case None =>
        // rows_affected rides the write as an observe metric — one execution of
        // the source, not a count() pre-pass (an `INSERT INTO t SELECT <expensive>`
        // would otherwise run <expensive> twice).
        val obs = org.apache.spark.sql.Observation()
        val out = alignedSource(table, colList, source)
          .observe(obs, count(lit(1)).as("n"))
        appendCommit(table, out, "insert")
        rowCountResult(observedCount(obs))
    }
  }

  /** INSERT ... ON CONFLICT (keys) DO NOTHING | DO UPDATE SET ... — pg's
    * upsert idiom (what ORMs emit; MERGE INTO is the standard's spelling
    * of the same semantics). `excluded.col` in SET expressions refers to
    * the proposed row, like pg. pg resolves conflicts through a unique
    * index; this engine accepts any column list and treats it as the
    * match key. DO NOTHING appends only non-conflicting rows (no rewrite
    * of existing data); DO UPDATE commits through the same atomic
    * materialize-then-swap as UPDATE/MERGE.
    */
  private def upsert(table: String, colList: Option[String], source: String,
      keyList: String, setList: Option[String]): DataFrame = {
    val (schema, _) = tables(table)
    val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "ON CONFLICT requires at least one column")
    keys.foreach(k => require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"ON CONFLICT: unknown column $k in $table"))
    // cached: the proposed rows are read by the duplicate check, the
    // match join, and the insert anti-join — one execution of the source,
    // and every consumer sees the same rows even for a nondeterministic
    // SELECT source
    val newRows = alignedSource(table, colList, source).cache()
    // pg parity: one INSERT may not affect the same row twice
    if (newRows.count() != newRows.dropDuplicates(keys).count()) {
      newRows.unpersist()
      throw new IllegalArgumentException(
        "ON CONFLICT command cannot affect row a second time")
    }
    val existing = spark.table(table)
    val ordered = schema.fieldNames.map(col).toIndexedSeq
    // IVM upsert-delta: record the conflicting rows' pre-image (subtract
    // side, empty under DO NOTHING) and the post-image/inserted rows
    // (add side) while any matview is anchored — the last DML shape, so
    // every INSERT/COPY/DELETE/UPDATE/MERGE/upsert now refreshes at
    // O(delta). newRows is cached, so the extra reads are deterministic.
    def recordUpsertDelta(pre: DataFrame, adds: DataFrame): Unit =
      if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
        val newV = history.get(table).map(_.length).getOrElse(1)
        Files.createDirectories(historyDir(table))
        pre.write.mode("overwrite").parquet(deleteDeltaDir(table, newV).toString)
        adds.write.mode("overwrite").parquet(updateAddDir(table, newV).toString)
      }
    setList match {
      case None => // DO NOTHING: append rows whose key has no match
        try {
          val obs = org.apache.spark.sql.Observation()
          val toInsRaw = newRows
            .join(existing.select(keys.map(col): _*).dropDuplicates(keys),
              keys, "left_anti")
            .select(ordered: _*)
          val toIns0 = toInsRaw.observe(obs, count(lit(1)).as("n"))
          // pg returns only the rows actually inserted under DO NOTHING
          val toIns = if (returningExprs.isDefined) {
            val m = toIns0.checkpointScoped
            captureReturning(m)
            m
          } else toIns0
          recordUpsertDelta(existing.limit(0), toInsRaw)
          appendCommit(table, toIns, "upsert")
          rowCountResult(observedCount(obs))
        } finally newRows.unpersist()
      case Some(sets) =>
        val assigns = splitTopLevel(sets).map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim.toLowerCase -> e.trim
        }.toMap
        assigns.keys.foreach(c => require(
          schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"ON CONFLICT SET: unknown column $c in $table"))
        generatedCols.getOrElse(table, Map.empty).keys.foreach(g =>
          require(!assigns.contains(g),
            s"""column "$g" can only be updated to DEFAULT: it is a """ +
              "generated column"))
        // `excluded.col` → the proposed row's column, joined in under a
        // reserved prefix; `<table>.col` → bare col (the joined frame is
        // unqualified). Quote-aware: either form in a string literal
        // stays payload.
        def excluded(e: String) = SqlText.mapOutsideQuotes(e, seg => seg
          .replaceAll("(?i)\\bexcluded\\.", "__excluded_")
          .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(table) + "\\.", ""))
        val exc = newRows.select(schema.fieldNames.map(n =>
          col(n).as(s"__excluded_$n")).toIndexedSeq: _*)
        val matchCond = keys.map(k => col(k) === col(s"__excluded_$k"))
          .reduce(_ && _)
        val matched = col(s"__excluded_${keys.head}").isNotNull
        val assignedSel = schema.fields.map { f =>
          assigns.get(f.name.toLowerCase) match {
            case Some(e) => when(matched,
                expr(inlineFunctions(excluded(e))).cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
            case None => col(f.name).as(f.name)
          }
        }.toIndexedSeq
        // post-image recompute for generated columns in every emitted
        // frame (rewrite, RETURNING, IVM add delta)
        def postSel(df: DataFrame): DataFrame =
          withGenerated(table, df.select(assignedSel: _*))
        val updatedExisting = postSel(existing.join(exc, matchCond, "left_outer"))
        val inserts = newRows
          .join(existing.select(keys.map(col): _*).dropDuplicates(keys),
            keys, "left_anti")
          .select(ordered: _*)
        try {
          if (!planDeterministic(updatedExisting) ||
              !planDeterministic(inserts)) {
            // nondeterministic SET (rand() etc.): the frames below would
            // each draw the assignments independently — RETURNING and the
            // IVM add delta disagreeing with what the rewrite stored.
            // Draw ONCE: materialize the matched rows' post-image (the
            // keys are equality-matched, so WHICH rows conflict is
            // deterministic) and the inserts, and derive every frame —
            // RETURNING, both IVM sides, the rewrite — from those.
            val postMatched = postSel(existing.join(exc, matchCond, "inner"))
              .checkpointScoped
            val insertsCk = inserts.checkpointScoped
            if (returningExprs.isDefined)
              captureReturning(postMatched.unionByName(insertsCk))
            recordUpsertDelta(
              existing.join(exc, matchCond, "left_semi"),
              postMatched.unionByName(insertsCk))
            val unmatched = existing
              .join(newRows.select(keys.map(col): _*).dropDuplicates(keys),
                keys, "left_anti")
              .select(ordered: _*)
            rewriteSwap(table,
              unmatched.unionByName(postMatched).unionByName(insertsCk),
              "upsert") // refreshes the catalog entry itself
            return rowCountResult(newRows.count())
          }
          // pg returns every proposed row under DO UPDATE: updated rows'
          // post-image (the same assignment projection, inner-joined to
          // just the matches) plus the inserted rows — pre-swap snapshot
          if (returningExprs.isDefined)
            captureReturning(postSel(existing.join(exc, matchCond, "inner"))
              .unionByName(inserts).checkpointScoped)
          recordUpsertDelta(
            existing.join(exc, matchCond, "left_semi"),
            postSel(existing.join(exc, matchCond, "inner"))
              .unionByName(inserts))
          // file-granular fast path (r16): only files holding a row whose
          // key CONFLICTS with a proposed row rewrite; the rest hard-link.
          // Inserts anti-joined the FULL target above, so they are exact
          // regardless of which files rewrite. newRows is cached: the
          // probe's extra semi-join reads the same materialized rows.
          val partial = cowPartition(table, () => {
            val withFile = spark.table(table)
              .select((col("_metadata.file_path").as("__cow_file") +:
                schema.fields.map(f => col(f.name)).toSeq): _*)
            fileBasenames(withFile.join(exc, matchCond, "left_semi")
              .select(col("__cow_file")))
          })
          partial match {
            case Some((touched, untouched)) =>
              val insObs = org.apache.spark.sql.Observation()
              val insertsObs = inserts.observe(insObs, count(lit(1)).as("n"))
              val rewrittenTouched =
                if (touched.isEmpty) insertsObs
                else postSel(rawFileScan(table, touched)
                    .join(exc, matchCond, "left_outer"))
                  .unionByName(insertsObs)
              rewriteSwapPartial(table, Some(rewrittenTouched), untouched,
                "upsert")(-observedCount(insObs))
            case None =>
              rewriteSwap(table, updatedExisting.unionByName(inserts),
                "upsert") // refreshes the catalog entry itself
          }
          // pg: every proposed row is either inserted or updated
          rowCountResult(newRows.count())
        } finally newRows.unpersist()
    }
  }

  /** Append `df` (already aligned to the table schema) honoring the
    * table's layout: a bucketed table appends through the catalog entry so
    * the writer applies the bucket+sort spec (a raw parquet append would
    * silently break the layout Spark trusts at read time); a plain table
    * appends parquet files directly.
    */
  /** The constraint guard the `checks` map documents: wrap a frame bound
    * for `table` so the SAME job that writes it errors on a violating
    * row — each CHECK becomes an `assert_true` predicate (pg 3VL: only a
    * FALSE check violates, NULL passes) and NOT NULL rides the schema's
    * nullable flags; passing rows filter through unchanged (assert_true
    * returns NULL when the condition holds, so the filter keeps every
    * surviving row). Zero extra passes, zero effect on the observe
    * metrics stacked above (a guard never drops a row — it throws).
    * Applied at the appendTo/rewriteSwap choke points, so INSERT, COPY
    * FROM, upsert, UPDATE, MERGE, and matview refresh all share it; the
    * constraint set is fixed at CREATE TABLE, so re-verifying carried
    * rows in a rewrite can never fail on data that once passed.
    */
  private def constraintGuard(table: String, df: DataFrame): DataFrame = {
    val (schema, _) = tables.getOrElse(table, return df)
    val chks = checks.getOrElse(table, Vector.empty)
      .filter { case (_, e) => // only checks whose columns are present
        scala.util.Try(df.select(expr(inlineFunctions(e)))).isSuccess }
    val nn = schema.fields.filter(!_.nullable).map(_.name)
      .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    if (chks.isEmpty && nn.isEmpty) return df
    val guards: Seq[Column] = chks.map { case (nm, e) =>
      assert_true(
        coalesce(expr(inlineFunctions(e)).cast("boolean"), lit(true)),
        lit(s"""new row for relation "$table" violates check constraint "$nm""""))
        .isNull
    } ++ nn.map { c =>
      assert_true(col(c).isNotNull,
        lit(s"""null value in column "$c" of relation "$table" violates """ +
          "not-null constraint")).isNull
    }
    df.filter(guards.reduce(_ && _))
  }

  /** Write `df0`'s rows into the empty version directory `dir` in the
    * table's layout (see [[writeTmp]]), checked against its constraints.
    * The row-count ledger rides the write as an observe metric — no
    * second scan; a missing baseline stays missing (no stats). The
    * PK/CLUSTERED BY column stats ride the SAME metric set. Returns the
    * ledger update, for the commit to apply.
    */
  private def writeAppend(table: String, df0: DataFrame,
      dir: java.nio.file.Path): () => Unit = {
    val df = constraintGuard(table, df0)
    val obsN = org.apache.spark.sql.Observation()
    val statCols = autoStatCols(table).filter(df.columns.contains)
    writeTmp(table, df.observe(obsN,
      count(lit(1)).as("n"), colObsMetrics(statCols, df.schema): _*), dir)
    () => {
      rowCounts.get(table).foreach(prev =>
        rowCounts(table) = prev + observedCount(obsN))
      adoptColObs(table, obsN, statCols, rewrite = false)
    }
  }

  /** Append `df` as a new version of `table`: its rows land in a fresh
    * directory, the current version's files are hard-linked beside them,
    * then the pointer flips.
    */
  private def appendCommit(table: String, df: DataFrame, op: String): Unit = {
    txnTouch(table) // before the first data file lands
    val dir = newVersionDir(table)
    val ledger =
      try {
        val l = writeAppend(table, df, dir)
        linkTree(Paths.get(tableDir(table)), dir)
        l
      } catch { case e: Throwable => deleteRecursively(dir, keepRoot = false); throw e }
    commitVersion(table, dir, op)(ledger())
  }

  /** DELETE: anti-filter rewrite — keep rows where cond is not TRUE (3VL).
    *
    * Fully distributed: survivors stream executor-side into a sibling temp
    * dir, then the table dir is swapped under the single-writer model. No
    * driver materialization, so the rewrite cost is a scan+write regardless
    * of table size (the analogue of the reference's delete-vector compaction,
    * `src/executor/delete.rs`).
    */
  private def delete(table: String, cond: Option[String]): DataFrame = {
    // file-granular fast path: rewrite ONLY the files that can contain a
    // matching row, hard-link the rest (see cowTouchedFiles) — a
    // selective DELETE costs O(matched files) I/O, not O(table)
    // unconditional DELETE is truncate-shaped (r16): no scan at all —
    // rows_affected comes from the exact row-count ledger, the IVM
    // pre-image delta hard-links the current data files (they ARE the
    // deleted rows), and the commit swaps in an empty directory. O(#files)
    // metadata work at any table size. RETURNING falls back to the scan
    // path (the pre-image rows must materialize anyway), as does a table
    // without a ledger baseline (rows_affected must be exact).
    // (bucketed tables included: an empty directory satisfies the
    // bucket layout trivially, and subsequent inserts re-bucket)
    if (cond.isEmpty && returningExprs.isEmpty && rowCounts.contains(table)) {
      val n = rowCounts(table)
      if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
        val newV = history.get(table).map(_.length).getOrElse(1)
        val dd = deleteDeltaDir(table, newV)
        if (Files.isDirectory(dd)) deleteRecursively(dd, keepRoot = false)
        Files.createDirectories(dd)
        // recursive + relative (r18): a partitioned table's pre-image
        // keeps its k=v structure so the delta read resolves the
        // partition columns from the linked paths
        val live = Paths.get(tableDir(table))
        liveDataFiles(live).foreach { f =>
          val dst = dd.resolve(live.relativize(f).toString)
          Files.createDirectories(dst.getParent)
          linkOrCopy(dst, f)
        }
      }
      rewriteSwapPartial(table, None, Seq.empty, "delete")(n)
      return rowCountResult(n)
    }
    val matchedCol = cond.map(c =>
      coalesce(expr(inlineFunctions(c)), lit(false)))
    // r18: partition-retention fast path — a deterministic predicate
    // over only partition columns drops whole partition DIRECTORIES:
    // survivors are never read or rewritten (hard links), and the only
    // data-adjacent work is the column-less count of the dropped rows
    // (rows_affected stays exact) plus the IVM pre-image when a matview
    // anchors here. The 100 TB shape: `DELETE WHERE ds < '2025-01-01'`
    // retires N days in O(#files) metadata regardless of row count.
    matchedCol.flatMap(m => partitionPrune(table, m)).foreach {
      case (matchedDirs, untouchedFiles) =>
        val affected0: DataFrame =
          if (matchedDirs.isEmpty) spark.table(table).limit(0).as(table)
          else rawFileScan(table, matchedDirs)
        // ONE pass over the dropped partitions, shared by RETURNING, the
        // IVM pre-image and rows_affected (this used to scan up to three
        // times: checkpoint, delta write, then a fresh count job)
        val checkpointed =
          if (returningExprs.isDefined) Some(affected0.checkpointScoped)
          else None
        checkpointed.foreach(captureReturning)
        val src = checkpointed.getOrElse(affected0)
        var removed = 0L
        if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
          val newV = history.get(table).map(_.length).getOrElse(1)
          val dd = deleteDeltaDir(table, newV)
          Files.createDirectories(dd.getParent)
          val obs = org.apache.spark.sql.Observation()
          src.observe(obs, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(dd.toString)
          removed = observedCount(obs)
        } else if (matchedDirs.nonEmpty)
          // no filter on the raw scan: this is parquet's footer-count
          // fast path (or a count of the checkpointed frame) — no data
          // columns are read either way
          removed = src.count()
        rewriteSwapPartial(table, None, untouchedFiles, "delete")(removed)
        return rowCountResult(removed)
    }
    matchedCol.flatMap(m => cowTouchedFiles(table, m)).foreach {
      case (touched, untouched) =>
        val m = matchedCol.get
        val schema = tables(table)._1
        // aliased like the catalog relation, so table-qualified column
        // references (DELETE FROM t WHERE t.x = 1) resolve in the
        // rewrite exactly as they did in the probe
        def touchedScan: DataFrame =
          if (touched.isEmpty) spark.table(table).limit(0).as(table)
          else rawFileScan(table, touched)
        val totalObs = org.apache.spark.sql.Observation()
        val keptObs = org.apache.spark.sql.Observation()
        val survivors =
          if (touched.isEmpty) None
          else Some(touchedScan
            .observe(totalObs, count(lit(1)).as("n"))
            .filter(!m)
            .observe(keptObs, count(lit(1)).as("n")))
        def affected: DataFrame = touchedScan.filter(m)
        if (returningExprs.isDefined) captureReturning(affected.checkpointScoped)
        if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
          val newV = history.get(table).map(_.length).getOrElse(1)
          val dd = deleteDeltaDir(table, newV)
          Files.createDirectories(dd.getParent)
          affected.write.mode("overwrite").parquet(dd.toString)
        }
        def removed: Long =
          if (touched.isEmpty) 0L
          else observedCount(totalObs) - observedCount(keptObs)
        rewriteSwapPartial(table, survivors, untouched, "delete")(removed)
        return rowCountResult(removed)
    }
    // nondeterministic condition (rand() etc.): the scan path below would
    // draw the predicate independently for the rewrite filter, RETURNING
    // and the IVM delta — three different row sets, where pg evaluates
    // once per row. Stamp the verdict as a column and materialize it, so
    // every frame (survivors, deleted pre-image, the count) reads the
    // SAME draw. O(table) materialization, but this shape rewrites
    // O(table) anyway.
    matchedCol.filterNot(m =>
        planDeterministic(spark.table(table).filter(m))).foreach { m =>
      val cur0 = spark.table(table)
      var flag = "__graft_del_flag"
      while (cur0.columns.contains(flag)) flag += "_x"
      val snap = cur0.withColumn(flag, m).checkpointScoped
      val survivors = snap.filter(!col(flag)).drop(flag)
      val affected = snap.filter(col(flag)).drop(flag)
      if (returningExprs.isDefined) captureReturning(affected)
      if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
        val newV = history.get(table).map(_.length).getOrElse(1)
        val dd = deleteDeltaDir(table, newV)
        Files.createDirectories(dd.getParent)
        affected.write.mode("overwrite").parquet(dd.toString)
      }
      val removed = affected.count()
      rewriteSwap(table, survivors, "delete")
      return rowCountResult(removed)
    }
    val cur = spark.table(table)
    // both counts ride the single rewrite job as observe metrics: total on
    // the scan side, kept on the filtered side (the former triple pass —
    // count, write, re-count — scanned the table three times).
    val totalObs = org.apache.spark.sql.Observation()
    val keptObs = org.apache.spark.sql.Observation()
    val scanned = cur.observe(totalObs, count(lit(1)).as("n"))
    val remaining = (cond match {
      case Some(c) => scanned.filter(!coalesce(expr(inlineFunctions(c)), lit(false)))
      // unconditional DELETE still streams the (empty) filter so the observe
      // metrics fire — filter(false) scans, limit(0) would short-circuit
      case None => scanned.filter(lit(false))
    }).observe(keptObs, count(lit(1)).as("n"))
    // RETURNING renders the deleted rows' PRE-image — materialized before
    // the swap rewrites the table directory out from under the scan
    def affected: DataFrame = cond match {
      case Some(c) => cur.filter(coalesce(expr(inlineFunctions(c)), lit(false)))
      case None => cur
    }
    if (returningExprs.isDefined) captureReturning(affected.checkpointScoped)
    // IVM delete-delta: while any matview is anchored on this table,
    // record the matched pre-image so REFRESH can subtract it at
    // O(delta) instead of recomputing the view. Written BEFORE the swap,
    // while the matched rows' files still exist; O(deleted rows), and
    // skipped entirely when no view could use it.
    if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
      val newV = history.get(table).map(_.length).getOrElse(1)
      val dd = deleteDeltaDir(table, newV)
      Files.createDirectories(dd.getParent)
      affected.write.mode("overwrite").parquet(dd.toString)
    }
    rewriteSwap(table, remaining, "delete")
    rowCountResult(observedCount(totalObs) - observedCount(keptObs))
  }

  /** File-granular copy-on-write planning: which of `table`'s live data
    * files can contain rows matching `matched`? One predicate-pushed scan
    * of the hidden `_metadata.file_path` column answers exactly — the
    * parquet reader prunes non-matching files/row-groups from their
    * footer min/max stats, so the probe itself reads only candidate row
    * groups (the same footer evaluation Delta/Iceberg do, delegated to
    * the scan; the reference's delete-vector intent —
    * `/root/reference/src/storage/secondary/transaction.rs:26-50` — is
    * the same "don't rewrite what didn't change" idea). The collect is
    * bounded by the table's FILE count (a driver already holds the file
    * listing to plan any scan), never by rows.
    *
    * Returns (touched, untouched) live files, or None when the partial
    * path doesn't apply: single-file tables, a nondeterministic
    * predicate (probe and rewrite would draw different row sets), or
    * when ≥80% of files match (linking a handful of survivors costs
    * more than it saves). Bucketed tables partition at BUCKET
    * granularity instead — see [[cowPartition]].
    */
  private def cowTouchedFiles(table: String, matched: Column)
      : Option[(Seq[java.nio.file.Path], Seq[java.nio.file.Path])] = {
    // the probe and the rewrite evaluate `matched` in SEPARATE jobs — a
    // nondeterministic predicate (rand() < x) would draw different row
    // sets in each, so rows "matched" inside files the probe classified
    // untouched would be hard-linked unchanged and silently survive.
    // Fall back to the single-scan rewrite, whose nondeterministic arm
    // (see delete/update) materializes the verdict exactly once.
    if (!planDeterministic(spark.table(table).filter(matched))) return None
    cowPartition(table, () => fileBasenames(spark.table(table)
      .filter(matched).select(col("_metadata.file_path"))))
  }

  /** Walk the WHOLE analyzed plan (and each expression tree): toDF /
    * filter plant alias-only nodes at the root, so a root-only probe
    * would classify a rand()-filtered or TABLESAMPLE source as
    * deterministic. Shared by the sequence-stamping insert path (a
    * nondeterministic source must materialize before its row count is
    * used twice) and the copy-on-write planners (probe and rewrite are
    * separate jobs — two draws). An unanalyzable frame answers false,
    * the conservative direction for every caller.
    */
  private def planDeterministic(df: DataFrame): Boolean =
    scala.util.Try {
      val plan = df.queryExecution.analyzed
      !plan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
        case p => p.expressions.exists(e => e.exists(!_.deterministic))
      }
    }.getOrElse(false)

  /** now()/current_timestamp/current_date are DETERMINISTIC in Catalyst
    * (folded once per execution by ComputeCurrentTime), so a memoized
    * plan would pin the FIRST execution's clock forever — a repeated
    * `WHERE ts > now() - interval '1' hour` would stop advancing. Such
    * plans must never enter the plan cache. Conservative on analysis
    * failure.
    */
  private def planTimeDependent(df: DataFrame): Boolean =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.expressions._
      df.queryExecution.analyzed.exists(_.expressions.exists(_.exists {
        case _: CurrentTimestamp | _: CurrentDate | _: Now |
             _: LocalTimestamp | _: CurrentTime | _: CurrentTimeZone => true
        case _ => false
      }))
    }.getOrElse(true)

  /** Distinct source-file BASENAMES of a one-column frame of
    * `_metadata.file_path` values. The paths arrive URI-encoded
    * (space → %20), so PERCENT-decode before matching against the
    * directory listing — URLDecoder is form-decoding and would turn a
    * literal '+' in a part name into a space, so that file would never
    * match the listing and its rows would silently escape the rewrite.
    * Driver-bounded by the table's file count.
    */
  private def fileBasenames(paths: DataFrame): Set[String] =
    paths.distinct().collect().map { r =>
      val p = r.getString(0)
      percentDecode(p.substring(p.lastIndexOf('/') + 1))
    }.toSet

  /** RFC-3986 percent-decoding only: %XX unescapes, '+' stays '+'.
    * Literal characters append as CHARS (a per-char getBytes would split
    * surrogate pairs — a non-BMP codepoint in a name must round-trip);
    * only contiguous %XX runs collect as bytes and decode as UTF-8.
    */
  private def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream()
    def flush(): Unit = if (bytes.size() > 0) {
      sb.append(new String(bytes.toByteArray, "UTF-8")); bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (ch == '%' && i + 2 < s.length &&
          Character.digit(s(i + 1), 16) >= 0 &&
          Character.digit(s(i + 2), 16) >= 0) {
        bytes.write(Character.digit(s(i + 1), 16) * 16 +
          Character.digit(s(i + 2), 16))
        i += 3
      } else { flush(); sb += ch; i += 1 }
    }
    flush()
    sb.toString
  }

  /** Hard-link `src` at `dst`; on a filesystem without link support fall
    * back to a byte copy — COW degrades to copy-on-write-by-copy instead
    * of failing the statement.
    */
  /** Partition-retention planning (r18): when `matched` is a
    * deterministic predicate over ONLY partition columns, whole
    * partition DIRECTORIES match or don't — no row inside a directory
    * can disagree with its k=v path values. The predicate is evaluated
    * driver-side over the parsed partition values (one local row per
    * partition — metadata scale; the driver already lists every file to
    * plan any scan), through the SAME Catalyst expression the generic
    * path would use, so `<`, BETWEEN, IN, date casts all behave
    * identically. Returns (matched partition dirs, untouched data
    * files), or None when the shape doesn't apply (not partitioned,
    * predicate reads a data column, nondeterministic draw).
    */
  private def partitionPrune(table: String, matched: Column)
      : Option[(Seq[java.nio.file.Path], Seq[java.nio.file.Path])] = {
    val pCols = partitions.getOrElse(table, return None)
    val live = Paths.get(tableDir(table))
    if (!Files.isDirectory(live)) return None
    val probe = scala.util.Try(spark.table(table).filter(matched))
      .getOrElse(return None)
    if (!planDeterministic(probe)) return None
    // every column the filter reads must be a partition column; an
    // unanalyzable or reference-free (WHERE false) shape falls back
    val refs: Set[String] = scala.util.Try {
      probe.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name.toLowerCase).toSet
      }.flatten.toSet
    }.getOrElse(return None)
    val pSet = pCols.map(_.toLowerCase).toSet
    if (refs.isEmpty || !refs.subsetOf(pSet)) return None
    val schema = tables(table)._1
    val pFields = pCols.map(c => schema.fields.find(_.name.equalsIgnoreCase(c)).get)
    // leaf partition dirs sit exactly #pCols levels below the root
    def leaves(dir: java.nio.file.Path, depth: Int): Seq[java.nio.file.Path] =
      if (depth == 0) Seq(dir)
      else {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.contains('=')).toSeq
        } finally s.close()
      }.flatMap(d => leaves(d, depth - 1))
    val leafDirs = leaves(live, pCols.length)
    // one local row per partition: dir path + its decoded k=v values,
    // cast to the declared types and filtered by the user's predicate
    val rows: Seq[org.apache.spark.sql.Row] = leafDirs.map { d =>
      val rel = live.relativize(d)
      val vals = (0 until pCols.length).map { i =>
        val seg = rel.getName(i).toString
        val raw = percentDecode(seg.substring(seg.indexOf('=') + 1))
        if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw
      }
      org.apache.spark.sql.Row.fromSeq(d.toString +: vals)
    }
    val strSchema = StructType(
      StructField("__graft_dir", StringType, nullable = false) +:
        pFields.map(f => StructField(f.name, StringType, nullable = true)))
    import scala.jdk.CollectionConverters._
    val pdf = pFields.foldLeft(
        spark.createDataFrame(rows.asJava, strSchema))(
        (df, f) => df.withColumn(f.name, col(f.name).cast(f.dataType)))
      .as(table)
    val matchedDirs = scala.util.Try(
      pdf.filter(matched).select("__graft_dir").collect()
        .map(r => Paths.get(r.getString(0))).toSeq).getOrElse(return None)
    val matchedSet = matchedDirs.toSet
    val untouched = liveDataFiles(live)
      .filterNot(f => matchedSet.exists(d => f.startsWith(d)))
    Some((matchedDirs, untouched))
  }

  /** All live data files under `root`, recursively — flat for plain
    * tables, nested under k=v dirs for partitioned ones. O(#files)
    * metadata (the same listing any scan plan performs).
    */
  private def liveDataFiles(root: java.nio.file.Path)
      : Seq[java.nio.file.Path] = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    } finally s.close()
  }

  /** Raw read of specific live data files with the table's schema — the
    * COW survivor/pre-image scan. Partitioned tables read with basePath
    * so the k=v path segments resolve the partition columns (a bare
    * leaf-file read would leave them NULL). Aliased like the catalog
    * relation so table-qualified predicates resolve as in the probe.
    */
  private def rawFileScan(table: String,
      files: Seq[java.nio.file.Path]): DataFrame = {
    val schema = tables(table)._1
    val r = spark.read.schema(schema)
    val withBase =
      if (partitions.contains(table))
        r.option("basePath", Paths.get(tableDir(table)).toAbsolutePath.toString)
      else r
    // missing-fill columns patch here too: a COW survivor rewritten
    // from a pre-ALTER file must materialize the fill, not NULL
    withMissingFill(table, withBase.parquet(files.map(_.toString): _*))
      .as(table)
  }

  private def linkOrCopy(dst: java.nio.file.Path,
      src: java.nio.file.Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException =>
        Files.copy(src, dst)
    }

  /** The shared planning core: list the live data files and split them
    * against `probe`'s touched-file-name set (evaluated lazily, only
    * once the table qualifies). Same fallbacks as documented above.
    *
    * File granularity holds on a CLUSTERED BY table too (r17): the
    * reader's invariant is "every row of a file named _0000b hashes to
    * bucket b", and the partial rewrite preserves it WITHOUT promoting
    * whole buckets — touched files' surviving/updated rows re-enter
    * through the bucketed scratch writer ([[rewriteSwapPartial]]), which
    * re-hashes each row into a correctly-named new file (even an UPDATE
    * that moves a row ACROSS buckets lands it right), while hard-linked
    * untouched files keep their names and contents. Whole-bucket
    * granularity would make a one-key DELETE cost O(table/buckets) —
    * linear in table size at fixed bucket count; file granularity keeps
    * it O(matched files), flat (CowBench bucketed rows).
    */
  private def cowPartition(table: String, probe: () => Set[String])
      : Option[(Seq[java.nio.file.Path], Seq[java.nio.file.Path])] = {
    val live = Paths.get(tableDir(table))
    if (!Files.isDirectory(live)) return None
    // recursive: a partitioned table's data files live under k=v dirs
    val all: Seq[java.nio.file.Path] = liveDataFiles(live)
    if (all.size < 2) return None
    val touchedNames = scala.util.Try(probe()).getOrElse(return None)
    val (touched, untouched) =
      all.partition(p => touchedNames.contains(p.getFileName.toString))
    if (touched.size * 5 >= all.size * 4) None
    else Some((touched, untouched))
  }

  /** Materialize `df` into a new version directory honoring the table's
    * layout: plain parquet, partitioned `k=v` directories, or — for a
    * CLUSTERED BY table — through a scratch external catalog table
    * carrying the same bucketBy/sortBy spec (bucket ids live in part-file
    * names, so only the bucketed writer produces a directory that stays
    * valid under the catalog entry; the scratch name dodges user tables
    * and drops immediately, external → the files survive). ONE copy
    * shared by every commit that writes rows, so the dance can never
    * diverge.
    */
  private def writeTmp(table: String, df: DataFrame,
      tmp: java.nio.file.Path): Unit = (buckets.get(table),
      partitions.get(table)) match {
    case (Some((c, n)), pOpt) =>
      var scratch = s"graft_rewrite_${table}"
      while (tables.contains(scratch)) scratch += "_x"
      spark.sql(s"DROP TABLE IF EXISTS `$scratch`")
      if (Files.exists(tmp)) deleteRecursively(tmp, keepRoot = false)
      val w0 = df.write.mode("overwrite")
      // partitioned + bucketed: each k=v directory holds its own bucket
      // files — partitionBy rides the same scratch-table write
      val w = pOpt.map(ps => w0.partitionBy(ps: _*)).getOrElse(w0)
      w.bucketBy(n, c).sortBy(c)
        .option("path", tmp.toAbsolutePath.toString)
        .saveAsTable(scratch)
      spark.sql(s"DROP TABLE IF EXISTS `$scratch`")
    case (None, Some(ps)) =>
      df.write.mode("overwrite").partitionBy(ps: _*).parquet(tmp.toString)
    case (None, None) =>
      df.write.mode("overwrite").parquet(tmp.toString)
  }

  /** Commit a FILE-GRANULAR rewrite: materialize the rewritten survivors
    * of the touched files into a new version directory (None when no file
    * matched), HARD-LINK every untouched file beside them — same inode,
    * zero I/O — then flip the pointer like [[rewriteSwap]]. A selective
    * DELETE/UPDATE costs O(matched files), not O(table): at 100 TB a
    * one-row DELETE rewrites one file and links the rest, while the
    * previous version still holds the complete pre-state (time travel,
    * RESTORE and VACUUM are unchanged).
    *
    * The row-count ledger is DECREMENTED by `ledgerDelta` (evaluated
    * after the write job, when the observe metrics exist) instead of
    * replaced; column min/max/NDV stats are left as-is — a delete keeps
    * them conservative supersets, an update may stale them slightly until
    * the next full rewrite or ANALYZE adopts fresh ones (estimates only,
    * never correctness).
    */
  private def rewriteSwapPartial(table: String, survivors: Option[DataFrame],
      untouched: Seq[java.nio.file.Path], op: String)(ledgerDelta: => Long): Unit = {
    txnTouch(table) // before any mutation, same ordering as rewriteSwap
    val live = Paths.get(tableDir(table))
    val dir = newVersionDir(table)
    try {
      survivors.foreach(df => writeTmp(table, constraintGuard(table, df), dir))
      // untouched files carry fresh UUID part names from their own write
      // jobs — they can never collide with the survivors' new part names.
      // Linked at their path RELATIVE to the version root (r18), so a
      // partitioned table's untouched files stay in their k=v directories
      // (flat tables: relative path == file name)
      untouched.foreach { f =>
        val dst = dir.resolve(live.relativize(f).toString)
        Files.createDirectories(dst.getParent)
        linkOrCopy(dst, f)
      }
    } catch { case e: Throwable => deleteRecursively(dir, keepRoot = false); throw e }
    commitVersion(table, dir, op) {
      rowCounts.get(table).foreach(prev => rowCounts(table) = prev - ledgerDelta)
    }
  }

  /** Materialize `rewritten` into a new version directory and make it
    * current — the commit shared by DELETE, UPDATE, MERGE, OPTIMIZE and
    * RESTORE. The write materializes fully BEFORE anything a reader can
    * see moves (a failed rewrite leaves the table untouched and its
    * directory removed); the commit itself is a pointer flip, and the
    * previous version's directory stays as it was.
    */
  private def rewriteSwap(table: String, rewrittenRaw: DataFrame,
      op: String): Unit = {
    val rewritten0 = constraintGuard(table, rewrittenRaw)
    txnTouch(table) // before the table moves
    // a rewrite materializes the COMPLETE post-state: counting it as it
    // writes keeps the row-count ledger exact for delete/update/merge/
    // optimize/restore/refresh without any extra scan
    val obsN = org.apache.spark.sql.Observation()
    val statCols = autoStatCols(table).filter(rewritten0.columns.contains)
    val rewritten = rewritten0.observe(obsN,
      count(lit(1)).as("n"),
      colObsMetrics(statCols, rewritten0.schema, withHist = true): _*)
    val dir = newVersionDir(table)
    try writeTmp(table, rewritten, dir)
    catch { case e: Throwable => deleteRecursively(dir, keepRoot = false); throw e }
    commitVersion(table, dir, op) {
      // a rewrite observed the COMPLETE post-state: the ledger entry is
      // replaced outright (and persisted by the commit's manifest save)
      adoptColObs(table, obsN, statCols, rewrite = true)
      rowCounts(table) = observedCount(obsN)
    }
  }

  private def parquetFileCount(table: String): Long =
    liveDataFiles(Paths.get(tableDir(table))).length.toLong

  /** OPTIMIZE <table> [ZORDER BY (a, b)] [INTO n FILES] (extension): the
    * on-demand analogue of the reference's background LSM compaction
    * (`/root/reference/src/storage/secondary/compactor.rs`). Rewrites the
    * table directory into the target file count — INSERT appends one file
    * per statement-partition, so a hot table accumulates small files that
    * tax scan planning — and, with ZORDER BY, range-clusters on the
    * Morton code first so parquet min/max stats prune BOTH filter
    * dimensions after the rewrite. Returns one summary row.
    *
    * On a CLUSTERED BY table the bucket layout is the invariant that
    * wins: the rewrite re-buckets (correctness), so INTO n FILES is
    * governed by the bucket count and ZORDER clustering applies only
    * within what the bucket hash leaves adjacent.
    */
  private def optimizeTable(table: String, zA: Option[String],
      zB: Option[String], nFiles: Option[Int]): DataFrame = {
    val schema = tables(table)._1
    (zA.toSeq ++ zB.toSeq).foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"OPTIMIZE: unknown column $c in $table")
    }
    val filesBefore = parquetFileCount(table)
    val target = nFiles.getOrElse(spark.sparkContext.defaultParallelism)
    require(target > 0, "OPTIMIZE: file count must be positive")
    val obs = org.apache.spark.sql.Observation()
    val observed = spark.table(table).observe(obs, count(lit(1)).as("n"))
    val rewritten = (zA, zB) match {
      case (Some(a), Some(b)) =>
        graft.operators.Layout.clusterByZ(observed, a, b, target).drop("z_code")
      case (Some(a), None) =>
        // one clustering column: the Morton code degenerates to the value
        // itself, i.e. a range-clustered sort (CLUSTER BY analogue) — each
        // file covers a compact value range for single-dim min/max pruning
        observed.repartitionByRange(target, col(a)).sortWithinPartitions(a)
      case _ => observed.repartition(target)
    }
    rewriteSwap(table, rewritten, "optimize")
    import spark.implicits._
    Seq((filesBefore, parquetFileCount(table), observedCount(obs)))
      .toDF("files_before", "files_after", "n_rows")
  }

  /** UPDATE (extension — the reference completes only INSERT/DELETE of
    * the DML triangle): in-place column rewrite over the whole table with
    * the same distributed temp-dir-and-swap as DELETE. Assigned columns
    * become `when(cond, expr).otherwise(current)` casts to the declared
    * type — 3VL: a NULL condition leaves the row unchanged, like the
    * DELETE anti-filter keeps it. rows_affected (condition TRUE count)
    * rides the single rewrite job as an observe metric.
    */
  private def update(table: String, setList: String, cond: Option[String])
      : DataFrame = {
    val (schema, _) = tables(table)
    val c = cond.map(s => coalesce(expr(inlineFunctions(s)), lit(false)))
      .getOrElse(lit(true))
    val assignSeq = splitTopLevel(setList).map { a =>
      val kv = a.split("=", 2)
      require(kv.length == 2, s"UPDATE: malformed assignment '$a'")
      kv(0).trim.toLowerCase -> kv(1).trim
    }
    // standard SQL rejects multiple assignments to one column; a silent
    // last-wins Map would hide the bug
    val dups = assignSeq.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"UPDATE: multiple assignments to column ${dups.mkString(", ")}")
    val assigns0 = assignSeq.toMap
    assigns0.keys.foreach { k =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
        s"UPDATE: unknown column $k in $table")
    }
    // a generated column can only be SET to DEFAULT (pg) — and DEFAULT
    // is just "recompute", which withGenerated does regardless, so the
    // assignment drops out of the projection
    val gens = generatedCols.getOrElse(table, Map.empty)
    assigns0.foreach { case (k, e0) =>
      if (gens.contains(k)) require(e0.equalsIgnoreCase("default"),
        s"""column "$k" can only be updated to DEFAULT: it is a """ +
          "generated column")
    }
    // resolve each assignment's final expression text up front (shared
    // by the guarded rewrite projection AND the unconditional matched-
    // rows projection of the nondeterministic path below)
    val resolvedAssigns: Map[String, String] =
      assigns0.filterNot { case (k, _) => gens.contains(k) }
        .map { case (k, e0) =>
          // SET col = DEFAULT (pg): the column default, NULL without one
          val e = if (e0.equalsIgnoreCase("default"))
            defaults.getOrElse(table, Map.empty).getOrElse(k, "NULL")
          else e0
          // a sequence default in UPDATE would need per-updated-row
          // values (pg steps the sequence per row) — refuse clearly
          // instead of leaking Spark's "undefined function nextval"
          require(!usesSequenceFn(e), "UPDATE through a sequence " +
            s"(column $k) is not supported: per-row nextval does " +
            "not assign distributively; write explicit values instead")
          k -> e
        }
    val projected = schema.fields.map { f =>
      resolvedAssigns.get(f.name.toLowerCase) match {
        case Some(e) =>
          when(c, expr(inlineFunctions(e)).cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    // generated columns recompute from the POST-image in every frame
    // this statement emits: the rewrite, the RETURNING rows, and the
    // IVM add-side delta all chain the same projection
    def post(df: DataFrame): DataFrame =
      withGenerated(table, df.select(projected.toIndexedSeq: _*))
    // nondeterministic WHERE or SET (rand() etc.): the paths below
    // evaluate the condition and the assignments once per emitted frame
    // (rewrite, RETURNING, IVM pre/post) — independent draws, where pg
    // evaluates once per row. Stamp the condition's verdict, materialize
    // it, apply the assignments UNCONDITIONALLY to just the matched rows
    // and materialize that too: one draw each, shared by every frame.
    if (!planDeterministic(post(spark.table(table).filter(c)))) {
      var flag = "__graft_upd_flag"
      while (schema.fieldNames.exists(_.equalsIgnoreCase(flag))) flag += "_x"
      val snap = spark.table(table).withColumn(flag, c).checkpointScoped
      val keep = snap.filter(!col(flag)).drop(flag)
      val pre = snap.filter(col(flag)).drop(flag)
      val postMatched = withGenerated(table, pre.select(schema.fields.map { f =>
        resolvedAssigns.get(f.name.toLowerCase) match {
          case Some(e) => expr(inlineFunctions(e)).cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)).checkpointScoped
      if (returningExprs.isDefined) captureReturning(postMatched)
      if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
        val newV = history.get(table).map(_.length).getOrElse(1)
        Files.createDirectories(historyDir(table))
        pre.write.mode("overwrite")
          .parquet(deleteDeltaDir(table, newV).toString)
        postMatched.write.mode("overwrite")
          .parquet(updateAddDir(table, newV).toString)
      }
      val n = postMatched.count()
      rewriteSwap(table, keep.unionByName(postMatched), "update")
      return rowCountResult(n)
    }
    // file-granular fast path (condition present): rewrite only files
    // that can contain a matching row, hard-link the rest — on untouched
    // rows the when(c, ..) guards are identities, so skipping those
    // files is exact. rows_affected observes the touched-file scan.
    if (cond.isDefined) cowTouchedFiles(table, c).foreach {
      case (touched, untouched) =>
        // aliased so table-qualified references in SET/WHERE resolve
        def touchedScan: DataFrame =
          if (touched.isEmpty) spark.table(table).limit(0).as(table)
          else rawFileScan(table, touched)
        val affPart = org.apache.spark.sql.Observation()
        val rewrittenTouched =
          if (touched.isEmpty) None
          else Some(post(touchedScan
            .observe(affPart, count(when(c, lit(1))).as("n"))))
        if (returningExprs.isDefined)
          captureReturning(post(touchedScan.filter(c)).checkpointScoped)
        if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
          val newV = history.get(table).map(_.length).getOrElse(1)
          Files.createDirectories(historyDir(table))
          touchedScan.filter(c)
            .write.mode("overwrite").parquet(deleteDeltaDir(table, newV).toString)
          post(touchedScan.filter(c))
            .write.mode("overwrite").parquet(updateAddDir(table, newV).toString)
        }
        rewriteSwapPartial(table, rewrittenTouched, untouched, "update")(0L)
        return rowCountResult(
          if (touched.isEmpty) 0L else observedCount(affPart))
    }
    val affObs = org.apache.spark.sql.Observation()
    val rewritten = post(spark.table(table)
      .observe(affObs, count(when(c, lit(1))).as("n")))
    // RETURNING renders the POST-image of the updated rows: the same
    // assignment projection over just the matching rows (where `c` holds,
    // the per-column `when(c, ...)` guards reduce to the assignments),
    // materialized before the swap replaces the files being read
    if (returningExprs.isDefined)
      captureReturning(post(spark.table(table).filter(c)).checkpointScoped)
    // IVM update-delta: while any matview is anchored on this table,
    // record the matched rows' PRE-image (the subtract side) and
    // POST-image (the add side — over matched rows the when(c,..) guards
    // reduce to the assignments), so REFRESH treats the update as
    // delete+insert at O(delta). Written before the swap; skipped
    // entirely when no view could use it.
    if (matviewBase.values.exists(_._1.exists(_._1 == table))) {
      val newV = history.get(table).map(_.length).getOrElse(1)
      Files.createDirectories(historyDir(table))
      spark.table(table).filter(c)
        .write.mode("overwrite").parquet(deleteDeltaDir(table, newV).toString)
      post(spark.table(table).filter(c))
        .write.mode("overwrite").parquet(updateAddDir(table, newV).toString)
    }
    rewriteSwap(table, rewritten, "update")
    rowCountResult(observedCount(affObs))
  }

  /** MERGE INTO target USING source ON cond — pg-15-shaped upsert
    * completing the DML square (extension; the reference binder stops at
    * INSERT/DELETE). One `WHEN MATCHED THEN UPDATE SET ...` or `... THEN
    * DELETE`, and/or one `WHEN NOT MATCHED THEN INSERT [(cols)] VALUES
    * (...)`. Fully distributed: one outer-join pass rewrites the target
    * (all three action counts ride the write as observe metrics), plus
    * one preceding check pass that errors — like pg — when a target row
    * matches more than one source row (the row id used for that grouping
    * lives and dies inside the single check job, so no cross-job id
    * stability is assumed). The rewrite commits through the same
    * single-writer directory swap as DELETE/UPDATE, bucket-layout-aware.
    */
  private def merge(tgt: String, src: String, rest: String): DataFrame = {
    require(tgt != src, s"MERGE: source and target must differ (wrap $src in a view)")
    require(tables.contains(src) || views.contains(src),
      s"MERGE: no such table or view: $src")
    val (schema, _) = tables(tgt)
    val bounds = whenBoundaries(rest)
    require(bounds.nonEmpty, "MERGE: at least one WHEN clause is required")
    val cond = rest.substring(0, bounds.head).trim
    require(cond.nonEmpty, "MERGE: missing ON condition")
    val clauses = bounds.zip(bounds.drop(1) :+ rest.length)
      .map { case (a, b) => rest.substring(a, b).trim }
    var updateSet: Option[String] = None
    var matchedDelete = false
    var insertClause: Option[(Option[String], String)] = None
    clauses.foreach {
      case reWhenMatchedUpdate(setList) => updateSet = Some(setList.trim)
      case reWhenMatchedDelete() => matchedDelete = true
      case reWhenNotMatchedInsert(colsOpt, vals) =>
        insertClause = Some((Option(colsOpt), vals))
      case other =>
        throw new IllegalArgumentException(
          s"MERGE: unsupported WHEN clause: $other")
    }
    require(!(updateSet.isDefined && matchedDelete),
      "MERGE: WHEN MATCHED THEN UPDATE and THEN DELETE are mutually exclusive")
    refreshViews()
    val onExpr = expr(inlineFunctions(cond))
    val target = spark.table(tgt).as(tgt)
    // repeatable read: the MERGE source reads the txn's snapshot (the
    // TARGET's drift is the serialization check in rewriteSwap→txnTouch)
    val srcPinned0 = snapshotPin(spark.table(src))
    // a nondeterministic SOURCE (a view over rand() etc.) would be drawn
    // independently by the cardinality check, the rewrite, the IVM
    // frames and the insert anti-join — materialize it ONCE instead
    val srcPinned =
      if (planDeterministic(srcPinned0)) srcPinned0
      else srcPinned0.checkpointScoped
    val source = srcPinned.withColumn("__s_marker", lit(1)).as(src)
    val insertOnly = updateSet.isEmpty && !matchedDelete
    // with the source pinned, remaining nondeterminism can only live in
    // the ON condition itself — and the join re-evaluates once per
    // emitted frame (cardinality check, rewrite, IVM pre/post, insert
    // anti-join), so different draws would rewrite one row set and
    // subtract another. Spark's analyzer already refuses nondeterministic
    // join conditions (INVALID_NON_DETERMINISTIC_EXPRESSIONS — the join
    // CONSTRUCTION throws, so no frame can ever draw twice); probe it
    // here to surface the refusal as one clear MERGE-shaped message.
    // ONLY that error converts — a typo'd column or a type error must
    // keep its real analyzer message, not masquerade as nondeterminism.
    try target.join(source, onExpr, "left_semi")
    catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("INVALID_NON_DETERMINISTIC") =>
        throw new IllegalArgumentException(
          "MERGE: a nondeterministic ON condition is not supported — the " +
            "join is re-evaluated per emitted frame; make the condition " +
            "deterministic (a rand()-style filter belongs in the source " +
            "query, which is materialized once)")
    }

    // cardinality check (pg parity: "MERGE command cannot affect row a
    // second time"): more than one source match per target row is an
    // error. Only a matched ACTION can affect a row twice, so the
    // insert-only form skips the pass.
    if (!insertOnly) {
      val offending = spark.table(tgt)
        .withColumn("__t_id", monotonically_increasing_id()).as(tgt)
        .join(source, onExpr, "inner")
        .groupBy(col("__t_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(offending == 0,
        "MERGE: a target row matched more than one source row")
    }

    val matchedCol = col("__s_marker").isNotNull
    val assigns = updateSet.map { setList =>
      val assignSeq = splitTopLevel(setList).map { a =>
        val kv = a.split("=", 2)
        require(kv.length == 2, s"MERGE: malformed assignment '$a'")
        kv(0).trim.toLowerCase -> kv(1).trim
      }
      val dups = assignSeq.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
      require(dups.isEmpty,
        s"MERGE: multiple assignments to column ${dups.mkString(", ")}")
      assignSeq.foreach { case (k, _) =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"MERGE: unknown column $k in $tgt")
        require(!generatedCols.getOrElse(tgt, Map.empty).contains(k),
          s"""column "$k" can only be updated to DEFAULT: it is a """ +
            "generated column")
      }
      assignSeq.toMap
    }.getOrElse(Map.empty)

    val matchObs = org.apache.spark.sql.Observation()
    val joined = target.join(source, onExpr, "left_outer")
      .observe(matchObs, count(when(matchedCol, 1)).as("n"))
    val survivors =
      if (matchedDelete) joined.filter(!matchedCol)
        .select(schema.fields.map(f => col(s"$tgt.${f.name}").as(f.name)).toIndexedSeq: _*)
      else withGenerated(tgt, joined.select(schema.fields.map { f =>
        val base = col(s"$tgt.${f.name}")
        assigns.get(f.name.toLowerCase) match {
          case Some(e) =>
            when(matchedCol, expr(inlineFunctions(e)).cast(f.dataType))
              .otherwise(base).as(f.name)
          case None => base.as(f.name)
        }
      }.toIndexedSeq: _*))

    val insObs = org.apache.spark.sql.Observation()
    val insertedRaw0 = insertClause.map { case (colsOpt, valuesStr) =>
      val declared = colsOpt.map(_.split(",").map(_.trim).toSeq)
        .getOrElse(schema.fields.map(_.name).toSeq)
      val valueExprs = splitTopLevel(valuesStr).map(_.trim)
      require(declared.length == valueExprs.length,
        s"MERGE: INSERT column count mismatch: ${declared.length} vs ${valueExprs.length}")
      val byCol = declared.map(_.toLowerCase).zip(valueExprs).toMap
      byCol.foreach { case (cn, e) =>
        // same contract as UPDATE: per-row sequence stepping inside a
        // MERGE arm is not distributively assignable — refuse clearly
        require(!usesSequenceFn(e), "MERGE INSERT through a sequence " +
          s"(column $cn) is not supported: insert through the plain " +
          "INSERT path, whose DEFAULT stamp assigns distributively")
      }
      declared.foreach(cn =>
        require(!generatedCols.getOrElse(tgt, Map.empty)
            .contains(cn.toLowerCase),
          s"""cannot insert a non-DEFAULT value into column "$cn": it is """ +
            "a generated column"))
      withGenerated(tgt, srcPinned.as(src)
        .join(target, onExpr, "left_anti")
        .select(schema.fields.map { f =>
          byCol.get(f.name.toLowerCase) match {
            case Some(e) => expr(inlineFunctions(e)).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }.toIndexedSeq: _*))
    }
    // INSERT VALUES with rand() etc.: drawn ONCE, shared by the IVM add
    // side and the rewrite/append (two frames read these rows)
    val insertedRaw = insertedRaw0.map(df =>
      if (planDeterministic(df)) df else df.checkpointScoped)
    val inserted = insertedRaw.map(_.observe(insObs, count(lit(1)).as("n")))
    // nondeterministic SET: the survivors rewrite and the IVM post-image
    // would draw the assignments independently — materialize the matched
    // rows' post-image once and rebuild survivors as unmatched ∪ that
    // one draw (WHICH rows matched is deterministic: ON is refused above
    // unless deterministic)
    val postMatchedCk: Option[DataFrame] =
      if (assigns.isEmpty || planDeterministic(survivors)) None
      else Some(withGenerated(tgt, target.join(source, onExpr, "inner")
        .select(schema.fields.map { f =>
          assigns.get(f.name.toLowerCase) match {
            case Some(e) => expr(inlineFunctions(e)).cast(f.dataType).as(f.name)
            case None => col(s"$tgt.${f.name}").as(f.name)
          }
        }.toIndexedSeq: _*)).checkpointScoped)
    val survivorsFinal = postMatchedCk match {
      case Some(pm) => target.join(source, onExpr, "left_anti")
        .select(schema.fields.map(f =>
          col(s"$tgt.${f.name}").as(f.name)).toIndexedSeq: _*)
        .unionByName(pm)
      case None => survivors
    }

    // IVM merge-delta: while any matview is anchored on the target,
    // record the matched rows' pre-image (subtract side) and the
    // update-post-image + inserted rows (add side), so REFRESH treats
    // the merge as delete+insert at O(delta). The cardinality check
    // above guarantees each pre-image row was affected exactly once.
    if (matviewBase.values.exists(_._1.exists(_._1 == tgt))) {
      val newV = history.get(tgt).map(_.length).getOrElse(1)
      Files.createDirectories(historyDir(tgt))
      val pre =
        if (insertOnly) spark.table(tgt).limit(0)
        else spark.table(tgt).as(tgt).join(source, onExpr, "left_semi")
      pre.write.mode("overwrite").parquet(deleteDeltaDir(tgt, newV).toString)
      val postUpdate =
        if (updateSet.isEmpty) None
        // nondeterministic SET: reuse the ONE materialized draw the
        // rewrite commits, never a fresh evaluation
        else postMatchedCk.orElse(
          Some(withGenerated(tgt, target.join(source, onExpr, "inner")
            .select(schema.fields.map { f =>
              val base = col(s"$tgt.${f.name}")
              assigns.get(f.name.toLowerCase) match {
                case Some(e) => expr(inlineFunctions(e)).cast(f.dataType).as(f.name)
                case None => base.as(f.name)
              }
            }.toIndexedSeq: _*))))
      val adds = (postUpdate.toSeq ++ insertedRaw.toSeq)
        .reduceOption(_ unionByName _)
        .getOrElse(spark.table(tgt).limit(0))
      adds.write.mode("overwrite").parquet(updateAddDir(tgt, newV).toString)
    }

    if (insertOnly) {
      // no matched action → existing rows are untouched; the new rows
      // APPEND (bucket-layout-aware) instead of rewriting the table
      appendCommit(tgt, inserted.get, "merge")
      rowCountResult(observedCount(insObs))
    } else {
      // file-granular fast path (r16): only target files holding a row
      // that MATCHES some source row need rewriting — one semi-join
      // probe over _metadata.file_path finds them; unmatched rows in
      // other files are linked unchanged. Inserts still anti-join the
      // FULL target (a match in an untouched file must suppress the
      // insert) and land as new files beside the rewritten ones.
      // Probe and rewrite are separate jobs, so a nondeterministic SET
      // expression takes the single-draw full rewrite instead (ON is
      // refused unless deterministic; nondeterministic inserts/sources
      // are checkpointed above, so their plans read back deterministic).
      val partial = if (postMatchedCk.isDefined) None
      else cowPartition(tgt, () => {
        val withFile = spark.table(tgt)
          .select((col("_metadata.file_path").as("__cow_file") +:
            schema.fields.map(f => col(f.name)).toSeq): _*).as(tgt)
        fileBasenames(withFile.join(source, onExpr, "left_semi")
          .select(col("__cow_file")))
      })
      partial match {
        case Some((touched, untouched)) =>
          val matchPartObs = org.apache.spark.sql.Observation()
          val touchedSurvivors =
            if (touched.isEmpty) None
            else {
              val touchedScan = rawFileScan(tgt, touched)
              val joinedT = touchedScan.join(source, onExpr, "left_outer")
                .observe(matchPartObs, count(when(matchedCol, 1)).as("n"))
              Some(
                if (matchedDelete) joinedT.filter(!matchedCol)
                  .select(schema.fields.map(f =>
                    col(s"$tgt.${f.name}").as(f.name)).toIndexedSeq: _*)
                else withGenerated(tgt, joinedT.select(schema.fields.map { f =>
                  val base = col(s"$tgt.${f.name}")
                  assigns.get(f.name.toLowerCase) match {
                    case Some(e) =>
                      when(matchedCol, expr(inlineFunctions(e)).cast(f.dataType))
                        .otherwise(base).as(f.name)
                    case None => base.as(f.name)
                  }
                }.toIndexedSeq: _*)))
            }
          val rewritten = (touchedSurvivors.toSeq ++ inserted.toSeq)
            .reduceOption(_ unionByName _)
          def nMatched: Long =
            if (touched.isEmpty) 0L else observedCount(matchPartObs)
          def nInserted: Long =
            if (inserted.isEmpty || rewritten.isEmpty) 0L
            else observedCount(insObs)
          rewriteSwapPartial(tgt, rewritten, untouched, "merge")(
            (if (matchedDelete) nMatched else 0L) - nInserted)
          rowCountResult(nMatched + nInserted)
        case None =>
          val rewritten = inserted match {
            case Some(ins) => survivorsFinal.unionByName(ins)
            case None => survivorsFinal
          }
          rewriteSwap(tgt, rewritten, "merge")
          // single-draw arm: survivorsFinal bypasses the observe on
          // `joined`, so count the checkpointed post-image directly
          val nMatched = postMatchedCk.map(_.count())
            .getOrElse(observedCount(matchObs))
          val nInserted = if (inserted.isEmpty) 0L else observedCount(insObs)
          rowCountResult(nMatched + nInserted)
      }
    }
  }

  // the pure text scanners (QUALIFY rewrite, top-level split, quote-aware
  // mapping, paren matching) live in SqlText — no Spark dependency, so
  // they are property-tested in a bare JVM (SqlTextPropertySpec)
  private def rewriteQualify(sql: String): String = SqlText.rewriteQualify(sql)
  private def splitTopLevel(s: String): Seq[String] = SqlText.splitTopLevel(s)
  private def matchingParen(s: String, open: Int): Int = SqlText.matchingParen(s, open)
  private def mapOutsideQuotes(sql: String, f: String => String): String =
    SqlText.mapOutsideQuotes(sql, f)

  /** Split `<set list> [WHERE <cond>]` at the first top-level WHERE —
    * outside quotes and parens, bounded by whitespace — so a 'where'
    * inside a string literal or subexpression stays in the SET list.
    */
  private def splitSetWhere(s: String): (String, Option[String]) = {
    var depth = 0; var q: Char = 0; var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (q != 0) {
        // double-quoted too: Spark reads "..." as a string literal, so a
        // ' where ' inside it must not split the SET list
        if (ch == q) {
          if (i + 1 < s.length && s(i + 1) == q) i += 1 else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && i + 5 <= s.length &&
            s.substring(i, i + 5).equalsIgnoreCase("where") &&
            i > 0 && s(i - 1).isWhitespace &&
            (i + 5 == s.length || s(i + 5).isWhitespace) =>
          return (s.substring(0, i).trim, Some(s.substring(i + 5).trim))
        case _ =>
      }
      i += 1
    }
    (s.trim, None)
  }

  /** Start offsets of top-level MERGE `WHEN` clauses in `s` (the text
    * after `ON`): a boundary is the word `when` outside string
    * literals (single- or double-quoted), parens, and CASE...END
    * bodies, immediately followed by `matched` or `not` — so `CASE
    * WHEN` inside an assignment or a `' when '` string payload never
    * splits a clause.
    */
  private[graft] def whenBoundaries(s: String): Seq[Int] = {
    def word(j: Int, w: String): Boolean =
      j + w.length <= s.length &&
        s.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !(s(j - 1).isLetterOrDigit || s(j - 1) == '_')) &&
        (j + w.length == s.length ||
          !(s(j + w.length).isLetterOrDigit || s(j + w.length) == '_'))
    val bounds = mutable.Buffer[Int]()
    var depth = 0; var q: Char = 0; var caseDepth = 0; var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (q != 0) {
        if (ch == q) {
          if (i + 1 < s.length && s(i + 1) == q) i += 1 else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 =>
          if (word(i, "case")) caseDepth += 1
          else if (word(i, "end") && caseDepth > 0) caseDepth -= 1
          else if (caseDepth == 0 && word(i, "when")) {
            val after = s.substring(i + 4).dropWhile(_.isWhitespace)
            if (word(s.length - after.length, "matched") ||
                word(s.length - after.length, "not"))
              bounds += i
          }
        case _ =>
      }
      i += 1
    }
    bounds.toSeq
  }

  private def deleteRecursively(dir: java.nio.file.Path, keepRoot: Boolean): Unit = {
    val stream = Files.walk(dir)
    try stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .filter(p => !(keepRoot && p == dir)).forEach(p => Files.deleteIfExists(p))
    finally stream.close()
  }

  private def rowCountResult(n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("rows_affected")
  }

  /** Read an observe() count after its action ran. When the optimizer
    * proves a subtree empty (PropagateEmptyRelation collapses e.g.
    * `filter(false)` or a scan of an empty table), the CollectMetrics node
    * is pruned with it and the metric never materializes — in exactly
    * those cases the true count is 0.
    */
  private def observedCount(o: org.apache.spark.sql.Observation): Long =
    try o.get("n").asInstanceOf[Long]
    catch { case _: NoSuchElementException => 0L }

  // ---- COPY (CSV only, like the reference: src/binder/copy.rs) -----------

  /** COPY options: csv delimiter/header/quote/escape (reference surface,
    * `src/binder/copy.rs`) plus a FORMAT extension ('csv' default,
    * 'json'/'jsonl' for line-delimited JSON — the dominant corpus
    * interchange format — 'parquet', and 'orc').
    */
  // no delimiter/header presets: Spark's CSV source already defaults to
  // ','/false, and the TEXT branch needs to distinguish "user asked for a
  // delimiter" (honor it) from "default" (tab) instead of silently
  // parsing '|'-separated data with a hard-coded tab
  private def copyOptions(opts: Option[String]): Map[String, String] = {
    val m = mutable.Map("format" -> "csv")
    opts.foreach(_.split(",").map(_.trim).filter(_.nonEmpty).foreach { o =>
      val kv = o.split("\\s+|=", 2)
      val key = kv(0).toLowerCase
      val value = if (kv.length > 1) kv(1).trim.stripPrefix("'").stripSuffix("'") else "true"
      key match {
        case "delimiter" => m("delimiter") = value
        case "header" => m("header") = value
        case "quote" => m("quote") = value
        case "escape" => m("escape") = value
        case "format" => m("format") = value.toLowerCase
        case _ =>
      }
    })
    m.toMap
  }

  // ---- Postgres COPY TEXT format (delimiter-separated, default tab;
  // \N nulls, backslash escapes) — what a bare `psql \copy` speaks.
  // Encode is pure column expressions over a distributed text write;
  // decode is the native byte-exact line parser (expr.PgTextFields),
  // which handles the full escape grammar including the \xHH / \OOO
  // forms other COPY TEXT producers (pg_dump bytea) emit and escaped
  // delimiters. No driver materialization either way: scan speed.

  private[graft] def pgTextEscape(c: Column): Column = PgText.escape(c)
  private[graft] def pgTextUnescape(c: Column): Column = PgText.unescape(c)

  /** TEXT-format option validation (pg parity: quote/escape/header are
    * csv-only and COPY errors on them in text format rather than
    * ignoring them); DELIMITER is honored, default tab.
    */
  private def textDelimiter(o: Map[String, String]): String = {
    Seq("quote", "escape", "header").foreach { k =>
      require(!o.contains(k),
        s"COPY $k available only in CSV mode")
    }
    o.getOrElse("delimiter", "\t")
  }

  private def copyFrom(table: String, path: String, opts: Option[String]): DataFrame = {
    val (fullSchema, _) = tables(table)
    // pg: generated columns are never in the COPY file — the read schema
    // excludes them and the values compute after (appendTo re-guards)
    val gens = generatedCols.getOrElse(table, Map.empty)
    val schema = StructType(fullSchema.fields
      .filterNot(f => gens.contains(f.name.toLowerCase)))
    val o = copyOptions(opts)
    val df0 = o("format") match {
      case "json" | "jsonl" => spark.read.schema(schema).json(path)
      case "parquet" => spark.read.schema(schema).parquet(path)
      case "orc" => spark.read.schema(schema).orc(path)
      case "text" =>
        PgText.decodeLines(spark.read.text(path), schema, textDelimiter(o))
      case _ => spark.read.options(o - "format").schema(schema).csv(path)
    }
    val df = if (gens.isEmpty) df0 else withGenerated(table,
      df0.select(fullSchema.fields.map(f =>
        if (gens.contains(f.name.toLowerCase))
          lit(null).cast(f.dataType).as(f.name)
        else col(f.name)).toIndexedSeq: _*))
    // single pass: rows_affected observed on the same job that writes (the
    // former count() pre-pass re-read the whole source)
    val obs = org.apache.spark.sql.Observation()
    appendCommit(table, df.observe(obs, count(lit(1)).as("n")), "copy from")
    rowCountResult(observedCount(obs))
  }

  private def copyTo(table: String, path: String, opts: Option[String]): DataFrame = {
    // pg parity: COPY TO's default column list EXCLUDES generated columns,
    // keeping it symmetric with copyFrom's read schema — otherwise the
    // natural `COPY t TO f; COPY t FROM f` round-trip shifts every column
    // after a non-trailing generated one into the wrong field.
    val gens = generatedCols.getOrElse(table, Map.empty)
    val df0 = spark.table(table)
    val df = if (gens.isEmpty) df0
      else df0.select(df0.columns.filterNot(c =>
        gens.contains(c.toLowerCase)).map(col).toIndexedSeq: _*)
    copyToDf(df, path, opts)
  }

  /** COPY ... TO body over an arbitrary frame — shared by the table form
    * and the pg `COPY (query) TO` form.
    */
  private def copyToDf(df: DataFrame, path: String, opts: Option[String]): DataFrame = {
    val o = copyOptions(opts)
    val obs = org.apache.spark.sql.Observation()
    o("format") match {
      case "text" =>
        PgText.encodeLines(df, textDelimiter(o))
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").text(path)
      case fmt =>
        val observed = df.observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite")
        fmt match {
          case "json" | "jsonl" => observed.json(path)
          case "parquet" => observed.parquet(path)
          case "orc" => observed.orc(path)
          case _ => observed.options(o - "format").csv(path)
        }
    }
    rowCountResult(observedCount(obs))
  }

  // ---- vector operator surface (reference src/binder/expr.rs vector ops) --

  /** Rewrite the reference's vector SQL surface onto the native Catalyst
    * expressions GraftExtensions registers:
    * `'[..]'::VECTOR(n)` → `from_json(.., 'array<double>')`,
    * `a <-> b` → `l2_distance`, `a <=> b` → cosine DISTANCE
    * (1 - cosine_sim), `a <#> b` → `neg_inner_product`. Operands may be
    * column refs, function calls, or rewritten vector literals.
    */
  private val vecAtom =
    """(?:from_json\('[^']*',\s*'array<double>'\)|[\w.]+\s*\([^()]*\)|[\w.]+|'[^']*')"""
  private val reVecLit = """'(\[[^']*\])'\s*::\s*(?i:vector)\s*\(\s*\d+\s*\)""".r
  private val reL2 = s"($vecAtom)\\s*<->\\s*($vecAtom)".r
  private val reCosDist = s"($vecAtom)\\s*<=>\\s*($vecAtom)".r
  private val reNegDot = s"($vecAtom)\\s*<#>\\s*($vecAtom)".r

  private def rewriteVectorOps(sql: String): String = {
    import scala.util.matching.Regex
    var out = reVecLit.replaceAllIn(sql,
      m => Regex.quoteReplacement(s"from_json('${m.group(1)}', 'array<double>')"))
    out = reL2.replaceAllIn(out,
      m => Regex.quoteReplacement(s"l2_distance(${m.group(1)}, ${m.group(2)})"))
    out = reCosDist.replaceAllIn(out,
      m => Regex.quoteReplacement(
        s"(cast(1.0 as double) - cosine_sim(${m.group(1)}, ${m.group(2)}))"))
    out = reNegDot.replaceAllIn(out,
      m => Regex.quoteReplacement(s"neg_inner_product(${m.group(1)}, ${m.group(2)})"))
    out
  }

  // ---- SQL UDF bind-time inlining (reference src/binder/expr.rs:378-434) --

  /** Expand calls `f(e1, e2)` of registered SQL functions by substituting
    * `$1`/`$2` (or named params) in the stored body; repeats to a fixed
    * point so UDFs may call UDFs.
    */
  def inlineFunctions(sql: String): String = {
    // type-alias parity: the reference collapses bare VARCHAR/TEXT to its
    // string type (`src/types/mod.rs:114`); Spark requires VARCHAR(n)
    // current_setting()/version() substitute here too, so INSERT/UPDATE/
    // upsert sources and SET expressions get them — not just top-level
    // SELECTs (they are statement-stable, so any chokepoint is exact)
    // pg literal semantics first (standard_conforming_strings=on, as
    // advertised): backslashes inside '...' double so Spark's C-style
    // parser reads the client's raw bytes — once per parse, HERE, the
    // one funnel every Spark-bound statement/expression text crosses
    var out = rewriteVectorOps(rewriteCurrentSetting(
        SqlText.conformLiterals(sql)))
      .replaceAll("(?i)\\bas\\s+varchar\\s*([,)])", "AS STRING$1")
      .replaceAll("(?i)\\bas\\s+text\\s*([,)])", "AS STRING$1")
    var changed = true
    var guard = 0
    while (changed && guard < 10) {
      changed = false; guard += 1
      functions.foreach { case (name, (params, body)) =>
        val call = (s"(?i)\\b$name\\s*\\(").r
        call.findFirstMatchIn(out).foreach { m =>
          val (args, end) = parseArgs(out, m.end)
          var expanded = body
          // body is usually 'select <expr>' — take the expression
          expanded = expanded.trim.replaceAll("(?i)^select\\s+", "")
          params.zipWithIndex.foreach { case (p, i) =>
            expanded = expanded.replace(s"$$${i + 1}", s"(${args(i)})")
            if (p.nonEmpty) // unnamed (type-only) params bind via $n alone
              expanded = expanded.replaceAll(s"(?i)\\b$p\\b",
                scala.util.matching.Regex.quoteReplacement(s"(${args(i)})"))
          }
          out = out.substring(0, m.start) + s"($expanded)" + out.substring(end)
          changed = true
        }
      }
    }
    out
  }

  /** Parse balanced comma-separated args starting after the open paren. */
  private def parseArgs(s: String, from: Int): (Seq[String], Int) = {
    val args = mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 1; var i = from
    while (i < s.length && depth > 0) {
      s(i) match {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; if (depth > 0) cur += ')'
        case ',' if depth == 1 => args += cur.toString.trim; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) args += cur.toString.trim
    (args.toSeq, i)
  }

  // ---- EXPLAIN ANALYZE (reference src/executor/analyze.rs:19-77) ---------

  /** Run the query, then report per-operator output rows and timing from
    * the executed plan's SQL metrics — the analogue of the reference's
    * `Analyze` executor which wraps each node with row/time counters.
    */
  private def explainAnalyze(body: String): DataFrame = {
    import spark.implicits._
    val df = spark.sql(inlineFunctions(rewriteQualify(body)))
    // run through THIS queryExecution instance (df.write would plan a
    // separate execution and leave these metrics untouched); rows are
    // consumed executor-side, nothing is collected
    df.queryExecution.toRdd.foreach(_ => ())
    val rows = mutable.Buffer[(Int, String, Long, Double)]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val outRows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      // the largest timer in ms: Spark's "timing" metrics count ms, its
      // "nsTiming" ones (shuffle write, spill, ...) count ns
      val timeMs = p.metrics.values.collect {
        case m if m.metricType == "timing" => m.value.toDouble
        case m if m.metricType == "nsTiming" => m.value / 1e6
      }.foldLeft(0.0)(math.max)
      rows += ((depth, p.nodeName, outRows, timeMs))
      val children = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      children.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    rows.toSeq.toDF("depth", "operator", "num_output_rows", "max_time_ms")
  }

  // ---- system tables (reference src/executor/system_table_scan.rs) -------

  def systemTable(name: String): DataFrame = {
    import spark.implicits._
    name match {
      case "pg_tables" =>
        // temp objects: only the OWNING session sees its own, under the
        // alias it used, in pg's temp schema; other sessions' mangled
        // names are hidden outright (pg_temp_N invisibility)
        val aliasOf = sess.tempObjects.map { case (a, (m, _)) => m -> a }
        def vis(n: String, kind: String): Option[(String, String, String)] =
          if (n.toLowerCase.startsWith("graft_temp_"))
            aliasOf.get(n).map(a => ("pg_temp", a, kind))
          else Some(("postgres", n, kind))
        (tables.keys.flatMap(t =>
          vis(t, if (matviews.contains(t)) "matview" else "table")) ++
          views.keys.flatMap(v => vis(v, "view"))).toSeq
          .toDF("schemaname", "tablename", "kind")
      case "pg_indexes" =>
        indexes.map { case (n, (t, c, m, o)) => (n, t, c, m, o) }.toSeq
          .toDF("indexname", "tablename", "columnname", "method", "options")
      case "pg_sequences" =>
        // pg's sequence view: last_value is NULL until the first nextval
        sequences.toSeq.map { case (n, s) =>
          (n, s.start, s.minV, s.maxV, s.increment, s.cycle,
            if (s.called) Some(s.last) else None,
            s.owner.map { case (t, c) => s"$t.$c" })
        }.toDF("sequencename", "start_value", "min_value", "max_value",
          "increment_by", "cycle", "last_value", "owned_by")
      case "pg_attribute" =>
        tables.toSeq.flatMap { case (t, (schema, pk)) =>
          schema.fields.zipWithIndex.map { case (f, i) =>
            (t, f.name, f.dataType.simpleString, i + 1, !f.nullable, pk.contains(f.name))
          }.toSeq
        }.toDF("tablename", "attname", "atttype", "attnum", "notnull", "is_pk")
      case "pg_stat" =>
        tables.keys.map { t =>
          (t, spark.table(t).count())
        }.toSeq.toDF("tablename", "n_rows")
      case "contributors" =>
        // the reference hardcodes its project's contributor logins
        // (src/executor/system_table_scan.rs:27-35); this engine does the same
        Seq("spark-graft").toDF("login")
      case "pg_settings" =>
        // the view monitoring tools read; same rows as SHOW ALL, with
        // pg's source column
        gucRows().toDF("name", "setting", "source")
      case "graft_history" =>
        // every table's commit log — the SQL-queryable twin of DESCRIBE
        // HISTORY (timestamps are a column, so tests and tools can project
        // the deterministic fields)
        tables.keys.toSeq.flatMap { t =>
          val log = history.getOrElse(t, Vector.empty)
          val cur = log.length - 1
          log.zipWithIndex.map { case (c, v) =>
            (t, v.toLong, java.time.Instant.ofEpochMilli(c.ts).toString,
              c.op, v == cur || versionAvailable(t, v))
          }
        }.toDF("tablename", "version", "committed_at", "operation",
          "available")
      case "information_schema.tables" =>
        // the standard columns JDBC DatabaseMetaData.getTables and BI
        // introspection actually read
        (tables.keys.map(t => ("graft", "public", t, "BASE TABLE")) ++
          views.keys.map(v => ("graft", "public", v, "VIEW"))).toSeq
          .toDF("table_catalog", "table_schema", "table_name", "table_type")
      case "information_schema.columns" =>
        (tables.toSeq.map { case (t, (schema, _)) => (t, schema) } ++
          views.keys.toSeq.flatMap { v =>
            // a view whose body no longer plans (dropped dependency) must
            // not break catalog introspection of everything else
            scala.util.Try((v, spark.sql(inlineFunctions(rewriteQualify(views(v)))).schema)).toOption
          }).flatMap { case (t, schema) =>
          schema.fields.zipWithIndex.map { case (f, i) =>
            ("graft", "public", t, f.name, i + 1, f.dataType.sql.toLowerCase,
              if (f.nullable) "YES" else "NO")
          }
        }.toDF("table_catalog", "table_schema", "table_name", "column_name",
          "ordinal_position", "data_type", "is_nullable")
      case "information_schema.views" =>
        // view_definition = the stored defining SQL, pg behavior
        views.toSeq.map { case (v, body) => ("graft", "public", v, body) }
          .toDF("table_catalog", "table_schema", "table_name",
            "view_definition")
      case "information_schema.routines" =>
        // SQL UDFs; routine_body/definition per the standard's SQL-body
        // representation (parameter names live in the definition text)
        functions.toSeq.map { case (n, (params, body)) =>
          ("graft", "public", n, "FUNCTION", "SQL",
            s"(${params.mkString(", ")}) $body")
        }.toDF("routine_catalog", "routine_schema", "routine_name",
          "routine_type", "routine_body", "routine_definition")
      case "information_schema.referential_constraints" =>
        // the engine tracks primary keys but no foreign keys, so this
        // standard relation is well-typed and empty — BI metadata probes
        // resolve it instead of erroring
        Seq.empty[(String, String, String, String, String, String)]
          .toDF("constraint_catalog", "constraint_schema", "constraint_name",
            "unique_constraint_name", "update_rule", "delete_rule")
      case other => throw new IllegalArgumentException(s"unknown system table $other")
    }
  }

  /** `\stat [table [column]]` — reference `src/db.rs:64-81`. Table level:
    * row counts; column level: count / distinct / nulls computed
    * distributed (one aggregate scan, no driver materialization).
    */
  private def stat(table: Option[String], column: Option[String]): DataFrame = {
    import spark.implicits._
    (table, column) match {
      case (None, _) => systemTable("pg_stat")
      case (Some(tn), None) => systemTable("pg_stat").where(col("tablename") === tn)
      case (Some(tn), Some(cn)) =>
        spark.table(tn).agg(
          lit(tn).as("tablename"), lit(cn).as("colname"),
          count(col(cn)).as("n_values"),
          count_distinct(col(cn)).as("n_distinct"),
          sum(when(col(cn).isNull, 1L).otherwise(0L)).as("n_nulls"))
    }
  }

  // ---- catalog manifest ---------------------------------------------------

  private def manifestPath = Paths.get(s"$warehouse/_catalog.json")

  private def saveManifest(): Unit = {
    bumpPlanEpoch() // any catalog/data change invalidates cached plans
    // Full JSON string escaping: view/function bodies are raw user SQL, so
    // multi-line or tab-bearing text is normal. Jackson rejects unescaped
    // control characters, so leaving them raw would make the warehouse
    // unopenable on the next loadManifest.
    def q(s: String) = {
      val b = new StringBuilder(s.length + 2).append('"')
      s.foreach {
        case '\\' => b.append("\\\\")
        case '"'  => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c    => b.append(c)
      }
      b.append('"').toString
    }
    def obj(entries: Iterable[String]) = entries.mkString("{", ",", "}")
    val tablesJson = obj(tables.map { case (n, (schema, pk)) =>
      s"${q(n)}: {${q("ddl")}: ${q(schema.toDDL)}, ${q("pk")}: [${pk.map(q).mkString(",")}]}"
    })
    val viewsJson = obj(views.map { case (n, body) => s"${q(n)}: ${q(body)}" })
    val matviewsJson = obj(matviews.map { case (n, body) => s"${q(n)}: ${q(body)}" })
    val matviewBaseJson = obj(matviewBase.map { case (n, (anchors, vv)) =>
      val bases = anchors.map { case (b, v) =>
        s"{${q("table")}: ${q(b)}, ${q("version")}: $v}" }.mkString("[", ",", "]")
      s"${q(n)}: {${q("bases")}: $bases, ${q("view_version")}: $vv}"
    })
    val rowCountsJson = obj(rowCounts.map { case (n, c) => s"${q(n)}: $c" })
    val colStatsJson = obj(colStatsLedger.map { case (t, cols) =>
      s"${q(t)}: ${obj(cols.map { case (c, l) =>
        val parts = l.ndv.map(v => s"${q("ndv")}: $v").toSeq ++
          l.min.map(v => s"${q("min")}: ${q(v)}") ++
          l.max.map(v => s"${q("max")}: ${q(v)}") ++
          l.nullCount.map(v => s"${q("nulls")}: $v") ++
          l.hist.map(v => s"${q("hist")}: ${q(v)}")
        s"${q(c)}: ${obj(parts)}"
      })}"
    })
    val functionsJson = obj(functions.map { case (n, (params, body)) =>
      s"${q(n)}: {${q("params")}: [${params.map(q).mkString(",")}], ${q("body")}: ${q(body)}}"
    })
    val indexesJson = obj(indexes.map { case (n, (t, c, m, o)) =>
      s"${q(n)}: {${q("table")}: ${q(t)}, ${q("column")}: ${q(c)}, " +
        s"${q("method")}: ${q(m)}, ${q("options")}: ${q(o)}}"
    })
    val bucketsJson = obj(buckets.map { case (t, (c, n)) =>
      s"${q(t)}: {${q("column")}: ${q(c)}, ${q("n")}: $n}"
    })
    val partitionsJson = obj(partitions.map { case (t, ps) =>
      s"${q(t)}: [${ps.map(q).mkString(",")}]"
    })
    val missingFillJson = obj(missingFill.map { case (t, cols) =>
      s"${q(t)}: ${obj(cols.map { case (c, mfs) =>
        s"${q(c)}: [" + mfs.map(mf =>
          s"{${q("lit")}: ${q(mf.lit)}, " +
            s"${q("files")}: [${mf.files.toSeq.sorted.map(q).mkString(",")}]}")
          .mkString(",") + "]"
      })}"
    })
    val defaultsJson = obj(defaults.map { case (t, ds) =>
      s"${q(t)}: ${obj(ds.map { case (c, e) => s"${q(c)}: ${q(e)}" })}"
    })
    val sequencesJson = obj(sequences.map { case (n, s) =>
      val ownerPart = s.owner.map { case (t, c) =>
        s", ${q("owner_table")}: ${q(t)}, ${q("owner_col")}: ${q(c)}" }
        .getOrElse("")
      s"${q(n)}: {${q("last")}: ${s.last}, ${q("called")}: ${s.called}, " +
        s"${q("increment")}: ${s.increment}, ${q("min")}: ${s.minV}, " +
        s"${q("max")}: ${s.maxV}, ${q("cycle")}: ${s.cycle}, " +
        s"${q("start")}: ${s.start}$ownerPart}"
    })
    val identityAlwaysJson = obj(identityAlways.map { case (t, cols) =>
      s"${q(t)}: [${cols.toSeq.sorted.map(q).mkString(",")}]"
    })
    val generatedJson = obj(generatedCols.map { case (t, gs) =>
      s"${q(t)}: ${obj(gs.map { case (c, e) => s"${q(c)}: ${q(e)}" })}"
    })
    val historyJson = obj(history.map { case (t, commits) =>
      s"${q(t)}: [${commits.map(c =>
        s"{${q("ts")}: ${c.ts}, ${q("op")}: ${q(c.op)}, " +
          s"${q("ddl")}: ${q(c.ddl)}, ${q("dir")}: ${q(c.dir)}}").mkString(",")}]"
    })
    // Temp-then-atomic-rename: the manifest is load-bearing on reopen (it
    // holds every table's current-version pointer), and an in-place
    // truncate-then-write crash would leave a corrupt catalog with no
    // recovery path.
    val tmp = Paths.get(s"$warehouse/._catalog.json.tmp")
    Files.writeString(tmp,
      s"""{${q("tables")}: $tablesJson, ${q("views")}: $viewsJson, """ +
        s"""${q("matviews")}: $matviewsJson, """ +
        s"""${q("matview_base")}: $matviewBaseJson, """ +
        s"""${q("row_counts")}: $rowCountsJson, """ +
        s"""${q("col_stats")}: $colStatsJson, """ +
        s"""${q("functions")}: $functionsJson, ${q("indexes")}: $indexesJson, """ +
        s"""${q("buckets")}: $bucketsJson, """ +
        s"""${q("partitions")}: $partitionsJson, """ +
        s"""${q("missing_fill")}: $missingFillJson, """ +
        s"""${q("defaults")}: $defaultsJson, """ +
        s"""${q("sequences")}: $sequencesJson, """ +
        s"""${q("identity_always")}: $identityAlwaysJson, """ +
        s"""${q("generated")}: $generatedJson, """ +
        s"""${q("history")}: $historyJson}""")
    Files.move(tmp, manifestPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Restore the catalog from the manifest a previous Engine on this
    * warehouse saved — the reference reloads its catalog from storage on
    * open (`/root/reference/src/storage/secondary/manifest.rs` replays
    * catalog ops at startup); without this a restart kept the parquet
    * data but forgot every table. Views re-plan from their stored SQL
    * text; functions re-inline; index entries are metadata. Reads via
    * Jackson (already on the Spark classpath). The pre-round-9 flat
    * format (top-level = tables map) still loads.
    */
  private def loadManifest(): Unit = {
    // hidden entries other than the version store are debris: a crash
    // inside saveManifest leaves its temp file, and older releases'
    // in-place swaps left dotted temp directories
    children(Paths.get(warehouse)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n != ".history" && n != ".ivm_aux"
    }.foreach(p => deleteRecursively(p, keepRoot = false))
    if (!Files.exists(manifestPath)) return
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(manifestPath))
      catch {
        case e: Exception =>
          // Keep the evidence, surface a clear error instead of an opaque
          // constructor failure deep in Jackson.
          val backup = Paths.get(s"$warehouse/_catalog.json.corrupt")
          Files.copy(manifestPath, backup,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          throw new IllegalStateException(
            s"warehouse manifest $manifestPath is unreadable " +
              s"(backed up to $backup): ${e.getMessage}", e)
      }
    def fields(n: com.fasterxml.jackson.databind.JsonNode) = {
      import scala.jdk.CollectionConverters._
      n.fields().asScala
    }
    def texts(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      (0 until n.size()).map(i => n.get(i).asText())
    // bucket specs must land BEFORE the tables loop: register() reads them
    if (root.has("buckets"))
      fields(root.get("buckets")).foreach { e =>
        buckets(e.getKey) =
          (e.getValue.get("column").asText(), e.getValue.get("n").asInt())
      }
    // partition specs likewise: register() emits PARTITIONED BY from them
    if (root.has("partitions"))
      fields(root.get("partitions")).foreach(e =>
        partitions(e.getKey) = texts(e.getValue))
    // missing-value fills too: register() decides overlay activity
    if (root.has("missing_fill"))
      fields(root.get("missing_fill")).foreach { e =>
        missingFill(e.getKey) = fields(e.getValue).map { ce =>
          def one(n: com.fasterxml.jackson.databind.JsonNode) =
            MissingFill(n.get("lit").asText(), texts(n.get("files")).toSet)
          ce.getKey -> (if (ce.getValue.isArray) {
            import scala.jdk.CollectionConverters._
            ce.getValue.elements().asScala.map(one).toSeq
          } else Seq(one(ce.getValue))) // pre-r18 single-generation form
        }.toMap
      }
    // row-count ledger too: register() pushes these into catalog stats
    if (root.has("row_counts"))
      fields(root.get("row_counts")).foreach(e =>
        rowCounts(e.getKey) = e.getValue.asLong())
    // column-stats ledger likewise, BEFORE the tables loop
    if (root.has("col_stats"))
      fields(root.get("col_stats")).foreach { e =>
        val cols = mutable.Map[String, ColLedger]()
        fields(e.getValue).foreach { ce =>
          val v = ce.getValue
          cols(ce.getKey) = ColLedger(
            if (v.has("ndv")) Some(v.get("ndv").asLong()) else None,
            if (v.has("min")) Some(v.get("min").asText()) else None,
            if (v.has("max")) Some(v.get("max").asText()) else None,
            if (v.has("nulls")) Some(v.get("nulls").asLong()) else None,
            if (v.has("hist")) Some(v.get("hist").asText()) else None)
        }
        colStatsLedger(e.getKey) = cols
      }
    // the commit logs BEFORE the tables loop: each log's last entry is
    // the current-version pointer register() points the catalog at
    // tables whose current version predates version directories
    val unversioned = mutable.Set[String]()
    if (root.has("history"))
      fields(root.get("history")).foreach { e =>
        val last = e.getValue.size() - 1
        if (last >= 0 && !e.getValue.get(last).has("dir")) unversioned += e.getKey
        history(e.getKey) = (0 until e.getValue.size()).map { i =>
          val n = e.getValue.get(i)
          Commit(n.get("ts").asLong(), n.get("op").asText(),
            n.get("ddl").asText(),
            if (n.has("dir")) n.get("dir").asText() else s"v$i")
        }.toVector
      }
    val tablesNode = if (root.has("tables")) root.get("tables") else root
    fields(tablesNode).foreach { e =>
      val t = e.getKey
      val schema = StructType.fromDDL(e.getValue.get("ddl").asText())
      tables(t) = (schema, texts(e.getValue.get("pk")))
      if (!history.contains(t)) {
        history(t) = Vector(Commit(0L, "create table", schema.toDDL, "v0"))
        unversioned += t
      }
      // a warehouse written before version directories keeps the current
      // version only in warehouse/<t> (earlier ones under their v<i>):
      // adopt those files as its directory. A v<cur> already there was
      // left by a commit that died mid-archive: relinked from the live one.
      if (unversioned(t) && Files.isDirectory(liveDir(t))) {
        val cur = versionDir(t, history(t).length - 1)
        if (Files.exists(cur)) deleteRecursively(cur, keepRoot = false)
        Files.createDirectories(cur)
        linkTree(liveDir(t), cur)
      }
      // crash debris: a version directory no commit names was written by
      // a statement that died before its pointer flip
      val named = history(t).map(_.dir).toSet
      if (Files.isDirectory(historyDir(t)))
        children(historyDir(t)).filter { d =>
          val n = d.getFileName.toString
          n.startsWith("v") && !named(n)
        }.foreach(d => deleteRecursively(d, keepRoot = false))
      register(t)
      syncLive(t)
    }
    if (root.has("defaults"))
      fields(root.get("defaults")).foreach { e =>
        defaults(e.getKey) = fields(e.getValue)
          .map(c => c.getKey -> c.getValue.asText()).toMap
      }
    if (root.has("sequences"))
      fields(root.get("sequences")).foreach { e =>
        val v = e.getValue
        sequences(e.getKey) = SeqState(v.get("last").asLong(),
          v.get("called").asBoolean(), v.get("increment").asLong(),
          v.get("min").asLong(), v.get("max").asLong(),
          v.get("cycle").asBoolean(), v.get("start").asLong(),
          if (v.has("owner_table"))
            Some((v.get("owner_table").asText(), v.get("owner_col").asText()))
          else None)
      }
    if (root.has("identity_always"))
      fields(root.get("identity_always")).foreach(e =>
        identityAlways(e.getKey) = texts(e.getValue).toSet)
    if (root.has("generated"))
      fields(root.get("generated")).foreach { e =>
        generatedCols(e.getKey) = fields(e.getValue)
          .map(c => c.getKey -> c.getValue.asText()).toMap
      }
    if (root.has("views"))
      fields(root.get("views")).foreach(e => views(e.getKey) = e.getValue.asText())
    if (root.has("matviews"))
      fields(root.get("matviews")).foreach(e => matviews(e.getKey) = e.getValue.asText())
    if (root.has("matview_base"))
      fields(root.get("matview_base")).foreach { e =>
        val anchors: Seq[(String, Int)] =
          if (e.getValue.has("bases")) {
            import scala.jdk.CollectionConverters._
            e.getValue.get("bases").elements().asScala.map(b =>
              (b.get("table").asText(), b.get("version").asInt())).toSeq
          } else // pre-r14 manifests: a single base/version pair
            Seq((e.getValue.get("base").asText(),
              e.getValue.get("version").asInt()))
        matviewBase(e.getKey) = (anchors,
          // pre-r13 manifests carry no view_version: -1 fails the
          // crash latch once, forcing one full recompute + re-anchor.
          // (pre-r14 single-base anchors also re-key the sidecar dir by
          // view version, so the dir check fails once → same fallback.)
          if (e.getValue.has("view_version"))
            e.getValue.get("view_version").asInt()
          else -1)
      }
    if (root.has("functions"))
      fields(root.get("functions")).foreach { e =>
        functions(e.getKey) =
          (texts(e.getValue.get("params")), e.getValue.get("body").asText())
      }
    if (root.has("indexes"))
      fields(root.get("indexes")).foreach { e =>
        val v = e.getValue
        indexes(e.getKey) = (v.get("table").asText(), v.get("column").asText(),
          v.get("method").asText(), v.get("options").asText())
      }
    refreshViews()
  }

  // reopen an existing warehouse: restore tables/views/functions/indexes
  // from the manifest a previous Engine saved. Runs LAST in the
  // constructor — textually after every field it touches (the class body
  // executes in order; an earlier call saw null mockRowCounts).
  loadManifest()
  // temp objects never legitimately survive a restart (their sessions are
  // gone), but a crash skips dropSessionTemps and the manifest resurrects
  // them as orphans — hidden from pg_tables, squatting on the mangled
  // names a restarted process's identically-numbered sessions will mint.
  // Sweep them like pg's autovacuum cleans orphaned pg_temp_N schemas.
  locally {
    val orphans = (tables.keys ++ views.keys)
      .filter(_.toLowerCase.startsWith("graft_temp_")).toSeq.distinct
    orphans.foreach { n =>
      scala.util.Try(drop(if (views.contains(n)) "view" else "table", n))
    }
  }
}

object Engine {

  /** Statements that only read: they run under the shared side of the
    * statement lock while planned and execute with no lock held (see
    * `Engine.run`). WITH can wrap DML (`WITH x AS (...) INSERT ...`)
    * and PRAGMA mutates session conf, so both are excluded even though
    * they render rows; FETCH advances cursor state and EXECUTE may run
    * wrapped DML.
    */
  def isReadOnly(stmt: String): Boolean =
    (Set("SELECT", "VALUES", "SHOW", "EXPLAIN", "DESCRIBE", "TABLE")
      .contains(stmt.trim.split("\\s+").headOption.getOrElse("").toUpperCase) ||
      stmt.trim.startsWith("\\")) &&
      // nextval/setval mutate engine sequence state (and persist it to
      // the manifest) even inside a SELECT — they run exclusively.
      // Quote-aware: the text inside a string literal is payload.
      {
        val mask = SqlText.quotedMask(stmt)
        val m = """(?i)\b(nextval|setval)\s*\(""".r.pattern.matcher(stmt)
        var found = false
        while (!found && m.find()) if (!mask(m.start)) found = true
        !found
      }
}
