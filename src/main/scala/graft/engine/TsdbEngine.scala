package graft.engine

import graft.catalog.GraftCatalog
import graft.ddl._
import graft.functions.TsidHash
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Between, BinaryComparison, Expression, In, Literal => CLiteral}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The interpreter layer (reference: interpreters/src/factory.rs:77 — one
  * interpreter per statement kind) rebuilt on Spark: DDL/metadata statements
  * run against [[GraftCatalog]], INSERT VALUES runs through the write path
  * (tsid + defaults + ingest sequence, reference interpreters/src/insert.rs),
  * and everything else is standard SQL handed to Catalyst with catalog
  * tables pre-registered as (dedup-on-read, TTL-filtered) views.
  */
final class TsdbEngine(
    val spark: SparkSession, val warehouse: String,
    // opt-in first-flush PK reordering, like the reference's
    // enable_primary_key_sampling engine knob (lib.rs:96, default false);
    // segment-duration sampling is always on, as in the reference
    val enablePkSampling: Boolean = false) {
  val catalog = new GraftCatalog(warehouse)

  /** Runtime block lists + rules (reference proxy/src/limiter.rs);
    * mutable through the HTTP `/admin/block` endpoint. */
  val limiter = new Limiter

  /** Per-table write/compact monitor — the reference's per-table serial
    * executor analogue (analytic_engine/src/table/mod.rs runs one table's
    * mutations on one serial runtime). An append that resolves the data
    * directory before a concurrent generation flip would land its rows in
    * the superseded generation and lose them to the NEXT compaction's GC,
    * so every mutating operation on a table serializes on its monitor.
    * Readers stay lock-free: the manifest flips atomically and superseded
    * generations survive one grace cycle. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withTableLock[T](name: String)(f: => T): T =
    tableLocks.computeIfAbsent(name, _ => new Object).synchronized(f)

  /** Wall-clock grace for superseded-generation GC. The one-generation
    * grace alone is a race under load: a reader pins its file listing
    * over generation N, two quick compaction flips move the table to
    * N+2, and a count-only GC deletes N's files under the reader's
    * still-running tasks (the FILE_NOT_EXIST failure ConcurrencySpec's
    * fingerprint-guard stress hit under full-suite load). A superseded
    * generation is therefore deleted only when BOTH it is at least two
    * generations old AND `genGraceMs` has passed since it was
    * superseded — the lakehouse VACUUM retention shape, bounded by
    * (grace / compaction cadence) extra generations of already-rewritten
    * files. Supersession times are process-local (readers share this
    * JVM, so only in-process readers can hold listings); a generation
    * observed without a recorded time (engine restart) starts its clock
    * at the first GC pass that sees it. */
  @volatile private[graft] var genGraceMs: Long =
    sys.env.get("SPARK_GRAFT_GEN_GRACE_MS").map(_.toLong).getOrElse(120000L)
  private val supersededAtMs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Long]()

  /** GC superseded generations of `name` after a flip to
    * `supersededGen + 1`: record the flip time for the generation just
    * superseded, then delete every OLDER generation whose wall-clock
    * grace has expired. Caller holds the table lock. */
  private def gcSupersededGenerations(name: String, supersededGen: Int): Unit = {
    val now = System.currentTimeMillis()
    supersededAtMs.put((name, supersededGen), now)
    (0 until supersededGen).foreach { g =>
      val p = java.nio.file.Paths.get(catalog.genDataDir(name, g))
      if (java.nio.file.Files.exists(p)) {
        val t = supersededAtMs.computeIfAbsent(
          (name, g), _ => java.lang.Long.valueOf(now))
        if (now - t >= genGraceMs) {
          GraftCatalog.deleteRecursively(p)
          supersededAtMs.remove((name, g))
        }
      }
    }
  }

  /** Engine-registered transparent rollup rewrites
    * (plans/Rollups.RollupRewrite): regName -> (rawTable, rollupTable).
    * A mutation of EITHER side invalidates the registration — a stale
    * rollup must never serve fresh-raw queries; re-materializing (e.g.
    * InfluxQL.runContinuousQueries) re-registers. */
  private val rollupRegs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Declare `rollupTable` a faithful `grainSeconds` rollup of `raw`
    * (per (tags, bucket): the mapped count/sum/min/max columns), after
    * which compatible aggregates over the raw table are transparently
    * served from the rollup — see [[graft.plans.Rollups]] for the exact
    * servable shapes and bail-out rules. The caller asserts faithfulness
    * (the engine asserts freshness via write invalidation). */
  def registerRollup(
      regName: String, raw: String, rollupTable: String, grainSeconds: Long,
      tags: Seq[String], bucketCol: String,
      countStarCol: Option[String] = None,
      counts: Map[String, String] = Map.empty,
      sums: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit = {
    val s = catalog.get(raw)
    graft.plans.Rollups.register(spark, s"engine:$regName",
      graft.plans.Rollups.RollupSpec(
        rawPathContains = catalog.dataDir(raw),
        tsCol = s.timestampKey, grainUs = grainSeconds * 1000000L,
        tags = tags.toSet, bucketCol = bucketCol, countCol = countStarCol,
        counts = counts, sums = sums, mins = mins, maxs = maxs,
        rollup = () => read(rollupTable)))
    rollupRegs.put(s"engine:$regName", (raw, rollupTable))
  }

  /** Write high-water mark: the next unreserved ingest sequence. */
  def currentSeq(name: String): Long = catalog.peekSeq(name)

  /** Earliest event-time micros among rows with `__seq >= sinceSeq`, or
    * None when no such rows exist — the incremental-rematerialization
    * cursor (which time suffix must be recomputed). One bounded agg over
    * the seq-filtered storage scan. */
  def minTsSince(name: String, sinceSeq: Long): Option[Long] = {
    val s = catalog.get(name)
    val r = readStorage(s)
      .filter(col(TableSchema.SeqColumn) >= sinceSeq)
      .agg(min(unix_micros(col(s.timestampKey))))
      .head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Incremental rollup maintenance (the refresh side of the serving-side
    * [[registerRollup]]): recompute ONLY the grain buckets touched by raw
    * rows with `__seq >= sinceSeq` and append the recomputed rows to
    * `rollupTable` — an overwrite-mode table keyed (bucket, tags), so the
    * newest recomputation wins on read and earlier generations of the
    * same bucket are superseded, never double-counted. Returns the new
    * high-water sequence to pass as `sinceSeq` next time.
    *
    * Bucket-scoped recomputation (rather than delta-merging partials)
    * stays correct under ANY raw-table semantics — late/out-of-order
    * rows, overwrite-mode dedup of the raw table, deletes via rewrite —
    * because touched buckets are rebuilt from the full raw read. Cost is
    * bounded by the touched time span, not table size: the raw scan is
    * pre-filtered with `ts >= min touched bucket` (pushed to parquet
    * segment/row-group stats via the engine's time-segment layout), then
    * exact-matched with a bucket semi-join.
    *
    * `aggs` maps output column -> aggregate over the raw columns, e.g.
    * `"n" -> count(lit(1)), "sum_milli" -> sum(...)`. */
  def refreshRollup(
      raw: String, rollupTable: String, grainSeconds: Long,
      tags: Seq[String], aggs: Seq[(String, Column)],
      sinceSeq: Long): Long = {
    val grainUs = grainSeconds * 1000000L
    val s = catalog.get(raw)
    val rs = catalog.get(rollupTable)
    val hw = currentSeq(raw)
    minTsSince(raw, sinceSeq) match {
      case None => hw // no delta — refresh is a no-op
      case Some(minUs) =>
        val floorUs = java.lang.Math.floorDiv(minUs, grainUs) * grainUs
        def bucketOf(c: Column): Column =
          timestamp_micros((floor(unix_micros(c) / grainUs)
            .cast("long") * grainUs))
        val touched = readStorage(s)
          .filter(col(TableSchema.SeqColumn) >= sinceSeq)
          .select(bucketOf(col(s.timestampKey)).as(rs.timestampKey))
          .distinct()
        val recomputed = read(raw)
          .filter(col(s.timestampKey) >= timestamp_micros(lit(floorUs)))
          .withColumn(rs.timestampKey, bucketOf(col(s.timestampKey)))
          .join(touched, Seq(rs.timestampKey), "left_semi")
          .groupBy((rs.timestampKey +: tags).map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
            aggs.tail.map { case (n, c) => c.as(n) }: _*)
        append(rollupTable, recomputed)
        hw
    }
  }

  /** Forced range backfill of a rollup: recompute every grain bucket whose
    * start lies in `[fromUs, untilUs)` from the current raw table state,
    * regardless of ingest sequences. This is the operational escape hatch
    * the seq-cursor [[refreshRollup]] cannot provide: a `deleteWhere` or
    * compaction TTL purge rewrites raw segments WITHOUT new sequences, so
    * a cursor-driven refresh would never notice. The range's existing
    * rollup rows are physically deleted first (a bucket whose raw rows
    * were all deleted must disappear, not linger as a stale generation),
    * then the surviving raw data re-aggregates in. */
  def refreshRollupRange(
      raw: String, rollupTable: String, grainSeconds: Long,
      tags: Seq[String], aggs: Seq[(String, Column)],
      fromUs: Long, untilUs: Long): Unit = {
    val grainUs = grainSeconds * 1000000L
    val s = catalog.get(raw)
    val rs = catalog.get(rollupTable)
    // snap the range OUT to grain boundaries: a bucket straddling either
    // edge must recompute from ALL its raw rows, not a partial slice
    val floorUs = java.lang.Math.floorDiv(fromUs, grainUs) * grainUs
    val ceilUs = java.lang.Math.floorDiv(untilUs + grainUs - 1, grainUs) * grainUs
    deleteWhere(rollupTable,
      col(rs.timestampKey) >= timestamp_micros(lit(floorUs)) &&
        col(rs.timestampKey) < timestamp_micros(lit(ceilUs)))
    val recomputed = read(raw)
      .filter(col(s.timestampKey) >= timestamp_micros(lit(floorUs)) &&
        col(s.timestampKey) < timestamp_micros(lit(ceilUs)))
      .withColumn(rs.timestampKey,
        timestamp_micros((floor(unix_micros(col(s.timestampKey)) / grainUs)
          .cast("long") * grainUs)))
      .groupBy((rs.timestampKey +: tags).map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    append(rollupTable, recomputed)
  }

  /** Ingest history — one row per ingest sequence still present in
    * storage: (seq, n_rows, min_ts, max_ts). The lakehouse DESCRIBE
    * HISTORY over the engine's `__seq` axis; compaction folds history
    * (superseded versions disappear), which this report makes visible. */
  def tableHistory(name: String): DataFrame = {
    val s = catalog.get(name)
    readStorage(s)
      .groupBy(col(TableSchema.SeqColumn).as("seq"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(s.timestampKey)).as("min_ts"),
        max(col(s.timestampKey)).as("max_ts"))
  }

  /** Per-SST-file metadata report — the standalone twin of the
    * reference's `sst-metadata` tool (`tools/src/sst_util.rs` +
    * `tools/src/bin/sst-metadata.rs`: per-file rows, size, time range
    * read from parquet footers). One distributed pass: rows/ts/seq
    * ranges group by `input_file_name()`, file sizes join in from a
    * driver-side directory listing (O(files) metadata, no data read for
    * sizes). Columns: file (relative to the table dir), segment (-1
    * when unsegmented), n_rows, bytes, min_ts, max_ts, min_seq,
    * max_seq. The operational "what is on disk" view that pairs with
    * small-file compaction. */
  def sstMetadata(name: String): DataFrame = {
    val s = catalog.get(name)
    val dir = java.nio.file.Paths.get(catalog.dataDir(s.name))
    val sizes: Seq[(String, Long)] =
      if (!java.nio.file.Files.exists(dir)) Nil
      else {
        val st = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet"))
            .map(p => (dir.relativize(p).toString, java.nio.file.Files.size(p)))
            .toSeq
        } finally st.close()
      }
    val spark0 = spark
    import spark0.implicits._
    val sizeDf = sizes.toDF("file", "bytes")
    val segCol =
      if (s.options.segmentMillis.isDefined) col(TableSchema.SegmentColumn)
      else lit(-1L)
    // input_file_name() is a file: URI with a variable number of slashes;
    // normalize to a plain absolute path before stripping the table dir
    val perFile = readStorage(s)
      .groupBy(expr(
        s"substring(regexp_replace(input_file_name(), '^file:/+', '/'), " +
          s"length('${dir.toString}') + 2)")
        .as("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(s.timestampKey)).as("min_ts"),
        max(col(s.timestampKey)).as("max_ts"),
        min(col(TableSchema.SeqColumn)).as("min_seq"),
        max(col(TableSchema.SeqColumn)).as("max_seq"),
        // partition-dir values read back as int — pin the column type
        first(segCol).cast("long").as("segment"))
    perFile.join(sizeDf, Seq("file"), "left")
      .select(col("file"), col("segment"), col("n_rows"),
        coalesce(col("bytes"), lit(-1L)).as("bytes"),
        col("min_ts"), col("max_ts"), col("min_seq"), col("max_seq"))
  }

  /** Row-level diff between two ingest-sequence snapshots of a table:
    * every primary key present in either snapshot, labeled `added`
    * (absent at `s0`), `removed` (absent at `s1` — possible on append
    * tables sliced by seq; overwrite tables only grow), `updated` (any
    * non-key column differs) or `unchanged`. The lakehouse "table diff"
    * over the engine's `__seq` axis — one full-outer join of the two
    * snapshot reads, shuffled on the PK like any dedup read.
    */
  def snapshotDiff(name: String, s0: Long, s1: Long): DataFrame = {
    val s = catalog.get(name)
    val keys = s.columns.filter(c => c.isTag).map(_.name) :+ s.timestampKey
    val fields = s.columns.map(_.name).filterNot(keys.contains)
    val v0 = readAsOf(name, s0).select(s.columns.map(c => col(c.name)): _*)
    val v1 = readAsOf(name, s1).select(s.columns.map(c => col(c.name)): _*)
    val a = v0.select(keys.map(col) :+
      struct(fields.map(col): _*).as("__f0"): _*)
    val b = v1.select(keys.map(col) :+
      struct(fields.map(col): _*).as("__f1"): _*)
    a.join(b, keys, "full_outer")
      .withColumn("change",
        when(col("__f0").isNull, lit("added"))
          .when(col("__f1").isNull, lit("removed"))
          .when(!(col("__f0") <=> col("__f1")), lit("updated"))
          .otherwise(lit("unchanged")))
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Drop every rollup registration touching `table` (as raw or rollup). */
  def invalidateRollups(table: String): Unit = {
    val it = rollupRegs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue._1 == table || e.getValue._2 == table) {
        graft.plans.Rollups.unregister(e.getKey)
        it.remove()
      }
    }
  }

  graft.functions.GraftFunctions.register(spark)
  // engine optimizer rules: Exact/Inexact dedup pushdown + KEY/HASH bucket
  // pruning (both no-ops on plans without engine shapes)
  if (!spark.experimental.extraOptimizations.contains(graft.plans.DedupTagPushdown))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++
        Seq(graft.plans.DedupTagPushdown, graft.plans.BucketPruning)

  /** Execute a script (one or more ;-separated statements); returns the
    * result of the last statement. */
  def execute(script: String): DataFrame = {
    val stmts = DdlParser.splitStatements(script)
    require(stmts.nonEmpty, "empty SQL script")
    stmts.map(s => executeOne(DdlParser.parse(s))).last
  }

  def executeOne(stmt: Statement): DataFrame = stmt match {
    case CreateTable(schema, ifNotExists) =>
      catalog.create(schema, ifNotExists); affectedRows(0)
    case DropTable(name, ifExists) =>
      invalidateRollups(name)
      catalog.drop(name, ifExists)
      // a recreated table must not inherit stale supersession times (its
      // generations would skip their grace); the table monitor stays —
      // a writer may be waiting on it
      supersededAtMs.keySet.removeIf(_._1 == name)
      spark.catalog.dropTempView(name) // a stale view would read deleted files
      affectedRows(0)
    case DescribeTable(name) => describe(name)
    case ShowTables(like) => showTables(like)
    case ShowDatabases =>
      singleCol("Databases", Seq(catalog.databaseName))
    case ShowCreateTable(name) =>
      spark.createDataFrame(
        Seq(Row(name, catalog.showCreate(name))).asJava,
        StructType(Seq(StructField("Table", StringType), StructField("Create Table", StringType))))
    case ExistsTable(name) =>
      spark.createDataFrame(
        Seq(Row(if (catalog.exists(name)) 1L else 0L)).asJava,
        StructType(Seq(StructField("result", LongType))))
    case AlterAddColumns(name, cols) =>
      catalog.alterAddColumns(name, cols); affectedRows(0)
    case AlterModifySetting(name, settings) =>
      catalog.alterSetting(name, settings); affectedRows(0)
    case ins: InsertValues => affectedRows(insertValues(ins))
    case OptimizeTable(name, zcols, smallFiles) =>
      require(catalog.exists(name), s"Table is not found, table:$name")
      if (smallFiles) compactSmallFiles(name)
      else compact(name, zorderBy = zcols)
      affectedRows(0)
    case PassthroughSql(sql) => runSql(sql)
  }

  // ---------------- read path ----------------

  /** Resolved user-facing DataFrame for a table: storage scan + TTL filter +
    * (overwrite mode) newest-sequence-wins dedup, projected back to the
    * user schema. Mirrors the reference's merge-dedup read
    * (analytic_engine/src/row_iter/dedup.rs) as a window over the PK —
    * filters composed on top stay correct because they apply after dedup
    * (the reference's "Inexact filter" contract, provider.rs:335-351).
    */
  def read(name: String): DataFrame = {
    val s = catalog.get(name)
    // fingerprint BEFORE the scan pins its file listing: the dedup-skip
    // decision below is a check-then-list race against concurrent
    // writers/compaction otherwise (a reader could decide "all compacted",
    // then list files that already include a newer rewrite — both
    // versions would surface with no window; caught by ConcurrencySpec's
    // compaction-race stress under full-suite load)
    val pre = catalog.readFingerprint(name)
    val storage = readStorage(s)
    val ttled = s.options.ttlMillis match {
      case Some(ttl) if s.options.enableTtl =>
        storage.filter(col(s.timestampKey) >=
          (current_timestamp() - expr(s"INTERVAL ${ttl / 1000} SECOND")))
      case _ => storage
    }
    // when every batch is under the compaction seq floor the data is
    // physically deduped — skip the window (cheaper plan, same rows).
    // Skipping is safe only if NO append/compaction committed across the
    // listing: appends reserve their seq before files land, so an
    // unchanged fingerprint proves the listing matches the checked state.
    val dedupSafeToSkip =
      !catalog.needsDedup(name) && catalog.readFingerprint(name) == pre
    val deduped = s.options.updateMode match {
      case UpdateMode.Overwrite if !dedupSafeToSkip =>
        val pk = s.primaryKey.map(col)
        ttled
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pk: _*).orderBy(
              col(TableSchema.SeqColumn).desc, col(TableSchema.SubSeqColumn).desc)))
          .filter(col("__rn") === 1)
      case _ => ttled
    }
    // canonical presentation order: PK columns first, generated tsid
    // included — the reference surfaces tsid in SELECT * (basic.result)
    deduped.select(s.canonicalColumns.map(c => col(c.name)): _*)
  }

  /** Snapshot read: the table as it stood after ingest sequence `asOfSeq`
    * (inclusive) — batches reserved later are invisible, and overwrite
    * dedup picks the newest version WITHIN the snapshot. The engine's
    * per-batch `__seq` (the WAL-sequence analogue) is the version axis, so
    * this is a pure storage-scan filter: no extra state, no copies, the
    * same plan shape as [[read]].
    *
    * History bound: compaction physically rewrites everything below its
    * sequence floor to newest-per-PK, so a snapshot older than `floor - 1`
    * can no longer be reconstructed and is rejected (the same contract as
    * a lakehouse VACUUM: time travel reaches only as far back as retained
    * versions). TTL row filtering is skipped — a snapshot shows the data
    * as written, not as aged. */
  def readAsOf(name: String, asOfSeq: Long): DataFrame = {
    val s = catalog.get(name)
    val (_, floor) = catalog.compactionState(name)
    require(asOfSeq >= floor - 1,
      s"snapshot at seq $asOfSeq predates compaction floor $floor: " +
        "overwritten versions below the floor were physically removed")
    val storage = readStorage(s)
      .filter(col(TableSchema.SeqColumn) <= asOfSeq)
    val deduped = s.options.updateMode match {
      case UpdateMode.Overwrite =>
        val pk = s.primaryKey.map(col)
        storage
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pk: _*).orderBy(
              col(TableSchema.SeqColumn).desc, col(TableSchema.SubSeqColumn).desc)))
          .filter(col("__rn") === 1)
      case _ => storage
    }
    deduped.select(s.canonicalColumns.map(c => col(c.name)): _*)
  }

  private def readStorage(s: TableSchema): DataFrame = {
    val dir = catalog.dataDir(s.name)
    import graft.plans.Partitioning
    // the bucket spec rides on a data column's metadata so BucketPruning
    // can map key-equality filters to candidate bucket directories
    val schema = s.partitionBy match {
      case Some(PartitionByKey(ks, n)) =>
        Partitioning.annotateKeys(s.storageStruct, ks, n)
          .add(Partitioning.bucketField)
      case Some(PartitionByHash(e, n)) if e.matches("[\\w`]+") =>
        Partitioning.annotateKeys(s.storageStruct, Seq(e.replace("`", "")), n)
          .add(Partitioning.bucketField)
      case Some(_) => s.storageStruct.add(Partitioning.bucketField)
      case None => s.storageStruct
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    } else {
      // explicit schema: files written before an ALTER ADD COLUMN surface
      // the new column as null (schema versioning, reference schema.rs:653)
      spark.read.schema(schema).parquet(dir)
    }
  }

  // ---------------- write path ----------------

  /** INSERT VALUES (the only insert body the reference accepts,
    * planner.rs:1158-1168): column reorder, default fill, tsid, sequence.
    * Omitted columns take their DEFAULT, which is a full SQL expression
    * evaluated against the row — including references to other (possibly
    * themselves defaulted) columns, applied in declaration order like the
    * reference (insert.rs:219-350; create_tables.sql `default c3*2 + 1`). */
  def insertValues(ins: InsertValues): Long = {
    limiter.checkInsertRule() // the AnyInsert brake (protocol entry)
    val s = catalog.get(ins.table)
    val targets = if (ins.columns.nonEmpty) ins.columns else s.columns.map(_.name)
    targets.foreach(s.column) // validates
    if (!targets.contains(s.timestampKey))
      throw new IllegalArgumentException(
        s"INSERT into '${ins.table}' must provide timestamp key '${s.timestampKey}'")

    val targetSpecs = targets.map(s.column)
    val rows = ins.rows.map { r =>
      require(r.length == targets.length,
        s"INSERT row has ${r.length} values for ${targets.length} columns")
      Row.fromSeq(targetSpecs.zip(r).map { case (c, lit) => coerce(lit, c) })
    }
    var df = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(targetSpecs.map(_.toStructField)))
    s.columns.filterNot(c => targets.contains(c.name)).foreach { c =>
      df = c.defaultValue match {
        case Some(raw) => df.withColumn(c.name, defaultColumn(df, raw, c))
        case None =>
          if (!c.isNullable && c.name != s.timestampKey)
            throw new IllegalArgumentException(
              s"column '${c.name}' is NOT NULL without default")
          df.withColumn(c.name, lit(null).cast(c.sparkType))
      }
    }
    append(ins.table, df.select(s.columns.map(c => col(c.name)): _*))
    rows.length.toLong
  }

  /** A DEFAULT expression as a typed column. Engine semantics for numeric
    * timestamp defaults: epoch MILLIS (a bare cast would read seconds). */
  private def defaultColumn(df: DataFrame, raw: String, c: ColumnSpec): Column = {
    val e = expr(raw)
    val dt = df.select(e.as("__probe")).schema.head.dataType // analysis only
    (c.kind, dt) match {
      case (DatumKind.Timestamp, _: org.apache.spark.sql.types.NumericType) =>
        timestamp_millis(e.cast(LongType))
      case _ => e.cast(c.sparkType)
    }
  }

  /** Append a batch of user-schema rows: computes tsid + ingest sequence and
    * writes time-segmented parquet. Also the Structured Streaming
    * foreachBatch target (streaming ingest replaces the reference's WAL +
    * memtable path; checkpointing replaces WAL durability). */
  def append(name: String, batch: DataFrame): Unit = withTableLock(name) {
    limiter.checkWrite(name) // blocked tables refuse every write path
    invalidateRollups(name) // fresh raw writes must not be served stale
    val s = catalog.get(name)
    // one sequence block per batch; within a batch, later rows win
    val seqBase = catalog.reserveSeq(name, 1)
    // Schema may be AHEAD of this batch: a concurrent writer's auto-ADD
    // can widen the table between the caller building `batch` and this
    // lock acquisition (ConcurrencySpec). Only the columns that race can
    // produce — nullable, non-key — are written as NULL (the same value
    // they hold for every pre-ADD row). A batch missing the timestamp
    // key, a primary-key column, or any NOT NULL column is malformed and
    // must keep failing loudly: NULL-filling those would land rows that
    // break the non-null invariant and segment/tsid assignment.
    val have = batch.columns.toSet
    val pk = s.primaryKey.toSet
    s.columns.find(c => !have(c.name) &&
        (!c.isNullable || c.name == s.timestampKey || pk(c.name)))
      .foreach(c => throw new IllegalArgumentException(
        s"append to '$name' is missing required column '${c.name}'"))
    var df = batch.select(s.columns.map { c =>
      if (have(c.name)) col(c.name).cast(c.sparkType)
      else lit(null).cast(c.sparkType).as(c.name)
    }: _*)
    if (s.usesTsid) {
      val tags = s.columns.zipWithIndex.collect { case (c, i) if c.isTag => (col(c.name), i) }
      df = df.withColumn(TableSchema.TsidColumn,
        if (tags.nonEmpty) TsidHash.tsid(tags) else lit(0L))
    }
    df = df.withColumn(TableSchema.SeqColumn, lit(seqBase))
      .withColumn(TableSchema.SubSeqColumn, monotonically_increasing_id())

    var partCols = Seq.empty[String]
    s.options.segmentMillis.foreach { seg =>
      df = df.withColumn(TableSchema.SegmentColumn,
        floor(unix_millis(col(s.timestampKey)) / seg).cast(LongType))
      partCols :+= TableSchema.SegmentColumn
    }
    // PARTITION BY KEY/HASH/RANDOM → __bucket directory partitions
    // (reference partition/rule/key.rs: hash64 % n)
    s.partitionBy.foreach { pb =>
      val bucket = pb match {
        case PartitionByKey(ks, n) =>
          graft.plans.Partitioning.bucketColumn(ks.map(col), n)
        case PartitionByHash(e, n) =>
          graft.plans.Partitioning.bucketColumn(Seq(expr(e)), n)
        case PartitionByRandom(n) =>
          pmod(xxhash64(monotonically_increasing_id()), lit(n.toLong)).cast("int")
      }
      df = df.withColumn(TableSchema.BucketColumn, bucket)
      partCols :+= TableSchema.BucketColumn
    }

    val w = bloomOnTags(df.write.mode("append"), s)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(catalog.dataDir(name))
  }

  /** Parquet bloom filters on TAG columns — the Spark-native analogue of
    * the reference's per-SST Xor8 tag filters (sst/parquet/meta_data/
    * filter.rs:55-70, SURVEY §4.3): a tag-equality predicate can then skip
    * whole row groups whose filter rules the value out, on top of the
    * min/max stats that PK-sorted layout already makes selective. */
  private def bloomOnTags(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      s: TableSchema): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    s.columns.filter(_.isTag).foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#${c.name}", "true")
    }

  /** First flush of a table created without `segment_duration`: sample the
    * accumulated (pre-flush) storage, pick a segment duration from observed
    * timestamp spacing and — when [[enablePkSampling]] and the table is
    * append-mode (table_options.rs:521 support_sample_pk) — reorder the PK
    * by ascending column cardinality, then physically re-layout the data
    * into the new `__segment` directories. Mirrors the reference's sampling
    * memtable flush (instance/flush_compaction.rs:355-400 + sampler.rs).
    * A no-op once `segment_duration` is set: appends are already durable
    * parquet here, so there is nothing else a flush must persist.
    *
    * The whole body holds the table monitor (reentrant, so the nested
    * [[compact]] is fine): an append landing between the sampling and the
    * layout flip would write `__segment=` directories into the still
    * unsegmented generation, and the re-layout's scan of that mixed tree
    * drops the older files. */
  def flush(name: String, nowMs: Long = System.currentTimeMillis()): Unit =
    withTableLock(name)(sampleAndRelayout(name, nowMs))

  private def sampleAndRelayout(name: String, nowMs: Long): Unit = {
    val s = catalog.get(name)
    if (s.options.segmentDuration.nonEmpty) return
    val storage = readStorage(s)
    val tsMs = unix_millis(col(s.timestampKey))
    // distinct timestamps in time order, capped: one distinct + sort of the
    // first segment's worth of data, collected only up to the cap
    val sampledTs = storage
      .filter(tsMs < Sampler.MaxTimestampMs)
      .select(tsMs.as("__ts")).distinct()
      .orderBy("__ts").limit(Sampler.MaxTimestampSamples)
      .collect().map(_.getLong(0)).toSeq
    val durationMs = Sampler.suggestDurationMs(sampledTs)
    val pkSuggestion =
      if (enablePkSampling && s.options.updateMode == UpdateMode.Append) {
        // reference counters skip timestamp-typed columns and tsid
        // (sampler.rs:290-315); tsid is not a user column here
        val eligible = s.columns.filter(c =>
          c.kind != DatumKind.Timestamp && Sampler.isKeyKind(c.kind))
        if (eligible.isEmpty) None
        else {
          // one distributed pass; Spark's approx_count_distinct is HLL++ at
          // the same 1% error the reference's HLL runs (sampler.rs:61)
          val aggs = eligible.map(c => approx_count_distinct(col(c.name), 0.01).as(c.name))
          val row = storage.agg(aggs.head, aggs.tail: _*).head()
          val counts = eligible.indices.map(i => eligible(i).name -> row.getLong(i))
          val pk = Sampler.suggestPrimaryKey(counts, s.usesTsid, s.timestampKey)
          if (pk == s.primaryKey) None else Some(pk)
        }
      } else None
    catalog.applySampling(name, pkSuggestion, Sampler.durationString(durationMs))
    compact(name, nowMs)
  }

  // ---------------- compaction / TTL purge ----------------

  /** Compaction (reference: analytic_engine/src/compaction/mod.rs:78-128
    * TimeWindow strategy) + physical TTL purge (table/data.rs:744 expired-SST
    * drop). Steps:
    *
    *  1. drop whole `__segment=k` directories entirely past the TTL horizon
    *     (file-level, no data read);
    *  2. rewrite the remaining storage with the dedup window applied
    *     (overwrite mode) and row-level TTL filtered, into the NEXT
    *     generation directory — a distributed window + parquet write,
    *     partition-parallel end-to-end;
    *  3. flip the manifest to the new generation and record the seq floor
    *     (the nextSeq observed BEFORE the rewrite scan — later batches stay
    *     above it): until the next append, reads skip the dedup window
    *     entirely, and the window's shuffle afterwards is bounded by live
    *     data, not accumulated history.
    *
    * Readers hold no locks: they resolve the directory through the manifest,
    * which flips atomically (tmp + ATOMIC_MOVE); the superseded generation
    * is kept for one more compaction cycle so already-planned scans can
    * finish, then garbage-collected. Writes serialize with compaction per
    * table on the engine's table monitor (`withTableLock` — the
    * reference's per-table serial executor,
    * analytic_engine/src/table/mod.rs): an append racing a concurrent
    * compact could otherwise land in the old generation and be dropped
    * with it. TsdbEngineSpec races appends against compactions to pin the
    * no-row-loss guarantee.
    */
  def compact(name: String, nowMs: Long = System.currentTimeMillis(),
      retain: Option[org.apache.spark.sql.Column] = None,
      zorderBy: Seq[String] = Nil): Unit = withTableLock(name) {
    purgeExpiredSegments(name, nowMs)
    val s = catalog.get(name)
    val (gen, _) = catalog.compactionState(name)
    val seqFloor = catalog.nextSeqOf(name)
    val storage = readStorage(s)

    var df = s.options.updateMode match {
      case UpdateMode.Overwrite =>
        val pk = s.primaryKey.map(col)
        storage
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pk: _*).orderBy(
              col(TableSchema.SeqColumn).desc, col(TableSchema.SubSeqColumn).desc)))
          .filter(col("__rn") === 1)
          .drop("__rn")
      case UpdateMode.Append => storage
    }
    // row-level TTL: segment purge above is per-directory; rows inside a
    // still-live segment can already be expired
    s.options.ttlMillis.filter(_ => s.options.enableTtl).foreach { ttl =>
      df = df.filter(col(s.timestampKey) >= timestamp_millis(lit(nowMs - ttl)))
    }
    // deletion support: the rewrite keeps only retained rows ([[deleteWhere]])
    retain.foreach(keep => df = df.filter(keep))

    // rebuild the storage layout exactly like append: __segment recomputed
    // from the timestamp; __bucket (if partitioned) is already a column of
    // the storage scan and is reused as-is
    var partCols = Seq.empty[String]
    s.options.segmentMillis.foreach { seg =>
      df = df.withColumn(TableSchema.SegmentColumn,
        floor(unix_millis(col(s.timestampKey)) / seg).cast(LongType))
      partCols :+= TableSchema.SegmentColumn
    }
    if (s.partitionBy.isDefined) partCols :+= TableSchema.BucketColumn

    // PK-sorted rewrite: the reference's SSTs are PK-ordered, which is what
    // makes parquet row-group min/max stats prune on tag predicates; sorting
    // by (partition dirs, PK) also satisfies the partitioned writer's
    // required ordering, so no extra writer-side sort happens.
    // With ZORDER BY, the intra-directory order is the Morton curve over
    // the requested columns instead (OPTIMIZE ... ZORDER BY surface):
    // min/max stats stay tight on EVERY clustered dimension, generalizing
    // the single-prefix pruning the PK sort gives. The range repartition
    // spreads the curve across tasks so each output file is a contiguous
    // curve segment WITHIN its directory.
    if (zorderBy.nonEmpty) {
      val missing = zorderBy.filterNot(c => df.columns.contains(c))
      require(missing.isEmpty, s"ZORDER BY unknown columns: ${missing.mkString(", ")}")
      df = graft.operators.ZOrder.withZValue(df, zorderBy)
      df = df
        .repartitionByRange((partCols :+ "__z").map(col): _*)
        .sortWithinPartitions((partCols :+ "__z").map(col): _*)
        .drop("__z")
    } else
      df = df.sortWithinPartitions((partCols ++ s.primaryKey).map(col): _*)

    val newDir = catalog.genDataDir(name, gen + 1)
    val w = bloomOnTags(df.write.mode("overwrite"), s)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(newDir)
    catalog.markCompacted(name, gen + 1, seqFloor)
    // grace-period GC: keep the generation we just superseded (in-flight
    // readers may still hold plans over it) and anything superseded less
    // than genGraceMs ago; drop the rest
    gcSupersededGenerations(name, gen)
  }

  /** Segment-scoped small-file compaction: bin-pack ONLY fragmented
    * segment directories, hard-linking every healthy one into the next
    * generation untouched. Every append flush adds a file per segment it
    * touches, so a steadily-ingesting table accumulates thousands of tiny
    * files per segment — the classic small-files problem that multiplies
    * scan open/footer costs at 100 TB. A full [[compact]] fixes that by
    * rewriting the WHOLE table; this rewrites only segments with more
    * than `maxFilesPerSegment` files (coalesced toward `targetBytes`
    * outputs, PK-sorted, tag blooms re-applied), which on a mostly-cold
    * time-partitioned table means touching just the hot tail.
    *
    * Purely PHYSICAL: rows (including `__seq`) are carried verbatim and
    * the compaction sequence floor is left unchanged, so read-side
    * dedup/TTL semantics are exactly as before — this can run between
    * logical compactions at any frequency. Atomicity is the same
    * generation flip as [[compact]]: readers either see the old
    * generation or the complete new one, never a half-rewritten segment
    * (hard links make the untouched majority O(1) data movement; copy is
    * the fallback for filesystems without link support).
    *
    * Returns (segments_total, segments_rewritten, files_before,
    * files_after) for the maintenance log. */
  def compactSmallFiles(
      name: String, maxFilesPerSegment: Int = 8,
      targetBytes: Long = 128L << 20): (Long, Long, Long, Long) = withTableLock(name) {
    import java.nio.file.{Files, Path, Paths}
    val s = catalog.get(name)
    val (gen, floor) = catalog.compactionState(name)
    val curRoot = Paths.get(catalog.genDataDir(name, gen))
    val nextRoot = Paths.get(catalog.genDataDir(name, gen + 1))
    if (!Files.isDirectory(curRoot)) (0L, 0L, 0L, 0L)
    else compactSmallFilesAt(s, gen, floor, curRoot, nextRoot,
      maxFilesPerSegment, targetBytes)
  }

  private def compactSmallFilesAt(
      s: TableSchema, gen: Int, floor: Long,
      curRoot: java.nio.file.Path, nextRoot: java.nio.file.Path,
      maxFilesPerSegment: Int, targetBytes: Long): (Long, Long, Long, Long) = {
    import java.nio.file.{Files, Path, Paths}
    val name = s.name

    def isData(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.endsWith(".parquet") || (!n.startsWith("_") && !n.startsWith("."))
    }
    // materialized + closed directory listing: Files.list holds an fd
    // until the stream is closed — a bare iterator walk leaks one per
    // directory, which a long-lived driver compacting thousands of
    // leaves per tick would exhaust
    def listDir(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toSeq finally s.close()
    }
    // leaf dirs = deepest directories holding data files ("" when the
    // table is unsegmented and files sit in the root)
    val leaves = scala.collection.mutable.ArrayBuffer[Path]()
    def walk(d: Path): Unit = {
      val (dirs, files) = listDir(d).partition(Files.isDirectory(_))
      dirs.filterNot(_.getFileName.toString.startsWith(".")).foreach(walk)
      if (files.exists(f => Files.isRegularFile(f) && isData(f))) leaves += d
    }
    walk(curRoot)

    val inventory = leaves.map { leaf =>
      val files = listDir(leaf)
        .filter(f => Files.isRegularFile(f) && isData(f))
      (leaf, files)
    }
    val (fragmented, healthy) =
      inventory.partition(_._2.size > maxFilesPerSegment)
    val filesBefore = inventory.map(_._2.size.toLong).sum
    // nothing fragmented → NO generation flip: a periodic maintenance
    // loop must be free to call this every batch without churning
    // link-trees for an already-healthy table
    if (fragmented.isEmpty)
      return (leaves.size.toLong, 0L, filesBefore, filesBefore)
    // A crashed prior attempt may have left a partial gen+1 behind
    // (markCompacted never ran, so the manifest still points at gen):
    // clear it, or the append write below would silently duplicate rows
    // the old per-leaf overwrite used to self-heal.
    if (Files.exists(nextRoot)) GraftCatalog.deleteRecursively(nextRoot)
    healthy.foreach { case (leaf, files) =>
      val dst = nextRoot.resolve(curRoot.relativize(leaf))
      Files.createDirectories(dst)
      files.foreach { f =>
        val t = dst.resolve(f.getFileName)
        try Files.createLink(t, f)
        catch { case _: Throwable => Files.copy(f, t) }
      }
    }
    // Rewrite ALL fragmented segments in ONE Spark job (guide §2.4/§6:
    // one shuffle round instead of a driver-scheduled job per segment —
    // at sf0.1 this was ~30 jobs of ~1 task each; at scale it would be
    // thousands of scheduler round-trips). The leaves are read together
    // with basePath so their dir-encoded partition columns survive, each
    // leaf's rows are salted into ceil(bytes/targetBytes) output parts,
    // and one partitioned write restores the directory layout. Rows are
    // carried verbatim; within each output file the PK sort is the same
    // as the old per-leaf rewrite (sortWithinPartitions by partition
    // cols + PK ≡ PK within a leaf).
    val rewritten = fragmented.size.toLong
    val fragLeafCols = curRoot.relativize(fragmented.head._1).toString
      .split("/").filter(_.nonEmpty).map(_.split("=")(0)).toSeq
    if (fragLeafCols.isEmpty) {
      // unsegmented table: data files sit in the generation root — the
      // one-leaf case, a single read→sort→write job as before
      val (leaf, files) = fragmented.head
      val dst = nextRoot.resolve(curRoot.relativize(leaf))
      Files.createDirectories(dst)
      val bytes = files.map(Files.size).sum
      val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val df = spark.read.parquet(leaf.toString)
        .repartition(parts)
        .sortWithinPartitions(s.primaryKey.map(col): _*)
      bloomOnTags(df.write.mode("overwrite"), s).parquet(dst.toString)
    } else {
      // per-leaf output part counts (file sizing), matched by the leaf's
      // partition-column values; bounded by the fragmented-leaf count
      val leafParts: Seq[(Seq[(String, String)], Int)] = fragmented.map {
        case (leaf, files) =>
          val kvs = curRoot.relativize(leaf).toString.split("/")
            .filter(_.nonEmpty).toSeq
            .map { seg =>
              val Array(k, v) = seg.split("=", 2)
              k -> v
            }
          val bytes = files.map(Files.size).sum
          (kvs, math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt)
      }.toSeq
      // (partition values -> parts) as a BROADCAST-JOINED plan table, not
      // a per-leaf when()-chain: thousands of fragmented leaves at scale
      // would otherwise build a thousand-branch Catalyst CaseWhen —
      // codegen falls back to interpreted past the 64 KB method limit and
      // analysis cost grows with the expression tree. The plan table is
      // one tiny in-memory relation; every scanned row matches exactly
      // one plan row (its own leaf), so the inner join is row-preserving.
      val planSchema = org.apache.spark.sql.types.StructType(
        fragLeafCols.map(k =>
          org.apache.spark.sql.types.StructField(s"__pc_$k", StringType)) :+
          org.apache.spark.sql.types.StructField("__parts", IntegerType))
      val planRows = leafParts.map { case (kvs, p) =>
        Row.fromSeq(kvs.map(_._2) :+ p)
      }
      val plan = spark.createDataFrame(planRows.asJava, planSchema)
      val totalParts = math.max(leafParts.map(_._2.toLong).sum,
        leafParts.size.toLong).min(Int.MaxValue.toLong).toInt
      // deterministic per-row salt (seq/subseq are unique per row of a
      // table): spreads a big leaf over its target part count
      val salt = pmod(
        xxhash64(col(TableSchema.SeqColumn), col(TableSchema.SubSeqColumn)),
        col("__parts").cast("long"))
      val df = spark.read.option("basePath", curRoot.toString)
        .parquet(fragmented.map(_._1.toString).toSeq: _*)
        .join(broadcast(plan),
          fragLeafCols.map(k => col(k).cast("string") === col(s"__pc_$k"))
            .reduce(_ && _))
        .repartition(totalParts,
          fragLeafCols.map(col) :+ salt: _*)
        .drop(planSchema.fieldNames.toSeq: _*)
        .sortWithinPartitions(
          (fragLeafCols ++ s.primaryKey).map(col): _*)
      bloomOnTags(df.write.mode("append"), s)
        .partitionBy(fragLeafCols: _*).parquet(nextRoot.toString)
    }
    // actual file count after the write (walk the new generation):
    // partitioned writes may merge two leaves' salted groups into one
    // task, so the honest count is what landed on disk
    var rewrittenFiles = 0L
    def countData(d: Path): Unit = {
      val (dirs, files) = listDir(d).partition(Files.isDirectory(_))
      dirs.filterNot(_.getFileName.toString.startsWith(".")).foreach(countData)
      rewrittenFiles += files.count(f => Files.isRegularFile(f) && isData(f))
    }
    fragmented.foreach { case (leaf, _) =>
      val dst = nextRoot.resolve(curRoot.relativize(leaf))
      if (Files.isDirectory(dst)) countData(dst)
    }
    val filesAfter = healthy.map(_._2.size.toLong).sum + rewrittenFiles
    catalog.markCompacted(name, gen + 1, floor) // floor UNCHANGED: physical only
    gcSupersededGenerations(name, gen)
    (leaves.size.toLong, rewritten, filesBefore, filesAfter)
  }

  /** Physical row deletion: rewrite the table keeping rows NOT matching
    * `condition` — the same generation-flip rewrite as [[compact]] (so
    * deletes also dedup/TTL-purge as a side effect). Serialize with
    * writes per table, like compaction. */
  def deleteWhere(name: String, condition: org.apache.spark.sql.Column,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    invalidateRollups(name)
    compact(name, nowMs, retain = Some(!coalesce(condition, lit(false))))
  }

  /** Compaction scheduling policy (the reference picks strategies via the
    * `compaction_strategy` table option and schedules on accumulated
    * writes — compaction/mod.rs; we trigger on accumulated ingest batches,
    * the unit the dedup window's cost actually grows with). Compacts when
    * at least `minBatches` batches landed since the last seq floor.
    * Returns true when a compaction ran. Call it from ingest loops
    * (e.g. a streaming foreachBatch) for WAL-style background upkeep. */
  def maybeCompact(
      name: String, minBatches: Long = 16,
      nowMs: Long = System.currentTimeMillis()): Boolean = withTableLock(name) {
    val m = catalog.get(name)
    val (_, floor) = catalog.compactionState(name)
    val pending = catalog.nextSeqOf(name) - floor
    val due = pending >= minBatches &&
      (m.options.updateMode == UpdateMode.Overwrite ||
        (m.options.enableTtl && m.options.ttlMillis.isDefined))
    if (due) compact(name, nowMs)
    due
  }

  /** Physically drop `__segment=k` directories whose whole time window is
    * past the TTL horizon — segment k covers [k·seg, (k+1)·seg), expired
    * when (k+1)·seg <= now - ttl (reference: table/data.rs:744 is_expired).
    * Returns the dropped segment ids. */
  /** One maintenance tick for a steadily-ingesting table — the call a
    * `foreachBatch` sink (or a cron) makes after appends: fold pending
    * batches into the base when enough accumulated ([[maybeCompact]] —
    * dedup/TTL applied, seq floor advanced), otherwise bin-pack any
    * fragmented segments ([[compactSmallFiles]] — purely physical; a
    * no-op when every segment is healthy, so calling this every batch is
    * free). Logical compaction subsumes the physical pass (its rewrite
    * already packs), hence the either/or.
    *
    * Returns (compacted, segmentsRewritten) for the maintenance log. */
  def runMaintenance(
      name: String, minBatches: Long = 16, maxFilesPerSegment: Int = 32,
      targetBytes: Long = 128L << 20,
      nowMs: Long = System.currentTimeMillis()): (Boolean, Long) = {
    val compacted = maybeCompact(name, minBatches, nowMs)
    if (compacted) (true, 0L)
    else {
      val (_, rewritten, _, _) =
        compactSmallFiles(name, maxFilesPerSegment, targetBytes)
      (false, rewritten)
    }
  }

  /** Consistent table snapshot → a portable directory (manifest + the
    * immutable current data generation, hard-linked where possible). See
    * [[GraftCatalog.exportSnapshot]]; serialized against writers. */
  def exportSnapshot(name: String, destDir: String): Unit =
    withTableLock(name) { catalog.exportSnapshot(name, destDir) }

  /** Restore/clone a snapshot directory as table `newName` (this engine's
    * warehouse — also the cross-environment restore path). */
  def importSnapshot(srcDir: String, newName: String): Unit =
    catalog.importSnapshot(srcDir, newName)

  def purgeExpiredSegments(name: String, nowMs: Long = System.currentTimeMillis()): Seq[Long] = withTableLock(name) {
    val s = catalog.get(name)
    (s.options.ttlMillis.filter(_ => s.options.enableTtl), s.options.segmentMillis) match {
      case (Some(ttl), Some(seg)) =>
        val dir = java.nio.file.Paths.get(catalog.dataDir(name))
        if (!java.nio.file.Files.exists(dir)) return Nil
        val horizon = nowMs - ttl
        val stream = java.nio.file.Files.list(dir)
        val segDirs = try {
          stream.iterator().asScala.filter(p =>
            p.getFileName.toString.startsWith(TableSchema.SegmentColumn + "=")).toList
        } finally stream.close()
        segDirs.flatMap { p =>
          val k = p.getFileName.toString.stripPrefix(TableSchema.SegmentColumn + "=").toLong
          if ((k + 1) * seg <= horizon) { GraftCatalog.deleteRecursively(p); Some(k) } else None
        }
      case _ => Nil
    }
  }

  private def coerce(lit: Literal, c: ColumnSpec): Any = {
    import DatumKind._
    lit match {
      case NullLit => null
      case _ => c.kind match {
        case Timestamp => lit match {
          case NumberLit(v) => new java.sql.Timestamp(v.toLong) // epoch millis
          // DEFAULT values arrive as strings: accept epoch-number strings
          // (the dialect allows `DEFAULT 1702224000000`) before date text
          case StringLit(v) if v.matches("-?\\d+") =>
            new java.sql.Timestamp(v.toLong)
          case StringLit(v) => java.sql.Timestamp.valueOf(
            if (v.length == 10) v + " 00:00:00" else v)
          case other => badLit(other, c)
        }
        case Date => lit match {
          case StringLit(v) => java.sql.Date.valueOf(v)
          case NumberLit(v) => new java.sql.Date(v.toLong)
          case other => badLit(other, c)
        }
        case String => lit match {
          case StringLit(v) => v
          case NumberLit(v) => v.toString
          case BoolLit(v)   => v.toString
          case other        => badLit(other, c)
        }
        case Varbinary => lit match {
          case BytesLit(v)  => v
          case StringLit(v) => v.getBytes("UTF-8")
          case other        => badLit(other, c)
        }
        case Boolean => lit match {
          case BoolLit(v)   => v
          case NumberLit(v) => v != 0
          case other        => badLit(other, c)
        }
        case Double => num(lit, c).toDouble
        case Float  => num(lit, c).toFloat
        case UInt64 | Int64 | Time | UInt32 => num(lit, c).toLong
        case Int32 | UInt16 => num(lit, c).toInt
        case Int16 | UInt8  => num(lit, c).toShort
        case Int8 => num(lit, c).toByte
        case Null => null
        case other => throw new IllegalArgumentException(s"cannot insert into $other")
      }
    }
  }
  private def num(lit: Literal, c: ColumnSpec): BigDecimal = lit match {
    case NumberLit(v) => v
    case StringLit(v) => BigDecimal(v)
    case other        => badLit(other, c)
  }
  private def badLit(l: Literal, c: ColumnSpec): Nothing =
    throw new IllegalArgumentException(s"bad literal $l for column ${c.name} (${c.kind})")

  // ---------------- SQL passthrough ----------------

  /** Standard SQL over catalog tables: registers each table as a view and
    * lets Catalyst do the rest. Epoch-integer comparisons against timestamp
    * key columns are rewritten to timestamp literals first, mirroring the
    * reference's TypeConversion analyzer rule
    * (query_frontend/src/logical_optimizer/type_conversion.rs:40-215).
    */
  def runSql(sql: String): DataFrame = {
    // EXPLAIN [VERBOSE|ANALYZE] <query> — reference shape: rows of
    // (plan_type, plan) (explain.result; query_frontend/src/planner.rs
    // lowers to DataFusion's Explain/Analyze). Plan TEXT is engine-specific
    // by nature (ours is Catalyst, theirs DataFusion); the row shape and
    // statement surface are the contract. Handled here because Spark's
    // ExplainCommand holds its target plan as a field, not a child — the
    // validators/rewrites below would never see inside it.
    val explainRe = "(?is)^\\s*EXPLAIN\\s+(VERBOSE\\s+|ANALYZE\\s+)?(.*)$".r
    sql match {
      case explainRe(mod, inner) =>
        return explainRows(Option(mod).map(_.trim.toUpperCase).getOrElse(""), inner)
      case _ =>
    }
    val tables = catalog.list()
    val cleaned = sql.replaceAll("(?i)system\\.public\\.tables", "system_public_tables")
    val plan = spark.sessionState.sqlParser.parsePlan(cleaned)
    // CTE bodies are NOT tree children of UnresolvedWith (collect/transform
    // skip them), so walk the main plan plus every CTE subplan explicitly
    val plans = allPlans(plan)
    // CTE-defined names are NOT catalog references — they shadow tables
    // (Spark resolves them case-insensitively), so exclude them from the
    // validators below
    val cteNames: Set[String] = plans.flatMap(_.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1)
    }.flatten).toSet
    def isCte(n: String): Boolean = cteNames.exists(_.equalsIgnoreCase(n))
    plans.foreach(p => validateNoInternalAccess(p, isCte))
    // scope the epoch-integer rewrite to the timestamp keys of the tables
    // THIS query references — a same-named plain int column in an
    // unrelated table must not trigger it
    val referenced = plans.flatMap(_.collect {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.last
    }).toSet
    // table identifiers resolve CASE-SENSITIVELY like the reference
    // (cases/common/dml/case_sensitive.sql: CASE_SENSITIVE_TABLE1 is "not
    // found" when the table was created as case_SENSITIVE_table1). Spark's
    // view resolution is case-insensitive, so reject the near-miss here;
    // column-level case-insensitivity remains a documented deviation.
    val tableSet = tables.toSet
    referenced.filterNot(_ == "system_public_tables").filterNot(isCte).foreach { n =>
      if (!tableSet.contains(n) && tableSet.exists(_.equalsIgnoreCase(n)))
        throw new IllegalArgumentException(
          s"Table is not found, table:$n (table identifiers are case-sensitive)")
    }
    // COLUMN identifiers also resolve case-sensitively like the reference
    // (case_sensitive.sql: `SELECT VALUE1 ... WHERE value1 > 0` errors
    // when the column was declared value1). Spark's analyzer is
    // case-insensitive — and flipping spark.sql.caseSensitive would change
    // semantics for every non-engine query — so enforce narrowly here:
    // an unresolved attribute that case-insensitively matches a declared
    // column of a referenced ENGINE table must match it exactly.
    // Query-defined aliases are exempt (a case-sensitive resolver would
    // bind them first); Spark views never pass through this path.
    val declaredCols: Set[String] = tables.filter(referenced.contains)
      .flatMap(n => catalog.get(n).columns.map(_.name)).toSet
    val declByLower = declaredCols.groupBy(_.toLowerCase)
    val aliasNames: Set[String] = plans.flatMap(_.flatMap(node =>
      node.expressions.flatMap(_.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias => al.name
      }))).toSet
    plans.foreach(_.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: UnresolvedAttribute =>
          val n = a.nameParts.last
          if (!declaredCols.contains(n) && !aliasNames.contains(n))
            declByLower.get(n.toLowerCase).foreach { decl =>
              throw new IllegalArgumentException(
                s"Column is not found, column:$n (column identifiers are " +
                  s"case-sensitive; declared: ${decl.mkString(", ")})")
            }
        case _ =>
      })
    })
    // register only the tables THIS query references — re-registering the
    // whole catalog per statement is O(catalog) driver work (and resolves
    // each table's read plan needlessly)
    tables.filter(referenced.contains)
      .foreach(n => read(n).createOrReplaceTempView(n))
    if (referenced.contains("system_public_tables"))
      // the reference's system table system.public.tables
      // (system_catalog/src/tables.rs)
      systemTables().createOrReplaceTempView("system_public_tables")
    val tsColumns: Set[String] = tables.filter(referenced.contains)
      .map(n => catalog.get(n).timestampKey).toSet
    // read block list + query rules on the parsed plans (proxy-layer
    // try_limit twin — every SQL-serving protocol funnels through here).
    // CTE names shadow tables like in every validator above: a CTE named
    // after a blocked table never touches the engine table (and is
    // excluded from the QueryRange scan map below for the same reason).
    val engineTables = referenced.filterNot(isCte).intersect(tableSet)
    limiter.checkQuery(engineTables,
      engineTables.iterator.map(n => n -> catalog.get(n).timestampKey).toMap,
      plans)
    GraftBridge.ofRows(spark, EpochMillisRewrite(plan, tsColumns))
  }

  /** The main plan plus every CTE subplan, recursively — `cteRelations`
    * are held as a field of UnresolvedWith, not as tree children, so plain
    * collect/transform never visit them. */
  private def allPlans(plan: LogicalPlan): Seq[LogicalPlan] =
    plan +: plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.flatMap(c => allPlans(c._2))
    }.flatten

  /** Statement validator (reference: interpreters/src/validator.rs:41-47 —
    * direct reads/writes of a partitioned table's physical sub-tables are
    * rejected). The storage internals here are the `__seq`/`__subseq`/
    * `__segment`/`__bucket` columns and any `__`-prefixed relation; user
    * SQL must never address them — the dedup window, TTL filter, and
    * bucket pruning all assume the engine owns those columns.
    */
  private def validateNoInternalAccess(
      plan: LogicalPlan, isCte: String => Boolean = _ => false): Unit = {
    val internalCols = Set(TableSchema.SeqColumn, TableSchema.SubSeqColumn,
      TableSchema.SegmentColumn, TableSchema.BucketColumn)
    plan.foreach { node =>
      node match {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if r.multipartIdentifier.last.startsWith("__") &&
               !isCte(r.multipartIdentifier.last) =>
          throw new IllegalArgumentException(
            s"cannot access internal table '${r.multipartIdentifier.last}'")
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case a: UnresolvedAttribute if internalCols.contains(a.nameParts.last) =>
          throw new IllegalArgumentException(
            s"cannot access internal storage column '${a.nameParts.last}'")
        case _ =>
      })
    }
  }

  /** EXPLAIN output in the reference's (plan_type, plan) row shape
    * (explain.result). VERBOSE adds the pre-optimization plan (DataFusion's
    * verbose mode lists every rewrite pass; we surface the analyzer output
    * as the initial plan). ANALYZE executes the query and reports the
    * final (AQE-resolved) physical plan with runtime metrics.
    */
  private def explainRows(mode: String, innerSql: String): DataFrame = {
    val df = runSql(innerSql)
    val qe = df.queryExecution
    val rows = mode match {
      case "ANALYZE" =>
        df.collect() // populate SQL metrics and finalize adaptive plans
        // AQE hides the final plan and per-stage plans behind non-child
        // fields — walk them explicitly so their metrics are reported
        def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a +: allNodes(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            q +: allNodes(q.plan)
          case other => other +: other.children.flatMap(allNodes)
        }
        val metrics = allNodes(qe.executedPlan).map { n =>
          val ms = n.metrics.toSeq.sortBy(_._1)
            .map { case (k, m) => s"${m.name.getOrElse(k)}=${m.value}" }
          s"${n.nodeName}: metrics=[${ms.mkString(", ")}]"
        }
        Seq(Row("plan_with_metrics",
          qe.executedPlan.treeString.trim + "\n" + metrics.mkString("\n")))
      case "VERBOSE" =>
        Seq(
          Row("initial_logical_plan", qe.analyzed.treeString.trim),
          Row("logical_plan", qe.optimizedPlan.treeString.trim),
          Row("physical_plan", qe.executedPlan.treeString.trim))
      case _ =>
        Seq(
          Row("logical_plan", qe.optimizedPlan.treeString.trim),
          Row("physical_plan", qe.executedPlan.treeString.trim))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("plan_type", StringType), StructField("plan", StringType))))
  }

  def systemTables(): DataFrame = {
    val rows = catalog.list().map { n =>
      Row("horaedb", catalog.databaseName, n, java.lang.Long.valueOf(0L), "Analytic")
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("catalog", StringType), StructField("schema", StringType),
      StructField("table_name", StringType), StructField("table_id", LongType),
      StructField("engine", StringType))))
  }

  // ---------------- metadata result shapes ----------------

  private def affectedRows(n: Long): DataFrame =
    spark.createDataFrame(Seq(Row(n)).asJava,
      StructType(Seq(StructField("affected_rows", LongType))))

  private def singleCol(name: String, vals: Seq[String]): DataFrame =
    spark.createDataFrame(vals.map(Row(_)).asJava,
      StructType(Seq(StructField(name, StringType))))

  private def showTables(like: Option[String]): DataFrame = {
    val names = catalog.list()
    val filtered = like match {
      case Some(pat) =>
        val rx = ("(?i)^" + java.util.regex.Pattern.quote(pat)
          .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r
        names.filter(n => rx.findFirstIn(n).isDefined)
      case None => names
    }
    singleCol("Tables", filtered)
  }

  /** Reference DESCRIBE shape (create_tables.result): canonical column
    * order with the generated tsid listed, canonical type names, header
    * `name,type,is_primary,is_nullable,is_tag,is_dictionary`. */
  private def describe(name: String): DataFrame = {
    val s = catalog.get(name)
    val pk = s.primaryKey.toSet
    val rows = s.canonicalColumns.map { c =>
      Row(c.name, DatumKind.sqlName(c.kind), pk.contains(c.name),
        c.isNullable, c.isTag, c.isDictionary)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("name", StringType), StructField("type", StringType),
      StructField("is_primary", BooleanType), StructField("is_nullable", BooleanType),
      StructField("is_tag", BooleanType), StructField("is_dictionary", BooleanType))))
  }
}

/** Rewrites `ts_col <cmp> <integer>` to `ts_col <cmp> timestamp_millis(n)`
  * on the *unresolved* plan, for the timestamp key columns of registered
  * tables. The reference does the same conversion in its TypeConversion
  * analyzer so that time-range extraction sees typed literals
  * (type_conversion.rs:48-52). Under Spark's ANSI mode the unconverted
  * comparison would be an analysis error, so this rule is load-bearing.
  */
object EpochMillisRewrite {
  def apply(plan: LogicalPlan, tsColumns: Set[String]): LogicalPlan = {
    // CTE bodies are a field, not children — rewrite them explicitly first
    val withCtes = plan.transform {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, sub, m) =>
          (n, apply(sub, tsColumns)
            .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias], m)
        })
    }
    def isTsAttr(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute => tsColumns.contains(a.nameParts.last)
      case _ => false
    }
    def toTsLiteral(l: CLiteral): CLiteral = l.value match {
      case v: Long => CLiteral(v * 1000L, TimestampType)
      case v: Int  => CLiteral(v.toLong * 1000L, TimestampType)
      case _       => l
    }
    def isIntegral(l: CLiteral): Boolean =
      l.dataType == LongType || l.dataType == IntegerType
    withCtes.transformAllExpressions {
      case cmp: BinaryComparison if isTsAttr(cmp.left) &&
          cmp.right.isInstanceOf[CLiteral] &&
          isIntegral(cmp.right.asInstanceOf[CLiteral]) =>
        cmp.withNewChildren(Seq(cmp.left, toTsLiteral(cmp.right.asInstanceOf[CLiteral])))
      case cmp: BinaryComparison if isTsAttr(cmp.right) &&
          cmp.left.isInstanceOf[CLiteral] &&
          isIntegral(cmp.left.asInstanceOf[CLiteral]) =>
        cmp.withNewChildren(Seq(toTsLiteral(cmp.left.asInstanceOf[CLiteral]), cmp.right))
      case In(a, list) if isTsAttr(a) && list.forall {
            case l: CLiteral => isIntegral(l); case _ => false } =>
        In(a, list.map(l => toTsLiteral(l.asInstanceOf[CLiteral])))
      case Between(v, lo: CLiteral, hi: CLiteral, _)
          if isTsAttr(v) && isIntegral(lo) && isIntegral(hi) =>
        Between(v, toTsLiteral(lo), toTsLiteral(hi))
      // BETWEEN arrives from the parser as an unresolved function call
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("between") &&
             f.arguments.length == 3 && isTsAttr(f.arguments.head) &&
             f.arguments.tail.forall {
               case l: CLiteral => isIntegral(l); case _ => false } =>
        f.copy(arguments = f.arguments.head +:
          f.arguments.tail.map(l => toTsLiteral(l.asInstanceOf[CLiteral])))
    }
  }
}
