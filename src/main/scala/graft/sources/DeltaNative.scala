package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, element_at, regexp_replace}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType, StructField, StructType, TimestampType}

/** Minimal native Delta Lake reader — no connector jar required.
  *
  * The reference reads Delta through DuckDB's delta extension
  * (src/fdw/delta.rs:1-149, src/duckdb/delta.rs:41-61: `delta_scan(path)` of
  * the table root, latest snapshot, no options). The equivalent here is
  * built from the PUBLIC Delta transaction-log protocol
  * (delta.io PROTOCOL.md): a Delta table is parquet data files plus a
  * `_delta_log/` of ordered JSON commits (one action per line: `protocol`,
  * `metaData`, `add`, `remove`) with periodic parquet checkpoints named by
  * `_last_checkpoint`. The snapshot (checkpoint, then later commits,
  * reconciled on (path, DV id)) comes from [[DeltaLog.snapshot]], the one
  * log replay the writers share.
  *
  * Spark-first split of labor: log resolution is bounded METADATA work
  * (exactly what delta-kernel does on the driver — checkpoints keep the
  * replayed tail short at any table size), while all DATA stays in a
  * distributed scan over the resolved live files.
  * `schemaString` is Spark schema JSON verbatim (Delta's own format), so
  * types round-trip exactly.
  *
  * Supported: reader protocol v1 (plain parquet files), v2 column mapping
  * (mode = name/id: physical-name indirection from the same PROTOCOL.md —
  * data files carry physical names, the reader maps them back to logical),
  * v3 when its readerFeatures need nothing beyond columnMapping/
  * timestampNtz/deletionVectors/v2Checkpoint, DELETION VECTORS (inline,
  * relative-uuid and absolute-path storage — decoded in executors and
  * anti-joined away on `(_metadata.file_path, _metadata.row_index)`, see
  * DeletionVectors), multi-commit replay, single + multi-part + V2
  * (UUID-named manifest + `_sidecars/` files, json or parquet) checkpoints,
  * partitioned tables (hive-style layouts read with basePath + explicit
  * schema; non-hive layouts attach partition values from the log through a
  * broadcast file-path lookup — ONE scan, plan size O(1) in partition
  * count). NOT supported — rejected loudly, never silently misread: any
  * other reader feature outside that set.
  */
object DeltaNative {

  final case class DeltaReadException(msg: String) extends IllegalArgumentException(msg)

  private val mapper = new ObjectMapper()

  private[sources] val PhysNameKey = "delta.columnMapping.physicalName"
  private val SupportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "deletionVectors", "v2Checkpoint")

  /** Table-history introspection (`delta_history('<root>')`): one row per
    * commit JSON in the log — version, resolved timestamp
    * ([[DeltaLog.commitTimestamp]], the time-travel order), operation +
    * parameters from commitInfo, and action counts. Bounded driver
    * metadata work, O(commits); the frame is history-sized. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(DeltaLog.logDir(rootPath)))
      throw DeltaReadException(s"`$root` is not a Delta table: no _delta_log directory")
    val commits = DeltaLog.commits(fs, rootPath)
    if (commits.isEmpty) throw DeltaReadException(
      s"`$root`: _delta_log holds no commit JSON files (checkpoint-only logs " +
        "carry no per-commit history)")
    val rows = commits.toSeq.map { case (v, st) =>
      val nodes = DeltaLog.actions(fs, st)
      val ci = nodes.collectFirst { case n if n.has("commitInfo") => n.path("commitInfo") }
      Row(v,
        new java.sql.Timestamp(DeltaLog.commitTimestamp(nodes, st)),
        ci.filter(_.has("operation")).map(_.path("operation").asText()).orNull,
        ci.filter(_.has("operationParameters"))
          .map(_.path("operationParameters").toString).orNull,
        nodes.count(_.has("add")).toLong,
        nodes.count(_.has("remove")).toLong,
        nodes.count(_.has("cdc")).toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType),
      StructField("operation_parameters", StringType),
      StructField("num_added_files", LongType, nullable = false),
      StructField("num_removed_files", LongType, nullable = false),
      StructField("num_cdc_files", LongType, nullable = false))))
  }

  def read(spark: SparkSession, root: String, options: Map[String, String]): DataFrame = {
    // CHANGE DATA FEED dispatch: `read_change_feed=true` switches from
    // snapshot semantics to the row-level change history (DeltaChanges)
    if (options.get("read_change_feed").exists(_.toBoolean))
      return DeltaChanges.read(spark, root, options)
    Seq("starting_version", "ending_version").foreach { o =>
      if (options.contains(o)) throw DeltaReadException(
        s"$o applies to change-feed reads only; pass read_change_feed=true")
    }
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(DeltaLog.logDir(rootPath)))
      throw DeltaReadException(s"`$root` is not a Delta table: no _delta_log directory")

    // TIME TRAVEL: `version_as_of` pins the snapshot at that commit version;
    // `timestamp_as_of` at the last commit at or before an instant — both
    // resolved by DeltaLog.snapshot
    def versionOpt(o: String): Option[Long] = options.get(o).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw DeltaReadException(s"$o `$v` is not a number")
      }
      if (n < 0) throw DeltaReadException(s"$o $n is negative")
      n
    }
    val versionPin = versionOpt("version_as_of")
    val tsPin: Option[Long] = options.get("timestamp_as_of").map { v =>
      try TimeTravel.parseMillis("timestamp_as_of", v)
      catch { case e: IllegalArgumentException => throw DeltaReadException(e.getMessage) }
    }
    if (versionPin.isDefined && tsPin.isDefined) throw DeltaReadException(
      "version_as_of and timestamp_as_of are mutually exclusive; pass one")
    // INCREMENTAL READ: `changes_since = N` keeps only rows from files
    // committed AFTER version N that are still live at the read's end
    // version (current, or the time-travel pin) — the add-file diff an
    // incremental ingestion pipeline polls for. Granularity is the log's
    // own dataChange unit (whole files): an update/merge surfaces as its
    // rewritten files, not row-level CDC.
    val changesSince = versionOpt("changes_since")

    // --- resolve the snapshot from the log (driver-side metadata work) ---
    val snap = DeltaLog.snapshot(spark, rootPath, versionPin, tsPin)
    if (!snap.exists)
      throw DeltaReadException(s"`$root`: _delta_log holds no checkpoint and no commits")
    changesSince.foreach { since =>
      // a checkpoint folds per-file add versions away: every folded file
      // reports the checkpoint version. A `since` BELOW the checkpoint
      // would silently misreport folded files as fresh changes — reject.
      snap.checkpointVersion.foreach { cpV =>
        if (since < cpV) throw DeltaReadException(
          s"`$root`: changes_since $since predates checkpoint $cpV, which no " +
            "longer records per-file add versions; pass changes_since >= " +
            s"$cpV or keep the commit JSON history")
      }
      if (since > snap.version) throw DeltaReadException(
        s"`$root`: changes_since $since is beyond the read's end version " +
          s"${snap.version} (nothing has been committed after it)")
    }
    val schema = DataType.fromJson(snap.schemaJson.getOrElse(
      throw DeltaReadException(s"`$root`: no metaData action found in the Delta log")))
      .asInstanceOf[StructType]
    val partCols = snap.partCols
    val tableConf = snap.conf

    // --- protocol gate (now that configuration + features are known) ---
    val readerVersion = snap.protocol.map(_.minReader).getOrElse(1)
    val readerFeatures = snap.protocol.map(_.readerFeatures).getOrElse(Set.empty)
    val cmMode = tableConf.getOrElse("delta.columnMapping.mode", "none")
    if (readerVersion == 2 && cmMode != "none" && cmMode != "name" && cmMode != "id")
      throw DeltaReadException(
        s"`$root`: unknown column mapping mode `$cmMode`; this native reader " +
          "implements modes name/id from the public protocol")
    if (readerVersion > 3) throw DeltaReadException(
      s"`$root`: Delta reader protocol version $readerVersion is newer than this " +
        "native reader understands; install a delta connector jar for this table")
    if (readerVersion == 3) {
      if (readerFeatures.isEmpty) throw DeltaReadException(
        s"`$root`: Delta reader protocol version 3 lists no readerFeatures — " +
          "malformed log; refusing to guess what the table needs")
      val unsupported = readerFeatures -- SupportedReaderFeatures
      if (unsupported.nonEmpty) throw DeltaReadException(
        s"`$root`: Delta reader protocol version 3 features " +
          unsupported.toSeq.sorted.mkString(", ") +
          " are not implemented by this native reader; " +
          "install a delta connector jar for this table")
    }

    val live: Seq[(String, DeltaLog.AddFile)] = changesSince match {
      case Some(since) => snap.live.toSeq.filter(_._2.addVersion > since)
      case None => snap.live.toSeq
    }

    // --- column mapping (PROTOCOL.md Column Mapping): data files carry
    // PHYSICAL column names; the logical schema's field metadata holds the
    // mapping. Read with the physical schema, then rename back — top level
    // by alias, nested levels by position-cast (Cast on structs matches by
    // position and rewrites names). Pure metadata, zero data movement.
    val mappingActive = cmMode != "none" &&
      schema.fields.exists(_.metadata.contains(PhysNameKey))
    def physName(f: StructField): String =
      if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name
    def toPhysical(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(name = physName(f), dataType = toPhysical(f.dataType))))
      case a: ArrayType => a.copy(elementType = toPhysical(a.elementType))
      case m: MapType => m.copy(keyType = toPhysical(m.keyType), valueType = toPhysical(m.valueType))
      case other => other
    }
    val physSchema = if (mappingActive) toPhysical(schema).asInstanceOf[StructType] else schema
    val physByLogical: Map[String, String] =
      schema.fields.map(f => f.name -> physName(f)).toMap
    // partitionColumns are logical names; add.partitionValues (and hive dir
    // names) are keyed by PHYSICAL names when mapping is active
    val physPartCols = partCols.map(c => physByLogical.getOrElse(c, c))
    def unmapped(df: DataFrame): DataFrame =
      if (!mappingActive) df
      else df.select(schema.fields.map { f =>
        col(physName(f)).cast(f.dataType).as(f.name)
      }.toSeq: _*)

    def resolve(p: String): String = {
      val decoded = java.net.URLDecoder.decode(p, "UTF-8")
      val dp = new Path(decoded)
      (if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }

    // deletion vectors on live files: decoded in executors, removed via a
    // positional anti-join on the direct scan (before any rename/join makes
    // `_metadata` unaddressable)
    val dvs: Seq[(String, DeletionVectors.Descriptor)] =
      live.collect { case (p, e) if e.dv.isDefined => (resolve(p), e.dv.get) }
    def withoutDeleted(df: DataFrame): DataFrame =
      DeletionVectors.applyTo(spark, df, dvs, rootPath)

    // ROW TRACKING read (`row_tracking=true`): append `_row_id` and
    // `_row_commit_version` columns per PROTOCOL.md Row Tracking — each
    // row's id is its file's materialized value when present (rows that
    // have moved through a rewrite) else baseRowId + row position; the
    // commit version defaults to the add's defaultRowCommitVersion. The
    // per-file (base, default) pairs broadcast-join against the scan, so
    // the cost is one codegen'd projection + a tiny hash join — no extra
    // pass, no driver data.
    val withRowIds = options.get("row_tracking").exists(_.toBoolean)
    val matIdName = tableConf.get("delta.rowTracking.materializedRowIdColumnName")
    val matVerName = tableConf.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    if (withRowIds) {
      if (!tableConf.get("delta.enableRowTracking").exists(_.toBoolean))
        throw DeltaReadException(
          s"`$root`: row_tracking=true but the table does not set " +
            "delta.enableRowTracking — row ids are not stable (or present) " +
            "on this table")
      live.collectFirst { case (p, e) if e.baseRowId.isEmpty => p }.foreach { p =>
        throw DeltaReadException(
          s"`$root`: row_tracking=true but live file `$p` carries no " +
            "baseRowId — a non-row-tracking writer touched this table; " +
            "row ids cannot be served")
      }
    }
    def rowIdSchema(base: StructType): StructType = StructType(base.fields ++ Seq(
      StructField("_row_id", LongType, nullable = true),
      StructField("_row_commit_version", LongType, nullable = true)))

    // --- distributed data read over the resolved live files ---
    // The scan goes through a log-backed FileIndex (LogFileIndex): partition
    // values come FROM THE LOG as typed partition columns (hive and non-hive
    // layouts identically — Catalyst partition-prunes both), per-file
    // `add.stats` min/max/nullCount prune files at PLAN time against the
    // pushed data filters (the delta-kernel skipping design), and
    // sizeInBytes is the log's true byte count (honest broadcast decisions).
    if (live.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (withRowIds) rowIdSchema(schema) else schema)
    else {
      val physDataSchema0 =
        StructType(physSchema.fields.filterNot(f => physPartCols.contains(f.name)))
      // the materialized row-id columns are physical-only (never in the
      // table schema); files that predate any rewrite simply lack them and
      // read as null — exactly the rows whose default arithmetic applies
      val physDataSchema =
        if (!withRowIds) physDataSchema0
        else StructType(physDataSchema0.fields ++
          (matIdName.toSeq ++ matVerName.toSeq).distinct
            .map(n => StructField(n, LongType, nullable = true)))
      val partSchemaPhys = StructType(physPartCols.map { c =>
        physSchema(physSchema.fieldIndex(c)).copy(nullable = true)
      })
      val entries = live.map { case (p, e) =>
        val resolved = resolve(p)
        new LogFileIndex.IndexedFile(
          resolved,
          // the protocol requires add.size accurate and split planning
          // trusts it (as delta-kernel does); a size no parquet file can
          // have (< the 12-byte magic+footer minimum) marks a malformed
          // log entry and falls back to one driver stat for that file
          if (e.size >= 12) e.size
          else new Path(resolved).getFileSystem(spark.sessionState.newHadoopConf())
            .getFileStatus(new Path(resolved)).getLen,
          e.modificationTime,
          e.partitionValues,
          () => e.stats.flatMap(LogFileIndex.parseDeltaStats(_, physDataSchema, mapper)))
      }
      // rowsExact: with no deletion vectors, the scan returns exactly the
      // rows the log's add.stats describe → metadata-only aggregates apply
      val index = new LogFileIndex(spark, rootPath, entries, partSchemaPhys,
        rowsExact = dvs.isEmpty)
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partSchemaPhys, physDataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      val scan = spark.baseRelationToDataFrame(relation)
      // DV anti-join FIRST (it addresses _metadata, gone after any select),
      // then restore the declared column order (the relation appends
      // partition columns last), then the logical rename
      if (!withRowIds)
        unmapped(withoutDeleted(scan).select(physSchema.fieldNames.map(col).toSeq: _*))
      else {
        val infoSchema = StructType(Seq(
          StructField("__rt_key", StringType, nullable = false),
          StructField("__rt_base", LongType, nullable = true),
          StructField("__rt_def", LongType, nullable = true)))
        val infoRows = live.map { case (p, e) =>
          org.apache.spark.sql.Row(PathKeys.key(resolve(p)),
            e.baseRowId.map(Long.box).orNull,
            e.defaultRowCommitVersion.map(Long.box).orNull)
        }
        val infoDf = spark.createDataFrame(
          spark.sparkContext.parallelize(infoRows, 1), infoSchema)
        // _metadata must be addressed BEFORE any join makes it unreachable;
        // row_index is the PHYSICAL position, so DV-surviving rows keep
        // their original ids (positions never renumber under a DV)
        val base = scan
          .withColumn("__rt_key", PathKeys.keyCol(col("_metadata.file_path")))
          .withColumn("__rt_idx", col("_metadata.row_index"))
        val joined = withoutDeleted(base)
          .join(broadcast(infoDf), Seq("__rt_key"), "left")
          .withColumn("_row_id",
            coalesce(matIdName.map(col).toSeq :+ (col("__rt_base") + col("__rt_idx")): _*))
          .withColumn("_row_commit_version",
            coalesce(matVerName.map(col).toSeq :+ col("__rt_def"): _*))
        val rtCols = Seq(col("_row_id"), col("_row_commit_version"))
        val sel = joined.select(physSchema.fieldNames.map(col).toSeq ++ rtCols: _*)
        if (!mappingActive) sel
        else sel.select(schema.fields.map { f =>
          col(physName(f)).cast(f.dataType).as(f.name)
        }.toSeq ++ rtCols: _*)
      }
    }
  }
}
