package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.types._

/** Native Delta CHANGE DATA FEED reader — row-level change history with no
  * delta-spark jar, straight from the public protocol (delta.io PROTOCOL.md
  * "Add CDC File"; reference surface is latest-snapshot-only,
  * /root/reference/src/duckdb/delta.rs:41-61 — CDF exceeds it).
  *
  * Semantics per the protocol's CDF reader rules:
  *   - a commit that carries `cdc` actions: its change rows are EXACTLY the
  *     union of the referenced change files (each row already carries
  *     `_change_type` — insert / delete / update_preimage /
  *     update_postimage); the commit's add/remove actions are data
  *     reconciliation only and contribute NO feed rows;
  *   - a commit with no `cdc` actions: every `add` with dataChange=true
  *     emits its rows as `insert`, every `remove` with dataChange=true
  *     emits the removed file's rows as `delete` (whole-file granularity is
  *     exact here — with CDF enabled, writers must emit cdc actions for any
  *     finer-grained change, so a bare dataChange add/remove IS whole-file);
  *   - every change row is stamped `_commit_version` (the commit that made
  *     it) and `_commit_timestamp` (inCommitTimestamp > commitInfo.timestamp
  *     > log-file modification time — the time-travel resolution order).
  *
  * Scale shape: the replay is driver metadata work proportional to the log
  * (the same O(commits + files) every Delta reader pays). The data path is
  * THREE distributed parquet scans (change files, inserted files, removed
  * files), each through a LogFileIndex whose partition schema carries the
  * table's partition columns PLUS a synthetic `_commit_version` column —
  * so `WHERE _commit_version = N` partition-prunes to one commit's files at
  * PLAN time, and table-partition predicates prune inside each commit. The
  * per-version timestamp lands via a broadcast join against a
  * versions-sized (tiny, driver-bounded) frame — no shuffle anywhere.
  */
object DeltaChanges {
  import DeltaNative.DeltaReadException

  private val mapper = new ObjectMapper()

  private val ChangeType = "_change_type"
  private val CommitVersion = "_commit_version"
  private val CommitTimestamp = "_commit_timestamp"
  private val RowId = "_row_id"
  private val RowVer = "_row_commit_version"

  /** One feed contribution: a readable parquet file + the commit that makes
    * it a change. `kind` None = a cdc file (carries its own _change_type
    * column); Some(t) = a synthesized whole-file change of type t.
    * `baseRowId`/`defVer` carry the file's row-tracking fields for
    * synthesized kinds (the add's own fields for an insert; the removed
    * file's original fields for a delete). */
  private final case class ChangeFile(path: String, size: Long,
      partitionValues: Map[String, String], version: Long,
      kind: Option[String], stats: Option[String],
      baseRowId: Option[Long] = None, defVer: Option[Long] = None)

  def read(spark: SparkSession, root: String, options: Map[String, String]): DataFrame = {
    Seq("version_as_of", "timestamp_as_of", "changes_since").foreach { o =>
      if (options.contains(o)) throw DeltaReadException(
        s"read_change_feed and $o are mutually exclusive: the feed is a row " +
          "history over a version range, not a snapshot")
    }
    // ROW-IDENTITY CORRELATION (`row_tracking=true`): every change row
    // additionally carries `_row_id` + `_row_commit_version`, so an
    // UPDATE's preimage/postimage pair shares the SAME stable id and a CDC
    // consumer can correlate the pair without a key column — the mirror of
    // the Iceberg changelog's `row_lineage=true`. Ids come from the same
    // materialized-else-base+position arithmetic the snapshot reader uses;
    // cdc files carry them MATERIALIZED (this engine's DML writer
    // materializes ids into its change files — see DeltaSink cdc paths).
    val rtOn = options.get("row_tracking").exists(_.toBoolean)
    val start = options.get("starting_version").map(parseVersion("starting_version", _))
      .getOrElse(throw DeltaReadException(
        "read_change_feed requires starting_version (the first commit whose " +
          "changes to include)"))
    val endOpt = options.get("ending_version").map(parseVersion("ending_version", _))
    endOpt.foreach { e =>
      if (e < start) throw DeltaReadException(
        s"ending_version $e is below starting_version $start")
    }

    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(DeltaLog.logDir(rootPath)))
      throw DeltaReadException(s"`$root` is not a Delta table: no _delta_log directory")

    val commitStatuses = DeltaLog.commits(fs, rootPath)
    if (commitStatuses.isEmpty) throw DeltaReadException(
      s"`$root`: change-feed reads need the commit JSON history; _delta_log " +
        "holds no commit files")
    val latest = commitStatuses.last._1
    if (start > latest) throw DeltaReadException(
      s"`$root`: starting_version $start is beyond the latest commit $latest")
    val end = endOpt.getOrElse(latest)
    if (end > latest) throw DeltaReadException(
      s"`$root`: ending_version $end is beyond the latest commit $latest")
    val have = commitStatuses.keySet
    // change attribution needs the per-commit JSON: a checkpoint folds
    // versions away and cannot say WHICH commit added a file. The state
    // replay below also walks from 0 so a remove can recover the removed
    // file's partition values/size — so the whole [0, end] range must be
    // present (vacuumed history cannot be attributed; reject, never guess).
    (0L to end).find(!have.contains(_)).foreach { missing =>
      throw DeltaReadException(
        s"`$root`: change-feed replay needs commit $missing, which is not in " +
          "_delta_log (vacuumed?) — changes in [$start, $end] can no longer " +
          "be attributed to commits")
    }

    // ---- driver replay: state for remove-lookback + per-commit changes ----
    var meta: Option[DeltaLog.Metadata] = None
    def tableConf: Map[String, String] = meta.map(_.configuration).getOrElse(Map.empty)
    // live files keyed by path (CDF rejects DV-bearing commits in range, and
    // out-of-range DV churn never contributes feed rows, so the plain path
    // key — not (path, dvId) — is sufficient for the lookback state)
    val state = scala.collection.mutable.LinkedHashMap[String, DeltaLog.AddFile]()
    val changes = Seq.newBuilder[ChangeFile]
    val versionTs = Seq.newBuilder[(Long, Long)]

    def requireBase(b: Option[Long], v: Long, p: String): Option[Long] = {
      if (rtOn && b.isEmpty) throw DeltaReadException(
        s"`$root`: row_tracking=true but file `$p` (commit $v) carries no " +
          "baseRowId — a non-row-tracking writer touched this table; " +
          "row ids cannot be served")
      b
    }

    commitStatuses.rangeTo(end).foreach { case (v, st) =>
      val nodes = DeltaLog.actions(fs, st)
      val inRange = v >= start

      nodes.foreach { n =>
        if (n.has("metaData")) meta = Some(DeltaLog.metadata(n.path("metaData")))
      }
      if (inRange && !tableConf.get("delta.enableChangeDataFeed").exists(_.toBoolean))
        throw DeltaReadException(
          s"`$root`: commit $v is inside the requested change range but the " +
            "table does not have delta.enableChangeDataFeed=true at that " +
            "version — the log does not carry a faithful change feed there")
      if (rtOn && !tableConf.get("delta.enableRowTracking").exists(_.toBoolean))
        throw DeltaReadException(
          s"`$root`: row_tracking=true but the table does not set " +
            s"delta.enableRowTracking at commit $v — row ids are not stable " +
            "(or present) on this table")

      val cdcNodes = nodes.filter(_.has("cdc"))
      if (inRange) {
        versionTs += ((v, DeltaLog.commitTimestamp(nodes, st)))
        if (cdcNodes.nonEmpty) {
          cdcNodes.foreach { n =>
            val c = DeltaLog.addFile(n.path("cdc"), v)
            changes += ChangeFile(c.path, c.size, c.partitionValues, v, None, None)
          }
        } else nodes.foreach { n =>
          if (n.has("add") && n.path("add").path("dataChange").asBoolean(false)) {
            val a = DeltaLog.addFile(n.path("add"), v)
            if (a.hasDv) throw DeltaReadException(
              s"`$root`: commit $v changes rows through a deletion vector but " +
                "carries no cdc action — the row-level change cannot be " +
                "reconstructed from add/remove alone; this log's writer did " +
                "not honor the CDF write protocol")
            changes += ChangeFile(a.path, a.size, a.partitionValues, v, Some("insert"),
              a.stats, requireBase(a.baseRowId, v, a.path), a.defaultRowCommitVersion)
          }
          if (n.has("remove") && n.path("remove").path("dataChange").asBoolean(false)) {
            val rm = DeltaLog.addFile(n.path("remove"), v)
            val p = rm.path
            if (rm.hasDv) throw DeltaReadException(
              s"`$root`: commit $v removes a deletion-vector-bearing file with " +
                "dataChange=true and no cdc action — its live row set cannot " +
                "be reconstructed as a whole-file delete")
            val prior = state.getOrElse(p, throw DeltaReadException(
              s"`$root`: commit $v removes `$p` with dataChange=true, but no " +
                "earlier commit added it — the deleted rows cannot be read"))
            if (prior.hasDv) throw DeltaReadException(
              s"`$root`: commit $v whole-file-deletes `$p`, which carries a " +
                "deletion vector — emitting all its rows as deletes would " +
                "resurrect already-deleted positions; no cdc action present")
            changes += ChangeFile(p, prior.size,
              if (n.path("remove").has("partitionValues")) rm.partitionValues
              else prior.partitionValues,
              v, Some("delete"), prior.stats,
              requireBase(prior.baseRowId, v, p), prior.defaultRowCommitVersion)
          }
        }
      }
      // state transition runs for EVERY commit ≤ end, in-range or not
      nodes.foreach { n =>
        if (n.has("add")) {
          val a = DeltaLog.addFile(n.path("add"), v)
          state(a.path) = a
        }
        if (n.has("remove")) state.remove(n.path("remove").path("path").asText())
      }
    }

    val schema = DataType.fromJson(meta.map(_.schemaString).getOrElse(
      throw DeltaReadException(s"`$root`: no metaData action found in the Delta log")))
      .asInstanceOf[StructType]
    (Seq(ChangeType, CommitVersion, CommitTimestamp) ++
      (if (rtOn) Seq(RowId, RowVer) else Nil)).foreach { reserved =>
      if (schema.fieldNames.exists(_.equalsIgnoreCase(reserved)))
        throw DeltaReadException(
          s"`$root`: table column `$reserved` collides with a change-feed " +
            "metadata column")
    }
    // the materialized column names (cdc files and moved rows carry ids
    // under them) — this engine's creation path always sets both
    val rtMatNames: Option[(String, String)] =
      if (!rtOn) None
      else Some((
        tableConf.getOrElse("delta.rowTracking.materializedRowIdColumnName",
          throw DeltaReadException(
            s"`$root`: delta.enableRowTracking is set but the table " +
              "configuration lacks the materialized row-id column name — " +
              "change rows cannot be correlated; use a delta connector jar")),
        tableConf.getOrElse(
          "delta.rowTracking.materializedRowCommitVersionColumnName",
          throw DeltaReadException(
            s"`$root`: delta.enableRowTracking is set but the table " +
              "configuration lacks the materialized commit-version column " +
              "name — change rows cannot be correlated; use a delta " +
              "connector jar"))))

    // ---- column mapping (same protocol rule as the snapshot reader:
    // data/change files carry PHYSICAL names; rename back at the end) ----
    val cmMode = tableConf.getOrElse("delta.columnMapping.mode", "none")
    val mappingActive = cmMode != "none" &&
      schema.fields.exists(_.metadata.contains(DeltaNative.PhysNameKey))
    def physName(f: StructField): String =
      if (f.metadata.contains(DeltaNative.PhysNameKey))
        f.metadata.getString(DeltaNative.PhysNameKey)
      else f.name
    val physSchema =
      if (mappingActive) StructType(schema.fields.map(f => f.copy(name = physName(f))))
      else schema
    val physByLogical = schema.fields.map(f => f.name -> physName(f)).toMap
    val physPartCols = meta.get.partitionColumns.map(c => physByLogical.getOrElse(c, c))

    def resolve(p: String): String = {
      val decoded = java.net.URLDecoder.decode(p, "UTF-8")
      val dp = new Path(decoded)
      (if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }

    val all = changes.result()
    if (all.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        outputSchema(schema, rtOn))

    // partition schema: the table's partition columns + _commit_version —
    // both served from the log through the same typed LogFileIndex path
    val partSchemaPhys = StructType(
      physPartCols.map(c => physSchema(physSchema.fieldIndex(c)).copy(nullable = true)) :+
        StructField(CommitVersion, LongType, nullable = false))
    val physDataFields = physSchema.fields.filterNot(f => physPartCols.contains(f.name))

    def scanOf(files: Seq[ChangeFile], extraData: Seq[StructField]): DataFrame = {
      val dataSchema = StructType(physDataFields ++ extraData)
      val entries = files.map { f =>
        val resolved = resolve(f.path)
        new LogFileIndex.IndexedFile(
          resolved,
          if (f.size >= 12) f.size
          else new Path(resolved).getFileSystem(spark.sessionState.newHadoopConf())
            .getFileStatus(new Path(resolved)).getLen,
          0L,
          f.partitionValues + (CommitVersion -> f.version.toString),
          () => f.stats.flatMap(LogFileIndex.parseDeltaStats(_, dataSchema, mapper)))
      }
      val index = new LogFileIndex(spark, rootPath, entries, partSchemaPhys)
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partSchemaPhys, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      spark.baseRelationToDataFrame(relation)
    }

    val cdcFiles = all.filter(_.kind.isEmpty)
    // materialized columns the rt read pulls from the files (physical-only,
    // never in the table schema; files that predate materialization — or
    // cdc insert rows, whose ids are only assigned to the DATA files at
    // commit — read as null)
    val matFields: Seq[StructField] = rtMatNames.toSeq.flatMap { case (mi, mv) =>
      Seq(StructField(mi, LongType, nullable = true),
        StructField(mv, LongType, nullable = true))
    }
    // loud degradation: a cdc file with NO materialized row-id column was
    // written by a non-correlating writer — its update/delete rows cannot
    // be attributed to stable ids. Probe EVERY cdc file's footer (a sample
    // would let an unsampled foreign file silently serve _row_id=null);
    // the scan opens each of these footers anyway, so this at most doubles
    // metadata reads for the cdc subset of the incremental window.
    rtMatNames.foreach { case (matId, _) =>
      val conf = spark.sessionState.newHadoopConf()
      cdcFiles.foreach { cf =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(resolve(cf.path)), conf))
        try {
          val names = r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSet
          if (!names.contains(matId)) throw DeltaReadException(
            s"`$root`: row_tracking=true but change file " +
              s"`${cf.path}` carries no materialized row-id " +
              s"column `$matId` — its writer did not materialize ids " +
              "into the change feed; change rows cannot be correlated")
        } finally r.close()
      }
    }
    def cdcPart(files: Seq[ChangeFile]): DataFrame = {
      val base = scanOf(files, StructField(ChangeType, StringType) +: matFields)
      rtMatNames match {
        case None => base
        case Some((mi, mv)) => base
          .withColumn(RowId, col(mi))
          // preimage/delete rows materialize the row's LAST commit version;
          // a postimage row's version re-defaults to THIS commit
          .withColumn(RowVer, coalesce(col(mv), col(CommitVersion)))
          .drop(mi, mv)
      }
    }
    def synthPart(kind: String, files: Seq[ChangeFile]): DataFrame = {
      val base = scanOf(files, matFields)
      val tagged = rtMatNames match {
        case None => base
        case Some((mi, mv)) =>
          // materialized-else-base+position, per-file fields via a tiny
          // broadcast (the snapshot reader's exact arithmetic); _metadata
          // must be addressed on the DIRECT scan, before any join
          val infoSchema = StructType(Seq(
            StructField("__rt_key", StringType, nullable = false),
            StructField("__rt_base", LongType, nullable = true),
            StructField("__rt_def", LongType, nullable = true)))
          val infoRows = files.map(f => org.apache.spark.sql.Row(
            PathKeys.key(resolve(f.path)),
            f.baseRowId.map(Long.box).orNull, f.defVer.map(Long.box).orNull))
          val infoDf = spark.createDataFrame(
            spark.sparkContext.parallelize(infoRows, 1), infoSchema)
          base
            .withColumn("__rt_key", PathKeys.keyCol(col("_metadata.file_path")))
            .withColumn("__rt_idx", col("_metadata.row_index"))
            .join(broadcast(infoDf), Seq("__rt_key"), "left")
            .withColumn(RowId, coalesce(col(mi), col("__rt_base") + col("__rt_idx")))
            .withColumn(RowVer, coalesce(col(mv), col("__rt_def")))
            .drop("__rt_key", "__rt_idx", "__rt_base", "__rt_def", mi, mv)
      }
      tagged.withColumn(ChangeType, lit(kind))
    }
    val parts: Seq[DataFrame] =
      (if (cdcFiles.nonEmpty) Seq(cdcPart(cdcFiles)) else Nil) ++
        all.filter(_.kind.isDefined).groupBy(_.kind.get).toSeq.sortBy(_._1)
          .map { case (kind, fs) => synthPart(kind, fs) }
    val unioned = parts.reduce(_ unionByName _)

    // per-version commit timestamp: a broadcast join against a frame with
    // one row per in-range commit (driver-bounded — the range's size)
    import spark.implicits._
    val tsDf = versionTs.result()
      .map { case (v, ms) => (v, new java.sql.Timestamp(ms)) }
      .toDF(CommitVersion, CommitTimestamp)
    val stamped = unioned.join(broadcast(tsDf), Seq(CommitVersion))

    // declared order (data schema, then the feed columns), logical names
    val feedCols: Seq[String] =
      Seq(ChangeType, CommitVersion, CommitTimestamp) ++
        (if (rtOn) Seq(RowId, RowVer) else Nil)
    val ordered = stamped.select(
      (physSchema.fieldNames.toSeq ++ feedCols).map(col): _*)
    if (!mappingActive) ordered
    else ordered.select(schema.fields.toSeq.map { f =>
      col(physName(f)).cast(f.dataType).as(f.name)
    } ++ feedCols.map(col): _*)
  }

  private def outputSchema(schema: StructType, rtOn: Boolean): StructType =
    StructType(schema.fields.toSeq ++ (Seq(
      StructField(ChangeType, StringType),
      StructField(CommitVersion, LongType, nullable = false),
      StructField(CommitTimestamp, TimestampType, nullable = false)) ++
      (if (rtOn) Seq(
        StructField(RowId, LongType, nullable = true),
        StructField(RowVer, LongType, nullable = true)) else Nil)))

  private def parseVersion(name: String, v: String): Long = {
    val n = try v.toLong catch {
      case _: NumberFormatException =>
        throw DeltaReadException(s"$name `$v` is not a number")
    }
    if (n < 0) throw DeltaReadException(s"$name $n is negative")
    n
  }
}
