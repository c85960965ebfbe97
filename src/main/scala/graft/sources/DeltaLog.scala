package graft.sources

import scala.collection.immutable.{SortedMap, VectorMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, when}
import org.apache.spark.sql.types._

/** The Delta transaction log (delta.io PROTOCOL.md), read and written in
  * one place: the snapshot reader, every writer, history, the change feed,
  * the streaming follower and the converters all go through this object.
  * It is the only code that lists `_delta_log`, reads `_last_checkpoint`,
  * checkpoints or sidecars, parses commit JSON, and writes a commit file.
  *
  * A snapshot is the checkpoint's action set (classic single-file,
  * multi-part, or V2: a UUID-named JSON or parquet manifest whose file
  * actions live in `_sidecars/` parquet files) followed by the commit JSONs
  * after it, in version order. Checkpoint parquet is ingested as TYPED rows
  * in one Spark job per file set — no JSON text round-trip — so driver
  * state is O(live files), the footprint delta-kernel carries. Live files
  * are reconciled on (path, deletion-vector unique id): a DV update commits
  * remove(path, oldDv) + add(path, newDv), in either order, and a
  * path-only key would let the remove kill the fresh add. */
object DeltaLog {
  import DeltaNative.DeltaReadException

  private val mapper = new ObjectMapper()
  private val CommitRe = """(\d{20})\.json""".r
  private val LastCheckpoint = "_last_checkpoint"

  /** The table's protocol action. The writer-side helpers say what a
    * commit must declare before it uses a feature: an external
    * protocol-compliant reader ignores features the protocol does not
    * declare. */
  final case class Protocol(minReader: Int, minWriter: Int,
      readerFeatures: Set[String], writerFeatures: Set[String]) {
    def supportsDv: Boolean =
      minReader >= 3 && minWriter >= 7 &&
        readerFeatures.contains("deletionVectors") &&
        writerFeatures.contains("deletionVectors")
    /** PROTOCOL.md: upgrading a legacy protocol to table features must
      * carry over every feature the legacy versions implied, or a writer
      * honoring only the feature list would stop enforcing them. */
    def withDeletionVectors: Protocol = {
      val legacyWriter = Seq(2 -> "appendOnly", 2 -> "invariants",
        3 -> "checkConstraints", 4 -> "changeDataFeed", 4 -> "generatedColumns",
        5 -> "columnMapping", 6 -> "identityColumns")
        .collect { case (v, f) if minWriter >= v && minWriter < 7 => f }
      val legacyReader =
        if (minReader >= 2 && minReader < 3) Set("columnMapping") else Set.empty[String]
      Protocol(3, 7,
        readerFeatures ++ legacyReader + "deletionVectors",
        writerFeatures ++ legacyWriter + "deletionVectors")
    }
    def supportsColumnMapping: Boolean =
      (minReader >= 2 && minWriter >= 5 && minWriter < 7) ||
        (minWriter >= 7 && writerFeatures.contains("columnMapping") &&
          (minReader < 3 || readerFeatures.contains("columnMapping")))
    def withColumnMapping: Protocol =
      if (minReader >= 3 || minWriter >= 7) {
        // table-features protocol: the feature must be declared explicitly
        val nr = math.max(minReader, 2)
        Protocol(nr, minWriter,
          if (nr >= 3) readerFeatures + "columnMapping" else readerFeatures,
          if (minWriter >= 7) writerFeatures + "columnMapping" else writerFeatures)
      } else Protocol(math.max(minReader, 2), math.max(minWriter, 5),
        readerFeatures, writerFeatures)
    def json: String = {
      def list(fs: Set[String]) = fs.toSeq.sorted.map("\"" + _ + "\"").mkString(",")
      val rf = if (minReader >= 3) s""","readerFeatures":[${list(readerFeatures)}]""" else ""
      val wf = if (minWriter >= 7) s""","writerFeatures":[${list(writerFeatures)}]""" else ""
      s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter$rf$wf}}"""
    }
  }

  /** The table's metaData action; `id` is the table id every later
    * metaData rewrite must carry over. */
  final case class Metadata(id: String, schemaString: String,
      partitionColumns: Seq[String], configuration: Map[String, String])

  /** One live data file after reconciliation. `size`/`modificationTime`
    * come from the add action (the protocol requires them accurate — split
    * planning trusts them, as delta-kernel does); `stats` is the writer's
    * per-file statistics JSON; `addVersion` is the commit that added it
    * (the checkpoint version for folded files); `baseRowId` and
    * `defaultRowCommitVersion` are the PROTOCOL.md Row Tracking fields. */
  final case class AddFile(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, stats: Option[String],
      dv: Option[DeletionVectors.Descriptor], addVersion: Long,
      baseRowId: Option[Long], defaultRowCommitVersion: Option[Long]) {
    def hasDv: Boolean = dv.isDefined
  }

  /** Table state at `version` (-1 = no log). `live` is keyed by add path
    * in log order; `txns` is the highest committed version per appId;
    * `domains` the live domainMetadata (domain → configuration);
    * `lastIct` the highest inCommitTimestamp among the commits replayed
    * after the checkpoint; `checkpointVersion` the checkpoint the replay
    * started from. */
  final case class Snapshot(version: Long, protocol: Option[Protocol],
      metaData: Option[Metadata], live: VectorMap[String, AddFile],
      txns: Map[String, Long], domains: Map[String, String],
      lastIct: Option[Long], checkpointVersion: Option[Long]) {
    def exists: Boolean = version >= 0
    def schemaJson: Option[String] = metaData.map(_.schemaString)
    def partCols: Seq[String] = metaData.map(_.partitionColumns).getOrElse(Nil)
    def conf: Map[String, String] = metaData.map(_.configuration).getOrElse(Map.empty)
  }

  def logDir(root: Path): Path = new Path(root, "_delta_log")

  /** The one listing of `_delta_log` (empty when the directory is absent). */
  private def list(fs: FileSystem, root: Path): Array[FileStatus] =
    try fs.listStatus(logDir(root))
    catch { case _: java.io.FileNotFoundException => Array.empty }

  private def commitsIn(listing: Array[FileStatus]): SortedMap[Long, FileStatus] =
    SortedMap.from(listing.iterator.flatMap(st => st.getPath.getName match {
      case CommitRe(v) => Some(v.toLong -> st)
      case _ => None
    }))

  /** Every commit JSON in the log, version → status (the modification time
    * is the timestamp fallback), from one listing. */
  def commits(fs: FileSystem, root: Path): SortedMap[Long, FileStatus] =
    commitsIn(list(fs, root))

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** One commit file's actions, one JSON node per line. */
  def actions(fs: FileSystem, commit: FileStatus): Seq[JsonNode] =
    readLines(fs, commit.getPath).map(mapper.readTree)

  /** A commit's time in the protocol's order: inCommitTimestamp >
    * commitInfo.timestamp > the log file's modification time. */
  def commitTimestamp(actions: Seq[JsonNode], commit: FileStatus): Long =
    actions.collectFirst { case n if n.has("commitInfo") => n.path("commitInfo") }
      .collect {
        case ci if ci.has("inCommitTimestamp") => ci.path("inCommitTimestamp").asLong()
        case ci if ci.has("timestamp") => ci.path("timestamp").asLong()
      }
      .getOrElse(commit.getModificationTime)

  /** An add (or remove) action's file entry. */
  def addFile(a: JsonNode, version: Long): AddFile = {
    def optLong(k: String): Option[Long] = {
      val n = a.path(k)
      if (n.isNumber) Some(n.asLong()) else None
    }
    val d = a.path("deletionVector")
    val dv =
      if (d.isMissingNode || d.isNull) None
      else Some(DeletionVectors.Descriptor(
        d.path("storageType").asText(),
        d.path("pathOrInlineDv").asText(),
        Option(d.path("offset")).filter(n => !n.isMissingNode && !n.isNull).map(_.asInt()),
        d.path("sizeInBytes").asInt(),
        d.path("cardinality").asLong()))
    AddFile(a.path("path").asText(),
      a.path("partitionValues").fields().asScala
        .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap,
      a.path("size").asLong(0L),
      a.path("modificationTime").asLong(0L),
      Option(a.path("stats")).filter(n => n.isTextual && n.asText().nonEmpty).map(_.asText()),
      dv, version, optLong("baseRowId"), optLong("defaultRowCommitVersion"))
  }

  /** A metaData action. */
  def metadata(m: JsonNode): Metadata =
    Metadata(m.path("id").asText(""), m.path("schemaString").asText(),
      m.path("partitionColumns").elements().asScala.map(_.asText()).toSeq,
      m.path("configuration").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)

  private def dvKey(dv: Option[DeletionVectors.Descriptor]): String =
    dv.map(_.uniqueKey).getOrElse("")

  /** Mutable replay state; the actions of checkpoints and commits apply in
    * log order (last protocol/metaData wins, domains and txns per key). */
  private final class Replay {
    var protocol: Option[Protocol] = None
    var metaData: Option[Metadata] = None
    val live = scala.collection.mutable.LinkedHashMap[(String, String), AddFile]()
    val txns = scala.collection.mutable.Map[String, Long]()
    val domains = scala.collection.mutable.LinkedHashMap[String, String]()
    var lastIct: Option[Long] = None

    def add(f: AddFile): Unit = live((f.path, dvKey(f.dv))) = f
    def txn(app: String, v: Long): Unit =
      txns(app) = math.max(v, txns.getOrElse(app, Long.MinValue))
    def domain(d: String, conf: String, removed: Boolean): Unit =
      if (removed) domains.remove(d) else domains(d) = conf

    /** One JSON action of a commit (`inCommit`) or of a V2 JSON manifest,
      * whose removes are expired tombstones kept for vacuum, not deletes.
      * Returns a sidecar path when the action is one. */
    def applyJson(n: JsonNode, version: Long, inCommit: Boolean): Option[String] = {
      def strings(a: JsonNode): Seq[String] =
        if (a.isArray) a.elements().asScala.map(_.asText()).toSeq else Nil
      if (n.has("protocol")) {
        val p = n.path("protocol")
        protocol = Some(Protocol(p.path("minReaderVersion").asInt(1),
          p.path("minWriterVersion").asInt(2),
          strings(p.path("readerFeatures")).toSet, strings(p.path("writerFeatures")).toSet))
      }
      if (n.has("metaData")) metaData = Some(metadata(n.path("metaData")))
      if (n.has("txn")) txn(n.path("txn").path("appId").asText(), n.path("txn").path("version").asLong())
      if (n.has("domainMetadata")) {
        val d = n.path("domainMetadata")
        domain(d.path("domain").asText(), d.path("configuration").asText(""),
          d.path("removed").asBoolean(false))
      }
      if (n.has("add")) add(addFile(n.path("add"), version))
      if (inCommit && n.has("remove")) {
        val rm = addFile(n.path("remove"), version)
        live.remove((rm.path, dvKey(rm.dv)))
      }
      if (inCommit && n.path("commitInfo").has("inCommitTimestamp"))
        lastIct = Some(math.max(n.path("commitInfo").path("inCommitTimestamp").asLong(),
          lastIct.getOrElse(Long.MinValue)))
      if (n.has("sidecar")) Some(n.path("sidecar").path("path").asText()) else None
    }

    /** One checkpoint-shaped parquet frame (classic, multi-part set, V2
      * manifest or V2 sidecars) in ONE job: every action kind the replay
      * needs is selected as a typed struct, fields the file lacks as typed
      * nulls. Returns the frame's sidecar paths. */
    def applyFrame(cp: DataFrame, version: Long): Seq[String] = {
      def has(t: DataType, path: List[String]): Boolean = (t, path) match {
        case (_, Nil) => true
        case (s: StructType, f :: rest) => s.find(_.name == f).exists(x => has(x.dataType, rest))
        case _ => false
      }
      val kinds = CheckpointActions.filter { case (a, _) => cp.schema.fieldNames.contains(a) }
      if (kinds.isEmpty) return Nil
      val sel = kinds.map { case (a, fields) =>
        when(col(a).isNotNull, struct(fields.map { case (f, t) =>
          (if (has(cp.schema, a :: f.split('.').toList)) col(s"$a.$f").cast(t)
           else lit(null).cast(t)).as(f.replace('.', '_'))
        }: _*)).as(a)
      }
      val sidecars = Seq.newBuilder[String]
      cp.filter(kinds.map(k => col(k._1).isNotNull).reduce(_ || _)).select(sel: _*)
        .collect().foreach { r =>
          kinds.indices.filterNot(r.isNullAt).foreach { i =>
            val s = r.getStruct(i)
            def opt[T](j: Int): Option[T] = if (s.isNullAt(j)) None else Some(s.getAs[T](j))
            def strs(j: Int): Seq[String] =
              opt[scala.collection.Seq[String]](j).map(_.toSeq).getOrElse(Nil)
            kinds(i)._1 match {
              case "protocol" =>
                protocol = Some(Protocol(opt[Int](0).getOrElse(1), opt[Int](1).getOrElse(2),
                  strs(2).toSet, strs(3).toSet))
              case "metaData" =>
                metaData = Some(Metadata(opt[String](0).getOrElse(""), s.getString(1), strs(2),
                  opt[scala.collection.Map[String, String]](3).map(_.toMap).getOrElse(Map.empty)))
              case "txn" => txn(s.getString(0), s.getLong(1))
              case "domainMetadata" =>
                domain(s.getString(0), opt[String](1).getOrElse(""), opt[Boolean](2).contains(true))
              case "add" =>
                val dv = opt[String](5).map(st => DeletionVectors.Descriptor(st,
                  opt[String](6).getOrElse(""), opt[Int](7),
                  opt[Int](8).getOrElse(0), opt[Long](9).getOrElse(0L)))
                add(AddFile(s.getString(0),
                  opt[scala.collection.Map[String, String]](1).map(_.toMap).getOrElse(Map.empty),
                  opt[Long](2).getOrElse(0L), opt[Long](3).getOrElse(0L),
                  opt[String](4).filter(_.nonEmpty), dv, version, opt[Long](10), opt[Long](11)))
              case "sidecar" => sidecars += s.getString(0)
            }
          }
        }
      sidecars.result()
    }
  }

  /** The checkpoint fields the replay reads, per action kind, in the order
    * [[Replay.applyFrame]] addresses them. */
  private val CheckpointActions: Seq[(String, Seq[(String, DataType)])] = {
    val strMap = MapType(StringType, StringType)
    Seq(
      "protocol" -> Seq("minReaderVersion" -> IntegerType, "minWriterVersion" -> IntegerType,
        "readerFeatures" -> ArrayType(StringType), "writerFeatures" -> ArrayType(StringType)),
      "metaData" -> Seq("id" -> StringType, "schemaString" -> StringType,
        "partitionColumns" -> ArrayType(StringType), "configuration" -> strMap),
      "txn" -> Seq("appId" -> StringType, "version" -> LongType),
      "domainMetadata" -> Seq("domain" -> StringType, "configuration" -> StringType,
        "removed" -> BooleanType),
      "add" -> Seq("path" -> StringType, "partitionValues" -> strMap, "size" -> LongType,
        "modificationTime" -> LongType, "stats" -> StringType,
        "deletionVector.storageType" -> StringType,
        "deletionVector.pathOrInlineDv" -> StringType,
        "deletionVector.offset" -> IntegerType,
        "deletionVector.sizeInBytes" -> IntegerType,
        "deletionVector.cardinality" -> LongType,
        "baseRowId" -> LongType, "defaultRowCommitVersion" -> LongType),
      "sidecar" -> Seq("path" -> StringType))
  }

  /** The table state at the latest version, at `asOf` (a commit version),
    * or at `asOfTimestamp` (the last commit at or before that instant, by
    * [[commitTimestamp]], monotonized per the protocol's clock-skew note).
    * A checkpoint newer than the pin cannot be used — it already folded
    * later commits — so the replay falls back to the commits before it,
    * and rejects loudly when those were vacuumed. */
  def snapshot(spark: SparkSession, root: Path, asOf: Option[Long] = None,
      asOfTimestamp: Option[Long] = None): Snapshot = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = logDir(root)
    val listing = list(fs, root)
    val names = listing.iterator.map(_.getPath.getName).toSet
    val allCommits = commitsIn(listing)
    val pin: Option[Long] = asOf.orElse(asOfTimestamp.map { target =>
      if (allCommits.isEmpty) throw DeltaReadException(
        s"`$root`: timestamp_as_of needs commit files in _delta_log, none found")
      val history = allCommits.toSeq.map { case (v, st) => (v, commitTimestamp(actions(fs, st), st)) }
      try TimeTravel.resolve(history, target, "timestamp_as_of", "commit")
      catch { case e: IllegalArgumentException => throw DeltaReadException(s"`$root`: ${e.getMessage}") }
    })
    val lastCp: Option[(Long, Option[Int])] =
      if (!names.contains(LastCheckpoint)) None
      else {
        val in = fs.open(new Path(dir, LastCheckpoint))
        val node = try mapper.readTree(in) finally in.close()
        Some((node.path("version").asLong(),
          Option(node.path("parts")).filter(!_.isMissingNode).map(_.asInt())))
          .filter { case (v, _) => pin.forall(v <= _) }
      }
    val cpVersion = lastCp.map(_._1)
    val r = new Replay

    lastCp.foreach { case (v, parts) =>
      val files: Seq[String] = parts match {
        case Some(n) => (1 to n).map(i => f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")
        case None if names.contains(f"$v%020d.checkpoint.parquet") =>
          Seq(f"$v%020d.checkpoint.parquet")
        case None =>
          // V2 checkpoints are UUID-named (`v.checkpoint.<unique>.parquet`
          // or `.json`) and found in the listing; each V2 manifest is
          // complete on its own — pick one deterministically
          val prefix = f"$v%020d.checkpoint."
          names.filter(n => n.startsWith(prefix) &&
            (n.endsWith(".parquet") || n.endsWith(".json"))).maxOption.toSeq
      }
      if (files.isEmpty) throw DeltaReadException(
        s"`$root`: _last_checkpoint names version $v but no matching checkpoint " +
          "file exists in _delta_log")
      files.find(!names.contains(_)).foreach { missing =>
        throw DeltaReadException(
          s"`$root`: _last_checkpoint names version $v but checkpoint part " +
            s"$missing does not exist")
      }
      def parquet(paths: Seq[String]): DataFrame =
        // parts may split action kinds: the union of part schemas is the
        // action schema
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
      val sidecars =
        if (files.head.endsWith(".json"))
          readLines(fs, new Path(dir, files.head)).flatMap(l =>
            r.applyJson(mapper.readTree(l), v, inCommit = false))
        else r.applyFrame(parquet(files.map(new Path(dir, _).toString)), v)
      if (sidecars.nonEmpty) {
        // sidecar paths resolve against _delta_log/_sidecars/ unless absolute
        val paths = sidecars.map { p =>
          val raw = new Path(java.net.URLDecoder.decode(p, "UTF-8"))
          (if (raw.isAbsolute) raw else new Path(new Path(dir, "_sidecars"), raw)).toString
        }
        if (r.applyFrame(parquet(paths), v).nonEmpty) throw DeltaReadException(
          s"`$root`: V2 checkpoint sidecar files must not reference further " +
            "sidecars — malformed checkpoint")
      }
    }

    val commits = allCommits.filter { case (v, _) =>
      cpVersion.forall(_ < v) && pin.forall(v <= _)
    }
    pin.foreach { p =>
      val maxAvail = (cpVersion.toSeq ++ allCommits.keys).maxOption
      if (maxAvail.forall(_ < p)) throw DeltaReadException(
        s"`$root`: version $p does not exist" +
          maxAvail.map(m => s" (latest available: $m)").getOrElse(""))
      // the replay must cover [base, pin] with no vacuumed gap
      (cpVersion.map(_ + 1).getOrElse(0L) to p).find(!commits.contains(_)).foreach { missing =>
        throw DeltaReadException(
          s"`$root`: version $p needs commit $missing, which is not in " +
            "_delta_log (vacuumed?) — this version is no longer reconstructible")
      }
    }
    commits.foreach { case (v, st) =>
      actions(fs, st).foreach(r.applyJson(_, v, inCommit = true))
    }

    val files = r.live.values.toSeq
    val dup = files.groupBy(_.path).collect { case (p, fs0) if fs0.size > 1 => p }.toSeq.sorted
    if (dup.nonEmpty) throw DeltaReadException(
      s"`$root`: log reconciliation left ${dup.size} file path(s) live more " +
        s"than once (first: ${dup.head}) — a remove action is missing its " +
        "deletionVector id; refusing to double-read")
    Snapshot(pin.getOrElse((cpVersion.toSeq ++ allCommits.keys).maxOption.getOrElse(-1L)),
      r.protocol, r.metaData, VectorMap.from(files.map(f => f.path -> f)),
      r.txns.toMap, r.domains.toMap, r.lastIct, cpVersion)
  }

  /** Write commit `version`: the ONLY writer of a commit file. The lines
    * are staged in a hidden file and renamed into place, so a commit is
    * either whole or absent — a write that fails part-way leaves no
    * truncated commit for every later read to trip on. An existing commit
    * at `version` (another writer got there first) rejects before and,
    * through the `false` rename, after the staged write. */
  def commit(fs: FileSystem, root: Path, version: Long, lines: Seq[String]): Unit = {
    val target = new Path(logDir(root), f"$version%020d.json")
    def taken = DeltaReadException(
      s"`$root`: commit $version already exists — another writer got there " +
        "first; this native writer does not do optimistic-concurrency retry")
    if (fs.exists(target)) throw taken
    val staged = new Path(logDir(root),
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = fs.create(staged, false)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    } catch {
      case e: Throwable => fs.delete(staged, false); throw e
    }
    if (!fs.rename(staged, target)) {
      fs.delete(staged, false)
      throw taken
    }
  }
}
