package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.sources.DeltaNative

/** Native Delta reader against hand-built tables: the _delta_log JSON is
  * written by the spec itself per the public protocol (delta.io
  * PROTOCOL.md), so the reader is tested against the FORMAT, not against
  * its own writer. */
class DeltaNativeSpec extends SparkSpec {

  private def metaAction(schemaJson: String, partCols: Seq[String] = Nil,
      conf: Map[String, String] = Map.empty): String = {
    val pc = partCols.map(c => s""""$c"""").mkString(",")
    val cf = conf.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"metaData":{"id":"test-table","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${schemaJson.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
      s""""partitionColumns":[$pc],"configuration":{$cf},"createdTime":0}}"""
  }
  private val protocolV1 = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def commit(dir: File, version: Long, lines: Seq[String]): Unit = {
    val log = new File(dir, "_delta_log")
    log.mkdirs()
    java.nio.file.Files.writeString(
      new File(log, f"$version%020d.json").toPath, lines.mkString("\n") + "\n")
  }

  /** Write rows as a single parquet part under the table root, return the
    * RELATIVE path of the part file (what an `add` action records). The
    * true byte size is remembered — the protocol requires `add.size`
    * accurate, and the reader's split planning trusts it. */
  private val partSizes = scala.collection.mutable.Map[String, Long]()
  private def writePart(root: File, sub: String, df: org.apache.spark.sql.DataFrame): String = {
    val tmp = new File(root, s"_tmp_$sub")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(root, sub)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    partSizes(sub) = dest.length()
    sub
  }
  private def psz(path: String): Long = partSizes.getOrElse(path, 1L)

  private def add(path: String, pv: Map[String, String] = Map.empty,
      stats: Option[String] = None): String = {
    val pvs = pv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val st = stats.fold("")(s =>
      s""","stats":"${s.replace("\\", "\\\\").replace("\"", "\\\"")}"""")
    s"""{"add":{"path":"$path","partitionValues":{$pvs},"size":${psz(path)},"modificationTime":0,"dataChange":true$st}}"""
  }
  private def remove(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":0,"dataChange":true}}"""

  test("multi-commit snapshot honors add + remove tombstones") {
    val root = tempDir("delta_basic")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-001.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val f2 = writePart(root, "part-002.parquet", Seq((3L, "c")).toDF("id", "v"))
    val f3 = writePart(root, "part-003.parquet", Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema), add(f1), add(f2)))
    commit(root, 1, Seq(remove(f2), add(f3))) // rewrite: drop f2's rows, add f3's
    val df = Catalog.attach(spark, "delta_basic", "delta", Map("files" -> root.getPath))
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L, 5L))
  }

  test("add-column schema evolution mid-log: old files read the new column as NULL") {
    val root = tempDir("delta_addcol")
    import spark.implicits._
    // v0 schema (id, v); v1 evolves to (id, v, w) via a new metaData action
    // — the protocol's schema-evolution shape. Files written before the
    // evolution lack `w`; the read must serve them as NULL, not fail, and
    // filters on the evolved column must still plan.
    val s0 = Seq((1L, "a")).toDF("id", "v").schema.json
    // an ADDED column is always nullable (old files can't carry it) — a
    // required `w` would make the protocol state unsatisfiable
    val s1 = org.apache.spark.sql.types.StructType(
      Seq((1L, "a")).toDF("id", "v").schema.fields :+
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = true)).json
    val fOld = writePart(root, "part-old.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fNew = writePart(root, "part-new.parquet", Seq((3L, "c", 30.5)).toDF("id", "v", "w"))
    commit(root, 0, Seq(protocolV1, metaAction(s0), add(fOld)))
    commit(root, 1, Seq(metaAction(s1), add(fNew)))
    val df = Catalog.attach(spark, "delta_addcol", "delta", Map("files" -> root.getPath))
    assert(df.columns.toSeq === Seq("id", "v", "w"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.take(2).forall(_.isNullAt(2)))
    assert(rows(2).getDouble(2) == 30.5)
    assert(df.filter($"w" > 10.0).count() === 1L)
    // time travel to v0 serves the PRE-evolution schema
    val v0 = Catalog.attach(spark, "delta_addcol_v0", "delta",
      Map("files" -> root.getPath, "version_as_of" -> "0"))
    assert(v0.columns.toSeq === Seq("id", "v"))
  }

  test("changes_since keeps only still-live files committed after the version") {
    val root = tempDir("delta_changes")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-001.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val f2 = writePart(root, "part-002.parquet", Seq((3L, "c")).toDF("id", "v"))
    val f3 = writePart(root, "part-003.parquet", Seq((4L, "d")).toDF("id", "v"))
    val f4 = writePart(root, "part-004.parquet", Seq((5L, "e")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema), add(f1), add(f2)))
    commit(root, 1, Seq(remove(f2), add(f3)))
    commit(root, 2, Seq(add(f4)))
    def ids(opts: Map[String, String]) =
      graft.sources.DeltaNative.read(spark, root.getPath,
        opts).collect().map(_.getLong(0)).sorted.toSeq
    // since 0: commit 1's rewrite + commit 2's append (f2 was removed —
    // its replacement f3 counts, the tombstoned file never resurfaces)
    assert(ids(Map("changes_since" -> "0")) === Seq(4L, 5L))
    assert(ids(Map("changes_since" -> "1")) === Seq(5L))
    // since == end version: legitimately nothing new
    assert(ids(Map("changes_since" -> "2")) === Seq())
    // composes with time travel: changes in (0, 1] as of version 1
    assert(ids(Map("changes_since" -> "0", "version_as_of" -> "1")) === Seq(4L))
    // beyond the end version: loud
    val e = intercept[graft.sources.DeltaNative.DeltaReadException] {
      ids(Map("changes_since" -> "3"))
    }
    assert(e.getMessage.contains("end version 2"))
    val e2 = intercept[graft.sources.DeltaNative.DeltaReadException] {
      ids(Map("changes_since" -> "-1"))
    }
    assert(e2.getMessage.contains("negative"))
  }

  test("changes_since below a checkpoint rejects (folded add versions)") {
    val root = tempDir("delta_changes_cp")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-001.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-002.parquet", Seq((2L, "b")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema), add(f1)))
    commit(root, 1, Seq(add(f2)))
    // classic checkpoint at version 1 + _last_checkpoint (typed action
    // structs via Spark SQL, same layout the cp-replay test writes)
    val log = new File(root, "_delta_log")
    log.mkdirs()
    val cpDir = new File(root, "_cp_tmp")
    spark.sql(
      s"""SELECT * FROM VALUES
         (named_struct('path', '$f1', 'partitionValues', map(), 'size', ${psz(f1)}L,
                       'modificationTime', 0L, 'dataChange', true),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (named_struct('path', '$f2', 'partitionValues', map(), 'size', ${psz(f2)}L,
                       'modificationTime', 0L, 'dataChange', true),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT,
                              modificationTime: BIGINT, dataChange: BOOLEAN>),
          named_struct('minReaderVersion', 1, 'minWriterVersion', 2),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT,
                              modificationTime: BIGINT, dataChange: BOOLEAN>),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          named_struct('id', 't', 'schemaString', '$schema',
                       'partitionColumns', array()))
         AS t(add, protocol, metaData)"""
    ).coalesce(1).write.mode("overwrite").parquet(cpDir.getPath)
    val part = cpDir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new File(log, f"${1L}%020d.checkpoint.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(cpDir)
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":2}""")
    // commits 0/1 vacuumed away
    new File(log, f"${0L}%020d.json").delete()
    new File(log, f"${1L}%020d.json").delete()
    val e = intercept[graft.sources.DeltaNative.DeltaReadException] {
      graft.sources.DeltaNative.read(spark, root.getPath,
        Map("changes_since" -> "0")).collect()
    }
    assert(e.getMessage.contains("predates checkpoint"))
    // at/after the checkpoint it works: nothing after version 1 → empty
    assert(graft.sources.DeltaNative.read(spark, root.getPath,
      Map("changes_since" -> "1")).count() === 0L)
  }

  test("partitioned table: hive layout, types pinned by the Delta schema") {
    val root = tempDir("delta_part")
    import spark.implicits._
    val full = Seq((1L, "x", 10)).toDF("id", "v", "p")
    val schema = full.schema.json // includes partition column p INT
    val f1 = writePart(root, "p=10/part-0.parquet", Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val f2 = writePart(root, "p=20/part-0.parquet", Seq((3L, "z")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema, Seq("p")),
      add(f1, Map("p" -> "10")), add(f2, Map("p" -> "20"))))
    val df = Catalog.attach(spark, "delta_part", "delta", Map("files" -> root.getPath))
    assert(df.schema("p").dataType === org.apache.spark.sql.types.IntegerType)
    assert(df.filter(col("p") === 20).select("id").head().getLong(0) === 3L)
    assert(df.count() === 3)
  }

  test("partitioned table: non-hive layout takes values from the log") {
    val root = tempDir("delta_nonhive")
    import spark.implicits._
    val schema = Seq((1L, "x", 10)).toDF("id", "v", "p").schema.json
    val f1 = writePart(root, "opaque-0.parquet", Seq((1L, "x")).toDF("id", "v"))
    val f2 = writePart(root, "opaque-1.parquet", Seq((2L, "y")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema, Seq("p")),
      add(f1, Map("p" -> "10")), add(f2, Map("p" -> "20"))))
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    val rows = df.orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(2))).toSeq === Seq((1L, 10), (2L, 20)))
  }

  test("checkpoint + later commit replay") {
    val root = tempDir("delta_cp")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-cp1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-cp2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = writePart(root, "part-cp3.parquet", Seq((3L, "c")).toDF("id", "v"))
    // checkpoint at version 1 carries the live adds (f1, f2) as structs,
    // written via Spark SQL — the checkpoint IS a parquet file of actions
    val log = new File(root, "_delta_log")
    log.mkdirs()
    val cpDir = new File(root, "_cp_tmp")
    spark.sql(
      s"""SELECT * FROM VALUES
         (named_struct('path', '$f1', 'partitionValues', map(), 'size', ${psz(f1)}L,
                       'modificationTime', 0L, 'dataChange', true),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (named_struct('path', '$f2', 'partitionValues', map(), 'size', ${psz(f2)}L,
                       'modificationTime', 0L, 'dataChange', true),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT,
                              modificationTime: BIGINT, dataChange: BOOLEAN>),
          named_struct('minReaderVersion', 1, 'minWriterVersion', 2),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT,
                              modificationTime: BIGINT, dataChange: BOOLEAN>),
          CAST(NULL AS STRUCT<minReaderVersion: INT, minWriterVersion: INT>),
          named_struct('id', 't', 'schemaString', '$schema',
                       'partitionColumns', array()))
         AS t(add, protocol, metaData)"""
    ).coalesce(1).write.mode("overwrite").parquet(cpDir.getPath)
    val cpPart = cpDir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(cpPart.toPath,
      new File(log, f"${1L}%020d.checkpoint.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(cpDir)
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":4}""")
    // a commit AFTER the checkpoint removes f1 and adds f3
    commit(root, 2, Seq(remove(f1), add(f3)))
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("multi-part checkpoint parts all contribute") {
    val root = tempDir("delta_mpcp")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-mp1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-mp2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val log = new File(root, "_delta_log")
    log.mkdirs()
    // part 1 carries protocol+metaData, part 2 carries the adds — a reader
    // that only opened one part would miss either the schema or the files
    def cpSql(rows: String) = spark.sql(
      s"""SELECT * FROM VALUES $rows AS t(add, protocol, metaData)""")
    val addT = "STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN>"
    val protoT = "STRUCT<minReaderVersion: INT, minWriterVersion: INT>"
    val metaT = "STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>"
    def writeCp(i: Int, rows: String): Unit = {
      val tmp = new File(root, s"_cp$i")
      cpSql(rows).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath,
        new File(log, f"${1L}%020d.checkpoint.$i%010d.${2}%010d.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeCp(1, s"""(CAST(NULL AS $addT),
       named_struct('minReaderVersion', 1, 'minWriterVersion', 2),
       named_struct('id', 't', 'schemaString', '$schema',
                    'partitionColumns', CAST(array() AS ARRAY<STRING>)))""")
    writeCp(2, s"""(named_struct('path', '$f1',
         'partitionValues', CAST(map() AS MAP<STRING,STRING>), 'size', ${psz(f1)}L,
         'modificationTime', 0L, 'dataChange', true),
       CAST(NULL AS $protoT), CAST(NULL AS $metaT)),
      (named_struct('path', '$f2',
         'partitionValues', CAST(map() AS MAP<STRING,STRING>), 'size', ${psz(f2)}L,
         'modificationTime', 0L, 'dataChange', true),
       CAST(NULL AS $protoT), CAST(NULL AS $metaT))""")
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":4,"parts":2}""")
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("multi-part checkpoint with a missing part rejects with a typed error") {
    val root = tempDir("delta_mpcp_missing")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-mpm1.parquet", Seq((1L, "a")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema), add(f1)))
    val cpDir = new File(root, "_cp")
    spark.sql(s"""SELECT named_struct('minReaderVersion', 1, 'minWriterVersion', 2)
      AS protocol""").coalesce(1).write.mode("overwrite").parquet(cpDir.getPath)
    val log = new File(root, "_delta_log")
    java.nio.file.Files.move(
      cpDir.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(log, f"${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(cpDir)
    // part 2 of 2 was never written
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":0,"size":3,"parts":2}""")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("version_as_of replays the log to the pinned version") {
    val root = tempDir("delta_timetravel")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-tt1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val f2 = writePart(root, "part-tt2.parquet", Seq((3L, "c")).toDF("id", "v"))
    val f3 = writePart(root, "part-tt3.parquet", Seq((4L, "d")).toDF("id", "v"))
    commit(root, 0, Seq(protocolV1, metaAction(schema), add(f1)))
    commit(root, 1, Seq(add(f2)))
    commit(root, 2, Seq(remove(f1), add(f3)))
    def ids(opts: Map[String, String]): Seq[Long] =
      DeltaNative.read(spark, root.getPath, opts)
        .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids(Map.empty) === Seq(3L, 4L))                       // latest
    assert(ids(Map("version_as_of" -> "0")) === Seq(1L, 2L))
    assert(ids(Map("version_as_of" -> "1")) === Seq(1L, 2L, 3L))
    assert(ids(Map("version_as_of" -> "2")) === Seq(3L, 4L))
    val e = intercept[DeltaNative.DeltaReadException] {
      ids(Map("version_as_of" -> "9"))
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("timestamp_as_of resolves commitInfo timestamps; skew is monotonized") {
    val root = tempDir("delta_ts_travel")
    import spark.implicits._
    def commitInfo(ts: Long): String = s"""{"commitInfo":{"timestamp":$ts}}"""
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-ts1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-ts2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = writePart(root, "part-ts3.parquet", Seq((3L, "c")).toDF("id", "v"))
    commit(root, 0, Seq(commitInfo(1000000L), protocolV1, metaAction(schema), add(f1)))
    // commit 1's clock ran BEHIND commit 0 (writer clock skew): the
    // protocol's monotonic reading adjusts it to 1000001
    commit(root, 1, Seq(commitInfo(900000L), add(f2)))
    commit(root, 2, Seq(commitInfo(3000000L), add(f3)))
    def ids(opts: Map[String, String]): Seq[Long] =
      DeltaNative.read(spark, root.getPath, opts)
        .orderBy("id").collect().map(_.getLong(0)).toSeq
    // between commit 1 (adjusted 1000001) and commit 2 → version 1
    assert(ids(Map("timestamp_as_of" -> "2999999")) === Seq(1L, 2L))
    // exactly at commit 0; the skewed commit 1 adjusts PAST it
    assert(ids(Map("timestamp_as_of" -> "1000000")) === Seq(1L))
    // at/after the last commit → full table
    assert(ids(Map("timestamp_as_of" -> "3000000")) === Seq(1L, 2L, 3L))
    // ISO instant form parses (3M ms = 1970-01-01T00:50:00Z)
    assert(ids(Map("timestamp_as_of" -> "1970-01-01T00:50:00Z")) === Seq(1L, 2L, 3L))
    // before all history → loud, names the valid window
    val e = intercept[DeltaNative.DeltaReadException] {
      ids(Map("timestamp_as_of" -> "1000"))
    }
    assert(e.getMessage.contains("predates"))
    // mutually exclusive with version_as_of
    val e2 = intercept[DeltaNative.DeltaReadException] {
      ids(Map("timestamp_as_of" -> "1000000", "version_as_of" -> "0"))
    }
    assert(e2.getMessage.contains("mutually exclusive"))
    // a commit WITHOUT commitInfo falls back to file modification time:
    // push commit 2's file mtime far into the future and re-pin before it
    val log2 = new File(root, "_delta_log/00000000000000000002.json")
    java.nio.file.Files.writeString(log2.toPath, Seq(add(f3)).mkString("\n") + "\n")
    log2.setLastModified(5000000L)
    assert(ids(Map("timestamp_as_of" -> "4999999")) === Seq(1L, 2L))
    assert(ids(Map("timestamp_as_of" -> "5000000")) === Seq(1L, 2L, 3L))
  }

  test("FOR TIMESTAMP|VERSION AS OF through executePg re-attaches with the pin") {
    val root = tempDir("delta_sql_asof")
    import spark.implicits._
    def commitInfo(ts: Long): String = s"""{"commitInfo":{"timestamp":$ts}}"""
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-sq1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-sq2.parquet", Seq((2L, "b")).toDF("id", "v"))
    commit(root, 0, Seq(commitInfo(1000000L), protocolV1, metaAction(schema), add(f1)))
    commit(root, 1, Seq(commitInfo(2000000L), add(f2)))
    graft.catalog.Catalog.attach(spark, "sql_asof_t", "delta", Map("files" -> root.getPath))
    import graft.sqlapi.SqlApi
    // latest
    assert(SqlApi.executePg(spark, "SELECT * FROM sql_asof_t").count() === 2L)
    // timestamp pin between commits → commit 0 only (epoch-millis literal)
    assert(SqlApi.executePg(spark,
      "SELECT id FROM sql_asof_t FOR TIMESTAMP AS OF '1500000' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // version pin
    assert(SqlApi.executePg(spark,
      "SELECT id FROM sql_asof_t FOR VERSION AS OF 0").count() === 1L)
    // a literal merely containing the AS OF text stays data
    val lit = SqlApi.executePg(spark,
      "SELECT 'x FOR TIMESTAMP AS OF y' AS s FROM sql_asof_t").head().getString(0)
    assert(lit === "x FOR TIMESTAMP AS OF y")
    // unattached table rejects loudly
    val e = intercept[IllegalArgumentException] {
      SqlApi.executePg(spark, "SELECT * FROM never_attached FOR VERSION AS OF 1")
    }
    assert(e.getMessage.contains("not an attached table"))
  }

  test("version_as_of below a checkpoint needs the vacuumed commits — loud") {
    val root = tempDir("delta_tt_vacuumed")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f2 = writePart(root, "part-v2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = writePart(root, "part-v3.parquet", Seq((3L, "c")).toDF("id", "v"))
    // checkpoint at version 1 exists; commits 0 and 1 were VACUUMED away
    val log = new File(root, "_delta_log"); log.mkdirs()
    val cpDir = new File(root, "_cp_tt")
    spark.sql(
      s"""SELECT * FROM VALUES
         (named_struct('path', '$f2', 'partitionValues', map()),
          CAST(NULL AS STRUCT<minReaderVersion: INT>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>>),
          named_struct('minReaderVersion', 1),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>>),
          CAST(NULL AS STRUCT<minReaderVersion: INT>),
          named_struct('id', 't', 'schemaString', '$schema',
                       'partitionColumns', CAST(array() AS ARRAY<STRING>)))
         AS t(add, protocol, metaData)""")
      .coalesce(1).write.mode("overwrite").parquet(cpDir.getPath)
    java.nio.file.Files.move(
      cpDir.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(log, f"${1L}%020d.checkpoint.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(cpDir)
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":3}""")
    commit(root, 2, Seq(add(f3)))
    // latest works through the checkpoint
    assert(DeltaNative.read(spark, root.getPath, Map.empty).count() === 2)
    // version 0 pre-dates the checkpoint and its commits are gone
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root.getPath, Map("version_as_of" -> "0"))
    }
    assert(e.getMessage.contains("no longer reconstructible"))
  }

  test("V2 checkpoint: UUID-named parquet manifest + sidecar files") {
    val root = tempDir("delta_v2cp_pq")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-v2a.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-v2b.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = writePart(root, "part-v2c.parquet", Seq((3L, "c")).toDF("id", "v"))
    val log = new File(root, "_delta_log"); log.mkdirs()
    val sidecars = new File(log, "_sidecars"); sidecars.mkdirs()
    val addT = "STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>>"
    def writeAsParquet(sql: String, dest: File): Unit = {
      val tmp = new File(root, s"_tmp_${dest.getName}")
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, dest.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    // two sidecars carrying one add each
    writeAsParquet(
      s"""SELECT named_struct('path', '$f1',
            'partitionValues', CAST(map() AS MAP<STRING,STRING>)) AS add""",
      new File(sidecars, "sc-1.parquet"))
    writeAsParquet(
      s"""SELECT named_struct('path', '$f2',
            'partitionValues', CAST(map() AS MAP<STRING,STRING>)) AS add""",
      new File(sidecars, "sc-2.parquet"))
    // the manifest: protocol (v3 + v2Checkpoint), metaData, checkpoint
    // metadata, and the two sidecar pointers — NO classic-named file exists
    writeAsParquet(
      s"""SELECT * FROM VALUES
         (CAST(NULL AS $addT),
          named_struct('minReaderVersion', 3, 'readerFeatures', array('v2Checkpoint')),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>),
          CAST(NULL AS STRUCT<path: STRING, sizeInBytes: BIGINT>),
          named_struct('version', 1L)),
         (CAST(NULL AS $addT),
          CAST(NULL AS STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>),
          named_struct('id', 't', 'schemaString', '$schema',
                       'partitionColumns', CAST(array() AS ARRAY<STRING>)),
          CAST(NULL AS STRUCT<path: STRING, sizeInBytes: BIGINT>),
          CAST(NULL AS STRUCT<version: BIGINT>)),
         (CAST(NULL AS $addT),
          CAST(NULL AS STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>),
          named_struct('path', 'sc-1.parquet', 'sizeInBytes', 1L),
          CAST(NULL AS STRUCT<version: BIGINT>)),
         (CAST(NULL AS $addT),
          CAST(NULL AS STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>),
          named_struct('path', 'sc-2.parquet', 'sizeInBytes', 1L),
          CAST(NULL AS STRUCT<version: BIGINT>))
         AS t(add, protocol, metaData, sidecar, checkpointMetadata)""",
      new File(log, f"${1L}%020d.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"))
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":4}""")
    // a commit AFTER the v2 checkpoint adds f3
    commit(root, 2, Seq(add(f3)))
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("V2 checkpoint: JSON manifest with inline add + sidecar pointer") {
    val root = tempDir("delta_v2cp_json")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-j1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "part-j2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val log = new File(root, "_delta_log"); log.mkdirs()
    val sidecars = new File(log, "_sidecars"); sidecars.mkdirs()
    val tmp = new File(root, "_tmp_scj")
    spark.sql(
      s"""SELECT named_struct('path', '$f2',
            'partitionValues', CAST(map() AS MAP<STRING,STRING>)) AS add""")
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    java.nio.file.Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(sidecars, "scj-1.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    java.nio.file.Files.writeString(
      new File(log, f"${0L}%020d.checkpoint.1f6f5a0f-6b7d-41b1-b1c6-4a6a30fcd1b2.json").toPath,
      s"""{"checkpointMetadata":{"version":0}}
         |{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"${schema.replace("\\", "\\\\").replace("\"", "\\\"")}","partitionColumns":[],"configuration":{},"createdTime":0}}
         |${add(f1)}
         |{"sidecar":{"path":"scj-1.parquet","sizeInBytes":1,"modificationTime":0}}
         |""".stripMargin)
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":0,"size":5}""")
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("non-hive layout scales: 120 log-valued partitions read through ONE scan") {
    val root = tempDir("delta_nonhive_many")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", IntegerType))).json
    // 120 one-row files written in ONE job; the fid=N dirs are writer
    // artifacts, NOT the Delta partition column p, so the reader must take
    // every p from the log
    val dataDir = new File(root, "data")
    spark.range(120).select(col("id"), col("id").cast("int").as("fid"))
      .write.partitionBy("fid").mode("overwrite").parquet(dataDir.getPath)
    val addLines = dataDir.listFiles().filter(_.getName.startsWith("fid=")).map { d =>
      val fid = d.getName.stripPrefix("fid=").toInt
      val f = d.listFiles().find(_.getName.endsWith(".parquet")).get
      val rel = s"data/fid=$fid/${f.getName}"
      partSizes(rel) = f.length()
      add(rel, Map("p" -> fid.toString))
    }.toSeq
    commit(root, 0, Seq(protocolV1, metaAction(schema, Seq("p"))) ++ addLines)
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.count() === 120)
    // every row's log-attached p equals the id its file was built from —
    // full per-file mapping verified in one distributed pass
    assert(df.filter(col("p") === col("id")).count() === 120)
    // the 100 TB pin: ONE parquet scan + a broadcast lookup, never a
    // per-partition union (plan size must stay O(1) in partition count)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllMatchIn(plan).size === 1, s"expected one scan:\n$plan")
    assert(!plan.contains("Union"), s"per-partition union resurfaced:\n$plan")
  }

  test("column mapping mode=name: physical parquet names map back to logical") {
    val root = tempDir("delta_cm")
    import spark.implicits._
    import org.apache.spark.sql.types._
    def fld(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", LongType, "col-9f3a", 1), fld("v", StringType, "col-77b0", 2)))
    // the data file knows ONLY physical names — that's the point of mapping
    val f1 = writePart(root, "part-cm.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("col-9f3a", "col-77b0"))
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(logical.json, Nil, Map("delta.columnMapping.mode" -> "name")),
      add(f1)))
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")))
    // and through the v3 feature gate too
    val root3 = tempDir("delta_cm3")
    val f3 = writePart(root3, "part-cm3.parquet", Seq((9L, "z")).toDF("col-9f3a", "col-77b0"))
    commit(root3, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      metaAction(logical.json, Nil, Map("delta.columnMapping.mode" -> "name")),
      add(f3)))
    assert(DeltaNative.read(spark, root3.getPath, Map.empty)
      .select("id").head().getLong(0) === 9L)
  }

  test("column mapping mode=name on a PARTITIONED table: physical dirs + pv keys") {
    val root = tempDir("delta_cm_part")
    import spark.implicits._
    import org.apache.spark.sql.types._
    def fld(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", LongType, "col-aa11", 1), fld("v", StringType, "col-bb22", 2),
      fld("p", IntegerType, "col-cc33", 3)))
    // with mapping active, hive dir names AND partitionValues keys are
    // PHYSICAL; partitionColumns stays logical
    val f1 = writePart(root, "col-cc33=10/part-0.parquet",
      Seq((1L, "x")).toDF("col-aa11", "col-bb22"))
    val f2 = writePart(root, "col-cc33=20/part-0.parquet",
      Seq((2L, "y")).toDF("col-aa11", "col-bb22"))
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(logical.json, Seq("p"), Map("delta.columnMapping.mode" -> "name")),
      add(f1, Map("col-cc33" -> "10")), add(f2, Map("col-cc33" -> "20"))))
    val df = DeltaNative.read(spark, root.getPath, Map.empty)
    assert(df.columns.toSeq === Seq("id", "v", "p"))
    assert(df.schema("p").dataType === IntegerType)
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      === Seq((1L, 10), (2L, 20)))
  }

  test("reader features beyond the supported set reject loudly") {
    val root = tempDir("delta_vtype")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-vt.parquet", Seq((1L, "a")).toDF("id", "v"))
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}""",
      metaAction(schema), add(f1)))
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("variantType"))
  }

  // ------------------------------------------------------ deletion vectors

  private val protocolDv =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  private def dvDescJson(storageType: String, payload: String, offset: Option[Int],
      size: Int, card: Long): String = {
    val off = offset.map(o => s""","offset":$o""").getOrElse("")
    s""""deletionVector":{"storageType":"$storageType","pathOrInlineDv":"$payload"$off,"sizeInBytes":$size,"cardinality":$card}"""
  }
  private def addDv(path: String, dvJson: String): String =
    s"""{"add":{"path":"$path","partitionValues":{},"size":${psz(path)},"modificationTime":0,"dataChange":true,$dvJson}}"""
  private def removeDv(path: String, dvJson: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":0,"dataChange":true,$dvJson}}"""

  /** Write a DV file per the on-disk layout (version byte, then per DV a
    * big-endian size, the bitmap bytes, a big-endian CRC-32); returns the
    * "u" pathOrInlineDv (prefix + Z85 uuid) and each DV's offset. */
  private def writeDvFile(root: File, prefix: String, uuid: java.util.UUID,
      datas: Seq[Array[Byte]]): (String, Seq[Int]) = {
    import graft.sources.DeletionVectors
    val dir = if (prefix.isEmpty) root else new File(root, prefix)
    dir.mkdirs()
    val f = new File(dir, s"deletion_vector_$uuid.bin")
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    out.writeByte(1)
    var pos = 1
    val offsets = datas.map { d =>
      val at = pos
      out.writeInt(d.length)
      out.write(d)
      val crc = new java.util.zip.CRC32(); crc.update(d)
      out.writeInt(crc.getValue.toInt)
      pos += 8 + d.length
      at
    }
    out.close()
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits); bb.putLong(uuid.getLeastSignificantBits)
    (prefix + DeletionVectors.Z85.encode(bb.array()), offsets)
  }

  test("inline deletion vector removes exactly the flagged positions") {
    import graft.sources.DeletionVectors
    val root = tempDir("delta_dv_inline")
    import spark.implicits._
    val df10 = (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v")
    val schema = df10.schema.json
    val f1 = writePart(root, "part-dvi.parquet",
      df10.coalesce(1).sortWithinPartitions("id"))
    val data = DeletionVectors.RoaringBitmapArray.serialize(Seq(1L, 3L, 7L))
    commit(root, 0, Seq(protocolDv, metaAction(schema),
      addDv(f1, dvDescJson("i", DeletionVectors.Z85.encode(data), None, data.length, 3L))))
    val got = DeltaNative.read(spark, root.getPath, Map.empty)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 2L, 4L, 5L, 6L, 8L, 9L))
  }

  test("on-disk 'u' deletion vector: prefix dir, offset seek, CRC verify") {
    import graft.sources.DeletionVectors
    val root = tempDir("delta_dv_disk")
    import spark.implicits._
    val df10 = (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v")
    val schema = df10.schema.json
    val f1 = writePart(root, "part-dvu1.parquet",
      df10.filter(col("id") < 5).coalesce(1).sortWithinPartitions("id"))
    val f2 = writePart(root, "part-dvu2.parquet",
      df10.filter(col("id") >= 5).coalesce(1).sortWithinPartitions("id"))
    // ONE DV file holding TWO vectors at different offsets — the layout a
    // real writer produces when it packs a commit's DVs together
    val d1 = DeletionVectors.RoaringBitmapArray.serialize(Seq(0L, 4L)) // kills ids 0,4
    val d2 = DeletionVectors.RoaringBitmapArray.serialize(Seq(2L))     // kills id 7
    val (payload, offs) = writeDvFile(root, "ab/",
      java.util.UUID.fromString("12345678-9abc-def0-1234-56789abcdef0"), Seq(d1, d2))
    commit(root, 0, Seq(protocolDv, metaAction(schema),
      addDv(f1, dvDescJson("u", payload, Some(offs(0)), d1.length, 2L)),
      addDv(f2, dvDescJson("u", payload, Some(offs(1)), d2.length, 1L))))
    val got = DeltaNative.read(spark, root.getPath, Map.empty)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 3L, 5L, 6L, 8L, 9L))
  }

  test("DV update reconciliation keys on (path, dv id), not path alone") {
    import graft.sources.DeletionVectors
    val root = tempDir("delta_dv_update")
    import spark.implicits._
    val df4 = (0L until 4L).map(i => (i, s"r$i")).toDF("id", "v")
    val schema = df4.schema.json
    val f1 = writePart(root, "part-dvup.parquet",
      df4.coalesce(1).sortWithinPartitions("id"))
    commit(root, 0, Seq(protocolDv, metaAction(schema), add(f1)))
    // commit 1 attaches a DV: add(path, dv) FIRST, remove(path, no-dv)
    // SECOND — path-keyed replay would wrongly kill the fresh add
    val data = DeletionVectors.RoaringBitmapArray.serialize(Seq(2L))
    val dv = dvDescJson("i", DeletionVectors.Z85.encode(data), None, data.length, 1L)
    commit(root, 1, Seq(addDv(f1, dv), remove(f1)))
    val got = DeltaNative.read(spark, root.getPath, Map.empty)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 1L, 3L))
    // the writer's snapshot reconciles the same way: one live file
    assert(graft.catalog.DeltaSink.describeDetail(spark, root.getPath)
      .collect().head.getLong(4) === 1L)
  }

  test("roaring portable decode: run + bitmap containers, multi-key, 64-bit") {
    import graft.sources.DeletionVectors.RoaringBitmapArray
    // round-trip through the writer: array + bitmap containers across two
    // 16-bit keys and two 32-bit bitmaps (a >4 GiB row index)
    val big = (0L until 5000L).map(_ * 2) ++ Seq(70000L, (1L << 32) + 17L)
    assert(RoaringBitmapArray.deserialize(RoaringBitmapArray.serialize(big)).toSeq
      === big.sorted)
    // hand-built RUN container per the RoaringFormatSpec (the writer never
    // emits runs, so this is decoder-only coverage): values 5..9 at key 0
    val buf = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(RoaringBitmapArray.Magic)
    buf.putLong(1L)            // one 32-bit bitmap
    buf.putInt(0)              // high key 0
    buf.putInt(12347)          // run cookie, (containers-1)=0 in high bits
    buf.put(1.toByte)          // run-flag bitset: container 0 is a run
    buf.putShort(0.toShort)    // key16
    buf.putShort(4.toShort)    // cardinality-1
    buf.putShort(1.toShort)    // one run
    buf.putShort(5.toShort)    // start
    buf.putShort(4.toShort)    // length-1
    val bytes = java.util.Arrays.copyOf(buf.array(), buf.position())
    assert(RoaringBitmapArray.deserialize(bytes).toSeq === Seq(5L, 6L, 7L, 8L, 9L))
  }

  test("checkpoint adds carry deletion vectors through typed rows") {
    import graft.sources.DeletionVectors
    val root = tempDir("delta_dv_cp")
    import spark.implicits._
    val df6 = (0L until 6L).map(i => (i, s"r$i")).toDF("id", "v")
    val schema = df6.schema.json
    val f1 = writePart(root, "part-dvcp.parquet",
      df6.coalesce(1).sortWithinPartitions("id"))
    val data = DeletionVectors.RoaringBitmapArray.serialize(Seq(0L, 5L))
    val payload = DeletionVectors.Z85.encode(data)
    val log = new File(root, "_delta_log")
    log.mkdirs()
    val cpDir = new File(root, "_cp_tmp_dv")
    spark.sql(
      s"""SELECT * FROM VALUES
         (named_struct('path', '$f1', 'partitionValues', map(),
            'deletionVector', named_struct('storageType', 'i',
              'pathOrInlineDv', '$payload', 'offset', CAST(NULL AS INT),
              'sizeInBytes', ${data.length}, 'cardinality', 2L)),
          CAST(NULL AS STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>,
            deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING,
              offset: INT, sizeInBytes: INT, cardinality: BIGINT>>),
          named_struct('minReaderVersion', 3, 'readerFeatures', array('deletionVectors')),
          CAST(NULL AS STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>>)),
         (CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>,
            deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING,
              offset: INT, sizeInBytes: INT, cardinality: BIGINT>>),
          CAST(NULL AS STRUCT<minReaderVersion: INT, readerFeatures: ARRAY<STRING>>),
          named_struct('id', 't', 'schemaString', '$schema',
                       'partitionColumns', CAST(array() AS ARRAY<STRING>)))
         AS t(add, protocol, metaData)"""
    ).coalesce(1).write.mode("overwrite").parquet(cpDir.getPath)
    val cpPart = cpDir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(cpPart.toPath,
      new File(log, f"${1L}%020d.checkpoint.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(cpDir)
    java.nio.file.Files.writeString(new File(log, "_last_checkpoint").toPath,
      """{"version":1,"size":3}""")
    val got = DeltaNative.read(spark, root.getPath, Map.empty)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 3L, 4L))
  }

  test("reader protocol v2+ rejects loudly instead of misreading") {
    val root = tempDir("delta_v2")
    import spark.implicits._
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
    val f1 = writePart(root, "part-0.parquet", Seq((1L, "a")).toDF("id", "v"))
    commit(root, 0, Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      metaAction(schema), add(f1)))
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("protocol version 3"))
  }

  test("non-delta directory errors with a clear message") {
    val root = tempDir("delta_none")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("_delta_log"))
  }
}
