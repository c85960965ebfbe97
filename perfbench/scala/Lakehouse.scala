package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Table files read with plain I/O (no Hadoop, so the fs counters only see
  * the engine). */
object Disk {
  private val om = new ObjectMapper()

  def mb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0
      finally s.close()
    }
  }

  def list(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
  }

  /** Delta commits as (version, mtime ms, adds, removes). */
  def deltaCommits(root: String): Seq[(Long, Long, Int, Int)] =
    list(s"$root/_delta_log").filter(_.getFileName.toString.matches("\\d{20}\\.json")).map { f =>
      val lines = Files.readAllLines(f).asScala
      (f.getFileName.toString.take(20).toLong, Files.getLastModifiedTime(f).toMillis,
        lines.count(_.startsWith("{\"add\"")), lines.count(_.startsWith("{\"remove\"")))
    }

  /** Iceberg snapshot summaries of the current metadata file, oldest first. */
  def icebergSummaries(root: String): Seq[JsonNode] = {
    val metas = list(s"$root/metadata").filter(_.getFileName.toString.endsWith(".metadata.json"))
    if (metas.isEmpty) Nil
    else {
      val cur = metas.maxBy(f => Files.getLastModifiedTime(f).toMillis)
      val node = om.readTree(cur.toFile)
      node.path("snapshots").elements().asScala.toSeq
        .sortBy(_.path("sequence-number").asLong).map(_.path("summary"))
    }
  }
}

/** Closed-loop reads and writes through `executePg` on one Delta and one
  * Iceberg table built from a seeded customer subset. Each epoch builds the
  * pair afresh and runs a fixed seeded statement sequence; epochs repeat
  * until `seconds` have elapsed. Every statement is also written in
  * DuckDB's dialect so run.py can replay the epoch on plain tables. */
object LakehouseDml extends Workload {
  val tables = Seq("cd" -> "delta", "ci" -> "iceberg")
  val keyRange = 1500
  val perTable = 4
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val cols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"

  final case class Stmt(table: String, kind: String, spark: Seq[String], duck: Seq[String])

  def build(c: Client, a: Args, dir: String): Unit = {
    Ddl.fresh(c)
    Ddl.attach(c, "customer_base", "parquet", s"${a.base}/customer.parquet")
    val subset = s"SELECT * FROM customer_base WHERE c_custkey < $keyRange AND " +
      s"pmod(c_custkey * 31 + ${a.seed}, 5) <> 0"
    c.pg(s"COPY ($subset) TO '$dir/src' (FORMAT parquet)")
    tables.foreach { case (t, f) =>
      c.pg(s"COPY ($subset) TO '$dir/$t' (FORMAT $f)")
      Ddl.attach(c, t, f, s"$dir/$t")
      c.pg(aggRead(t)).collect()
    }
  }

  def aggRead(t: String): String =
    s"SELECT c_mktsegment, count(*) AS n, " +
      s"CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal FROM $t GROUP BY c_mktsegment"

  private def money(rnd: Random) = f"${rnd.nextInt(1000000) / 100.0}%.2f"

  /** The seeded statement sequence of one epoch: per table, reads and
    * writes alternate; writes are INSERT/UPDATE/DELETE/MERGE with
    * Zipf-skewed keys. */
  def sequence(seed: Long, epoch: Int): Seq[Stmt] = {
    val rnd = new Random(seed * 7919 + epoch)
    val zipf = new Zipf(keyRange, 1.1, rnd)
    var fresh = 100000
    def newKey() = { fresh += 1; fresh }
    def keys(k: Int) = zipf.distinct(k).mkString(", ")
    def one(t: String, i: Int, kind: String): Seq[Stmt] = {
      val read =
        if (i % 2 == 0) Stmt(t, "read", Seq(aggRead(t)), Seq(aggRead(t)))
        else {
          val q = s"SELECT $cols FROM $t WHERE c_custkey IN (${keys(3)})"
          Stmt(t, "read", Seq(q), Seq(q))
        }
      val write = kind match {
        case "insert" =>
          val vals = (1 to 3).map { _ =>
            val k = newKey()
            s"($k, 'Customer#$k', ${rnd.nextInt(25)}, ${money(rnd)}, '${segments(rnd.nextInt(5))}')"
          }.mkString(", ")
          val q = s"INSERT INTO $t VALUES $vals"
          Stmt(t, kind, Seq(q), Seq(q))
        case "update" =>
          val q =
            if (rnd.nextBoolean()) s"UPDATE $t SET c_acctbal = c_acctbal + 1.25 WHERE c_custkey IN (${keys(3)})"
            else s"UPDATE $t SET c_mktsegment = '${segments(rnd.nextInt(5))}' WHERE c_nationkey = ${rnd.nextInt(25)}"
          Stmt(t, kind, Seq(q), Seq(q))
        case "delete" =>
          val q = s"DELETE FROM $t WHERE c_custkey IN (${keys(2)})"
          Stmt(t, kind, Seq(q), Seq(q))
        case "merge" =>
          val ks = zipf.distinct(3) ++ Seq(newKey(), newKey())
          val rows = ks.map { k =>
            s"(CAST($k AS BIGINT), 'Customer#$k', CAST(${rnd.nextInt(25)} AS INT), " +
              s"CAST(${money(rnd)} AS DOUBLE), '${segments(rnd.nextInt(5))}')"
          }.mkString(", ")
          val src = s"msrc_$t"
          Stmt(t, kind,
            Seq(s"CREATE OR REPLACE TEMP VIEW $src AS SELECT * FROM VALUES $rows AS s($cols)",
              s"MERGE INTO $t AS tgt USING $src AS src ON tgt.c_custkey = src.c_custkey " +
                "WHEN MATCHED THEN UPDATE SET c_acctbal = src.c_acctbal, c_mktsegment = src.c_mktsegment " +
                "WHEN NOT MATCHED THEN INSERT *"),
            Seq(s"CREATE OR REPLACE TEMP TABLE $src AS SELECT * FROM (VALUES $rows) s($cols)",
              s"UPDATE $t SET c_acctbal = src.c_acctbal, c_mktsegment = src.c_mktsegment " +
                s"FROM $src AS src WHERE $t.c_custkey = src.c_custkey",
              s"INSERT INTO $t SELECT * FROM $src WHERE c_custkey NOT IN (SELECT c_custkey FROM $t)"))
      }
      Seq(read, write)
    }
    val writes = tables.map { case (t, _) =>
      t -> rnd.shuffle(Seq("insert", "update", "delete", "merge"))
    }.toMap
    (0 until perTable).flatMap(i => tables.flatMap { case (t, _) => one(t, i, writes(t)(i)) })
  }

  def run(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val c = new Client(spark)
    def fresh(name: String) = {
      val dir = new File(a.run, s"dml/$name").getAbsolutePath
      build(c, a, dir)
      dir
    }
    var dir = repeatedSetup(o, 3)(r => fresh(s"setup$r"))(_ => ())
    val fmtOf = tables.toMap
    val epochs = mutable.ArrayBuffer[Double]()
    val probes = mutable.ArrayBuffer[(String, Double)]()
    val start = System.nanoTime()
    o.measureStart = System.currentTimeMillis()
    val f0 = CountingFileSystem.snapshot()
    var e = 0
    do {
      if (e > 0) dir = fresh(s"e$e")
      val before = c.ops.size
      val steps = sequence(a.seed, e).zipWithIndex.map { case (s, i) =>
        val res = c.op(s"${s.kind}_${s.table}", s.kind, fmtOf(s.table)) {
          val dfs = s.spark.map(c.pg)
          val df = dfs.last
          (df.columns.toSeq, df.collect())
        }
        val file = new File(a.run, s"dml/results/e${e}_$i.json").getPath
        res.foreach { case (cols, rows) => if (s.kind == "read") Rows.write(file, cols, rows) }
        if (a.trace && s.kind != "read") probes ++= probe(c.session, dir)
        Map("table" -> s.table, "kind" -> s.kind, "duck" -> s.duck, "ok" -> res.isDefined,
          "result" -> (if (s.kind == "read") file else null))
      }
      epochs += c.ops.drop(before).map(_.ms).sum / 1000
      val finals = tables.map { case (t, _) =>
        val file = new File(a.run, s"dml/results/e${e}_final_$t.json").getPath
        val df = c.pg(s"SELECT $cols FROM $t")
        Rows.write(file, df.columns.toSeq, df.collect())
        t -> file
      }.toMap
      o.replays += Map("src" -> s"$dir/src/*.parquet", "tables" -> tables.map(_._1),
        "steps" -> steps, "finals" -> finals)
      e += 1
    } while (Passes.another(start, epochs.last, a.seconds))
    o.measureEnd = System.currentTimeMillis()
    o.fsTotal = CountingFileSystem.snapshot() - f0
    o.attempted = c.ops.size
    o.failed = c.ops.count(!_.ok)
    o.errors ++= c.errors
    o.addOps(c.ops)
    o.e2e("wall_s") = Stats.median(epochs.toSeq)
    o.latency(c.ops.map(_.ms).toSeq)
    o.info("epochs") = epochs.size
    if (a.trace) {
      val reads = c.ops.filter(_.kind == "read").map(_.ms).toSeq
      val writes = c.ops.filter(_.kind != "read").map(_.ms).toSeq
      o.latencyOf("read", reads)
      o.latencyOf("write", writes)
      for ((_, f) <- tables; k <- Seq("insert", "update", "delete", "merge"))
        o.layer(s"catalog.$f.${k}_ms") =
          Stats.median(c.ops.filter(r => r.fmt == f && r.kind == k).map(_.ms).toSeq)
      o.layer("client.write_mb") = o.fsTotal.written / 1048576.0
      o.layer("client.table_mb_end") = tables.map { case (t, _) => Disk.mb(s"$dir/$t") }.sum
      val delta = Disk.deltaCommits(s"$dir/cd")
      val ice = Disk.icebergSummaries(s"$dir/ci")
      def n(s: JsonNode, k: String) = s.path(k).asText("0").toLong
      val added = delta.drop(1).map(_._3).sum +
        ice.drop(1).map(s => n(s, "added-data-files") + n(s, "added-delete-files")).sum
      val removed = delta.drop(1).map(_._4).sum +
        ice.drop(1).map(s => n(s, "deleted-data-files") + n(s, "removed-delete-files")).sum
      val writesPerEpoch = math.max(1, writes.size / epochs.size)
      o.layer("catalog.files_added") = added.toDouble / writesPerEpoch
      o.layer("catalog.files_removed") = removed.toDouble / writesPerEpoch
      o.layer("catalog.live_files") = delta.map(d => d._3 - d._4).sum +
        ice.lastOption.map(s => n(s, "total-data-files") + n(s, "total-delete-files")).getOrElse(0L)
      o.layer("sources.log_version") = delta.lastOption.map(_._1.toDouble).getOrElse(0.0)
      Seq("delta", "iceberg").foreach { f =>
        o.layer(s"sources.${f}_snapshot_ms") = Stats.median(probes.filter(_._1 == f).map(_._2).toSeq)
      }
      o.layer("trace.snapshot_share") =
        Stats.mean(probes.map(_._2).toSeq) / math.max(1e-9, Stats.mean(c.ops.map(_.ms).toSeq))
    }
  }

  /** Trace-only: time a snapshot resolution of each table at its current
    * version through the native readers. */
  def probe(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def t(f: => Any) = { val n = System.nanoTime(); f; (System.nanoTime() - n) / 1e6 }
    Seq("delta" -> t(graft.sources.DeltaNative.read(s, s"$dir/cd", Map.empty)),
      "iceberg" -> t(graft.sources.IcebergNative.read(s, s"$dir/ci", Map.empty)))
  }
}

/** Open-loop change capture: one generator thread drops a JSON-lines file
  * of keyed upserts every `periodMs` with plain file I/O; the stream under
  * test is file source -> `Streams.upsertDeltaStream`. Then a backlog of
  * files lands at once and the time to commit it is measured. */
object CdcStream extends Workload {
  val rowsPerFile = 500
  val periodMs = 250L
  /** Key blocks: file i writes keys of block i % blocks only, so no two of
    * `maxFiles` consecutive files share a key and the last write per key is
    * the same whatever order the files of one batch are read in. */
  val blocks = 32
  val blockSize = 2000
  val maxFiles = 16
  val backlog = 32

  val schema = StructType(Seq(StructField("key", LongType), StructField("val", StringType),
    StructField("amount", DoubleType), StructField("seq", LongType), StructField("due_ms", LongType)))

  final case class Dirs(root: String) {
    val src = s"$root/src"; val tmp = s"$root/tmp"; val target = s"$root/target"; val ckpt = s"$root/ckpt"
  }

  /** Keys of file i (distinct, Zipf-skewed inside the file's block). */
  def keys(seed: Long, i: Int): Seq[Long] = {
    val z = new Zipf(blockSize, 1.1, new Random(seed * 1000003L + i))
    z.distinct(rowsPerFile).map(k => (i % blocks).toLong * blockSize + k)
  }

  def amount(key: Long, i: Int): Double = ((key * 31 + i) % 100000) / 100.0

  /** Writes file i atomically (tmp + rename into `into`, the source
    * directory unless given) and returns its write time. */
  def write(seed: Long, d: Dirs, i: Int, due: Long, into: String = null): Long = {
    val sb = new StringBuilder
    keys(seed, i).foreach { k =>
      sb.append(s"""{"key":$k,"val":"v$k-$i","amount":${amount(k, i)},"seq":$i,"due_ms":$due}""")
      sb.append('\n')
    }
    val tmp = Paths.get(d.tmp, f"f$i%06d.json")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(Option(into).getOrElse(d.src), f"f$i%06d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** file name -> micro-batch id, from the file source's own log. */
  def batchOf(d: Dirs): Map[String, Long] = {
    val om = new ObjectMapper()
    Disk.list(s"${d.ckpt}/sources/0").filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap { f =>
      Files.readAllLines(f).asScala.filter(_.startsWith("{")).map { l =>
        val n = om.readTree(l)
        Paths.get(new java.net.URI(n.path("path").asText)).getFileName.toString ->
          n.path("batchId").asLong
      }
    }.toMap
  }

  def run(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val c = new Client(spark)
    def start(d: Dirs) = {
      Seq(d.src, d.tmp).foreach(p => Files.createDirectories(Paths.get(p)))
      write(a.seed, d, 0, System.currentTimeMillis())
      val df = spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles.toString)
        .option("recursiveFileLookup", "true").json(d.src)
      val q = graft.streaming.Streams.upsertDeltaStream(df, d.target, Seq("key"))
        .option("checkpointLocation", d.ckpt).start()
      q.processAllAvailable()
      (q, d)
    }
    val (q, d) = repeatedSetup(o, 3)(r => start(Dirs(new File(a.run, s"cdc/r$r").getAbsolutePath))) {
      case (q, _) => q.stop()
    }
    val due = mutable.LinkedHashMap[Int, Long](0 -> 0L)
    val late = mutable.ArrayBuffer[Double]()
    o.measureStart = System.currentTimeMillis()
    val f0 = CountingFileSystem.snapshot()
    val gen = new Thread(() => {
      val t0 = System.currentTimeMillis()
      var i = 1
      while (i * periodMs <= a.seconds * 1000) {
        val at = t0 + i * periodMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late += (write(a.seed, d, i, at) - at).toDouble
        due(i) = at
        i += 1
      }
    }, "cdc-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    val openLoop = due.size
    // the backlog appears at once: its files are staged in a directory that
    // is then renamed into the source directory (the file source looks into
    // subdirectories), so no trigger can see only part of it and the
    // drain always takes backlog / maxFiles micro-batches
    val staging = Paths.get(d.tmp, "backlog")
    Files.createDirectories(staging)
    val staged = System.currentTimeMillis()
    (openLoop until openLoop + backlog).foreach(i => write(a.seed, d, i, staged, staging.toString))
    val drop = System.currentTimeMillis()
    Files.move(staging, Paths.get(d.src, "backlog"), StandardCopyOption.ATOMIC_MOVE)
    (openLoop until openLoop + backlog).foreach(i => due(i) = drop)
    q.processAllAvailable()
    o.measureEnd = System.currentTimeMillis()
    o.fsTotal = CountingFileSystem.snapshot() - f0
    q.stop()

    val batch = batchOf(d)
    val commits = Disk.deltaCommits(d.target)
    val visible = commits.map(x => x._1 -> x._2).toMap
    val nBatches = if (batch.isEmpty) 0 else batch.values.max + 1
    if (commits.size != nBatches)
      o.errors += s"${commits.size} Delta commits for $nBatches micro-batches"
    def lag(i: Int) = visible.get(batch(f"f$i%06d.json")).map(_ - due(i).toDouble)
    val lags = (1 until openLoop).flatMap(lag)
    val drained = (openLoop until openLoop + backlog).flatMap(i => batch.get(f"f$i%06d.json"))
    val drainMs = drained.flatMap(visible.get).maxOption.map(_ - drop.toDouble).getOrElse(0.0)
    o.e2e("wall_s") = drainMs / 1000
    o.latency(lags)
    o.info("files") = due.size
    o.info("batches") = nBatches

    // correctness: the table equals last-write-per-key over every file
    val expected = mutable.HashMap[Long, Int]()
    due.keys.toSeq.sorted.foreach(i => keys(a.seed, i).foreach(k => expected(k) = i))
    Ddl.fresh(c)
    Ddl.attach(c, "cdc_target", "delta", d.target)
    val got = c.pg("SELECT key, seq, amount FROM cdc_target").collect()
      .map(r => r.getLong(0) -> (r.getLong(1).toInt, r.getDouble(2))).toMap
    val wrong = expected.count { case (k, i) => !got.get(k).contains((i, amount(k, i))) } +
      got.keys.count(k => !expected.contains(k))
    o.attempted = due.size.toLong * rowsPerFile
    o.failed = wrong
    if (wrong > 0) o.errors += s"cdc_target: $wrong keys differ from last-write-per-key"
    if (lags.size != openLoop - 1 || drained.size != backlog)
      o.errors += "some generated files were never committed"

    if (a.trace) {
      o.latencyOf("lag", lags)
      o.layer("client.drain_rows_per_s") = backlog * rowsPerFile / math.max(1e-9, drainMs / 1000)
      o.layer("client.gen_late_ms") = Stats.mean(late.toSeq)
      o.layer("client.write_mb") = o.fsTotal.written / 1048576.0
      o.layer("client.table_mb_end") = Disk.mb(d.target)
      o.layer("sources.log_version") = commits.lastOption.map(_._1.toDouble).getOrElse(0.0)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val bs = Trace.batches.asScala.toSeq.filter(b => b.startMs >= o.measureStart && b.rows > 0)
      def dur(b: Trace.Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
      o.layer("streaming.trigger_ms") = Stats.mean(bs.map(dur(_, "triggerExecution")))
      o.layer("streaming.add_batch_ms") = Stats.mean(bs.map(dur(_, "addBatch")))
      o.layer("streaming.fixed_ms") =
        Stats.mean(bs.map(b => dur(b, "triggerExecution") - dur(b, "addBatch")))
      o.layer("streaming.rows_per_batch") = Stats.mean(bs.map(_.rows.toDouble))
      o.layer("streaming.batches") = bs.size
      o.layer("streaming.backlog_batches") = drained.distinct.size
      val group = q.runId.toString
      bs.foreach { b =>
        val ms = dur(b, "triggerExecution")
        o.windows += Win(group, s"batch-${b.batchId}", "batch", "delta", b.startMs,
          b.startMs + ms.toLong, ms, 0.0, None)
      }
      val t0 = System.nanoTime()
      graft.sources.DeltaNative.read(c.session, d.target, Map.empty)
      o.layer("sources.delta_snapshot_ms") = (System.nanoTime() - t0) / 1e6
    }
  }
}
