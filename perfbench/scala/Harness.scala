package org.apache.spark {
  /** Waits until the listener bus has delivered every queued event (the bus
    * itself is private to Spark). */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sqlapi.SqlApi

/** Command line of one benchmark process (see run.py, which builds the
  * program and passes these). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, base: String, fixtures: String, run: String, prepare: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, m("base"), m("fixtures"), m("run"),
      m.getOrElse("prepare", "0") == "1")
  }
}

/** One timed operation as the client saw it. `t0`/`t1` are epoch ms (the
  * clock Spark's listener events use); `ms` is the nanosecond-clock wall. */
final case class OpRec(id: String, name: String, kind: String, fmt: String,
    t0: Long, t1: Long, ms: Double, dispatchMs: Double, ok: Boolean,
    fs: CountingFileSystem.Snapshot, cpuMs: Double)

/** Runs and records the client's operations. Each op gets its own Spark job
  * group, so jobs started on the op's thread are attributed to it; jobs
  * started elsewhere (thread pools) show up as unattributed. */
final class Client(val spark: SparkSession) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val errors = mutable.ArrayBuffer[String]()
  private var n = 0
  private var dispatch = 0.0
  var session: SparkSession = spark

  /** `SqlApi.executePg`, timing how long the call takes to return. */
  def pg(sql: String): DataFrame = {
    val t = System.nanoTime()
    try SqlApi.executePg(session, sql)
    finally dispatch += (System.nanoTime() - t) / 1e6
  }

  def op[T](name: String, kind: String, fmt: String)(body: => T): Option[T] = {
    n += 1
    val id = s"op-$n"
    val sc = spark.sparkContext
    sc.setJobGroup(id, s"$kind $name [$fmt]", interruptOnCancel = false)
    dispatch = 0.0
    val f0 = CountingFileSystem.snapshot()
    val w0 = System.currentTimeMillis()
    val c0 = Client.cpuNanos()
    val n0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        errors += s"$name [$fmt]: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        None
    }
    val ms = (System.nanoTime() - n0) / 1e6
    val w1 = System.currentTimeMillis()
    sc.clearJobGroup()
    ops += OpRec(id, name, kind, fmt, w0, w1, ms, dispatch, r.isDefined,
      CountingFileSystem.snapshot() - f0, (Client.cpuNanos() - c0) / 1e6)
    r
  }
}

object Client {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread), in ns. */
  def cpuNanos(): Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The 90th percentile, nearest rank. */
  def p90(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(0.9 * s.size).toInt - 1))
  }

  /** Mean of the slowest quarter (at least one sample). With the 10 to 60
    * ops a run makes, no percentile above the median has ten samples
    * beyond it, and this average is steadier than any single order
    * statistic. */
  def tailMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else mean(s.takeRight(math.max(1, math.ceil(s.size / 4.0).toInt)))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Result rows as JSON-able Java values, normalized the way run.py
  * normalizes DuckDB's answers: timestamps as epoch microseconds (UTC),
  * dates as epoch days, decimals as doubles, binary as hex. */
object Rows {
  def value(v: Any): AnyRef = v match {
    case null => null
    case d: java.math.BigDecimal => java.lang.Double.valueOf(d.doubleValue)
    case d: scala.math.BigDecimal => java.lang.Double.valueOf(d.toDouble)
    case f: Float => java.lang.Double.valueOf(f.toDouble)
    case t: java.sql.Timestamp =>
      java.lang.Long.valueOf(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      java.lang.Long.valueOf(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => java.lang.Long.valueOf(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => java.lang.Long.valueOf(d.toEpochDay)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => java.util.Arrays.asList(r.toSeq.map(value): _*)
    case s: scala.collection.Seq[_] => java.util.Arrays.asList(s.map(value).toSeq: _*)
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.TreeMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(String.valueOf(k), value(x)) }
      j
    case other => other.asInstanceOf[AnyRef]
  }

  def write(path: String, columns: Seq[String], rows: Array[Row]): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("columns", java.util.Arrays.asList(columns: _*))
    m.put("rows", java.util.Arrays.asList(rows.map(r => value(r)): _*))
    Json.write(path, m)
  }
}

object Json {
  private val om = new ObjectMapper()

  def write(path: String, v: AnyRef): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), om.writeValueAsString(v))
  }

  def map(kv: (String, Any)*): java.util.LinkedHashMap[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: java.util.Map[_, _] => m
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(String.valueOf(k), toJava(x)) }
      j
    case s: Iterable[_] => java.util.Arrays.asList(s.map(toJava).toSeq: _*)
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case o => o.asInstanceOf[AnyRef]
  }
}

/** What a workload hands back: the client-visible figures plus the
  * correctness work run.py finishes with DuckDB. */
final class Outcome(val workload: String) {
  var setup: Seq[Double] = Nil
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** Oracle checks: name, oracle SQL, DuckDB views (name -> parquet glob),
    * the Spark result file, and how many executed ops it stands for. */
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  /** DML replays: one entry per epoch, see LakehouseDml. */
  val replays = mutable.ArrayBuffer[Map[String, Any]]()
  /** Operation windows the per-layer split is computed over. */
  val windows = mutable.ArrayBuffer[Win]()
  var measureStart = 0L
  var measureEnd = 0L
  var fsTotal = CountingFileSystem.zero

  def addOps(ops: Iterable[OpRec]): Unit = ops.foreach { r =>
    windows += Win(r.id, r.name, r.kind, r.fmt, r.t0, r.t1, r.ms, r.dispatchMs, Some(r.fs), r.cpuMs)
  }

  /** The client's op latencies: mean and tail end to end, median and p90
    * per layer. */
  def latency(ms: Seq[Double]): Unit = {
    e2e("op_mean_ms") = Stats.mean(ms)
    e2e("op_tail_ms") = Stats.tailMean(ms)
    layer("client.op_p50_ms") = Stats.median(ms)
    layer("client.op_p90_ms") = Stats.p90(ms)
    info("op_samples") = ms.size
  }

  /** Median and tail of one kind of op, as per-layer metrics. */
  def latencyOf(kind: String, ms: Seq[Double]): Unit = {
    layer(s"client.${kind}_p50_ms") = Stats.median(ms)
    layer(s"client.${kind}_tail_ms") = Stats.tailMean(ms)
  }
}

/** One window of the per-layer split: a client op or a stream micro-batch.
  * `group` is the Spark job group whose jobs belong to it. */
final case class Win(group: String, name: String, kind: String, fmt: String,
    lo: Long, hi: Long, ms: Double, dispatchMs: Double, fs: Option[CountingFileSystem.Snapshot],
    cpuMs: Double = 0.0)

object Main {
  val workloads: Map[String, Workload] = Map(
    "olap_read" -> OlapRead, "lakehouse_dml" -> LakehouseDml,
    "cdc_stream" -> CdcStream, "corpus_prep" -> CorpusPrep)

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.sql.warehouse.dir", new File(a.run, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.run, "tmp").getAbsolutePath)
    if (a.trace) b
      .config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
    val spark = graft.engine.Engine.configure(b, a.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingFileSystem],
      s"file:// resolves to ${fs.getClass.getName}, not the counting filesystem")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val code = try {
      if (a.prepare) { Fixtures.prepare(spark, a); 0 }
      else {
        val w = workloads.getOrElse(a.workload,
          throw new IllegalArgumentException(s"unknown workload `${a.workload}`"))
        val o = new Outcome(a.workload)
        w.run(spark, a, o)
        spark.sparkContext.clearJobGroup()
        if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.common(a, o)
        val heapMb = { System.gc(); System.gc()
          val rt = Runtime.getRuntime; (rt.totalMemory - rt.freeMemory) / 1048576.0 }
        o.layer("client.heap_retained_mb") = heapMb
        o.e2e("setup_s") = Stats.median(o.setup)
        Json.write(new File(a.run, "result.json").getPath, Json.map(
          "metrics" -> (if (a.trace) Layers.names.map(k => k -> o.layer(k)).toMap else o.e2e),
          "attempted" -> o.attempted, "failed" -> o.failed,
          "errors" -> o.errors, "checks" -> o.checks, "replays" -> o.replays,
          "info" -> o.info, "setup_samples" -> o.setup,
          "ops" -> o.windows.map(w => Seq(w.name, w.fmt, w.ms, w.cpuMs))))
        0
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
    }
    sys.exit(code)
  }
}

trait Workload {
  def run(spark: SparkSession, a: Args, o: Outcome): Unit

  /** Runs `setup` `reps` times and records each duration; returns the last
    * state. `discard` tears down every state but the last. */
  def repeatedSetup[S](o: Outcome, reps: Int)(setup: Int => S)(discard: S => Unit): S = {
    var last: Option[S] = None
    val times = (0 until reps).map { r =>
      last.foreach(discard)
      val t = System.nanoTime()
      last = Some(setup(r))
      (System.nanoTime() - t) / 1e9
    }
    o.setup = times
    last.get
  }
}

} // package perfbench
