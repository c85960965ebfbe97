package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.queries.{PipelineQueries, RelationalQueries}

/** FDW statements shared by the workloads and the fixture build. */
object Ddl {
  def servers(c: Client): Unit = Seq("parquet", "delta", "iceberg").foreach { f =>
    c.pg(s"CREATE FOREIGN DATA WRAPPER ${f}_wrapper HANDLER ${f}_fdw_handler " +
      s"VALIDATOR ${f}_fdw_validator")
    c.pg(s"CREATE SERVER ${f}_server FOREIGN DATA WRAPPER ${f}_wrapper")
  }

  def attach(c: Client, name: String, fmt: String, path: String): Unit =
    c.pg(s"CREATE FOREIGN TABLE $name () SERVER ${fmt}_server OPTIONS (files '$path')")

  /** A fresh session with the three servers declared. */
  def fresh(c: Client): Unit = {
    c.session = c.spark.newSession()
    servers(c)
  }
}

/** Delta and Iceberg copies of the fact tables, written once per build
  * through `COPY ... TO ... (FORMAT delta|iceberg)`. */
object Fixtures {
  val facts = Seq("lineitem", "orders")

  def prepare(spark: SparkSession, a: Args): Unit = {
    val c = new Client(spark)
    Ddl.fresh(c)
    facts.foreach { t =>
      Ddl.attach(c, s"${t}_src", "parquet", s"${a.base}/$t.parquet")
      Seq("delta", "iceberg").foreach { f =>
        c.pg(s"COPY (SELECT * FROM ${t}_src) TO '${a.fixtures}/${t}_$f' (FORMAT $f)")
      }
    }
  }
}

final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val perm = rnd.shuffle((0 until n).toVector)

  def next(): Int = {
    var i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    if (i < 0) i = -i - 1
    perm(math.min(i, n - 1))
  }

  def distinct(k: Int): Seq[Int] = {
    val s = mutable.LinkedHashSet[Int]()
    while (s.size < k) s += next()
    s.toSeq
  }
}

/** Closed-loop SELECTs through `executePg` over the q-family oracle texts;
  * the fact tables are attached as parquet, Delta and Iceberg and the seed
  * picks the format of every statement. */
object OlapRead extends Workload {
  val dims = Seq("customer", "nation", "region", "part", "supplier", "events")
  val formats = Seq("parquet", "delta", "iceberg")
  /** The q-family oracle texts Spark runs as-is with DuckDB's answer. The
    * others use DuckDB-only syntax (quantile_cont, ASOF JOIN, unnest,
    * epoch_us, string_agg ... ORDER BY, ...) or, like q16's date_trunc,
    * return another type in Spark. */
  val names = Set(
    "q01_pricing_summary", "q02_filter_project", "q03_top_revenue", "q04_order_priority",
    "q05_region_revenue", "q06_revenue_delta", "q07_region_customers", "q08_window_topn",
    "q09_running_total", "q11_distinct_agg", "q12_rollup_agg", "q13_having",
    "q14_promo_share", "q15_set_ops", "q17_small_qty_revenue", "q18_cust_no_orders",
    "q20_daily_events", "q21_topk_orders", "q24_range_frame", "q25_ntile_ranks",
    "q26_first_last", "q30_math_kernels", "q31_in_subquery", "q32_cross_join",
    "q34_not_exists", "q38_scalar_subquery", "q39_pivot", "q42_recursive_months")

  def statements: Seq[(String, String)] = RelationalQueries.all
    .filter(d => names(d.name)).flatMap(d => d.oracle.map(d.name -> _.trim))

  private def path(a: Args, t: String, f: String) =
    if (f == "parquet") s"${a.base}/$t.parquet" else s"${a.fixtures}/${t}_$f"

  def sqlFor(sql: String, fmt: String): String =
    Fixtures.facts.foldLeft(sql)((s, t) => s.replaceAll(s"\\b$t\\b", s"${t}_$fmt"))

  def run(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val rnd = new Random(a.seed)
    val stmts = rnd.shuffle(statements)
    val c = new Client(spark)
    repeatedSetup(o, 3) { _ =>
      Ddl.fresh(c)
      dims.foreach(t => Ddl.attach(c, t, "parquet", s"${a.base}/$t.parquet"))
      for (t <- Fixtures.facts; f <- formats) Ddl.attach(c, s"${t}_$f", f, path(a, t, f))
      // the same warm-up in every run: the first statement on each format
      formats.foreach(f => c.pg(sqlFor(statements.head._2, f)).collect())
    }(_ => ())
    val views = (dims ++ Fixtures.facts).map(t => t -> s"${a.base}/$t.parquet").toMap
    // balanced: each format serves a third of the statements, and a
    // statement moves to the next format on every further pass
    val assigned = rnd.shuffle(stmts.indices.map(i => i % formats.size))
    val passOf = mutable.Map[String, Int]().withDefaultValue(0)
    Passes.run(c, o, a, stmts.zipWithIndex.map { case ((name, sql), i) =>
      (name, () => {
        val fmt = formats((assigned(i) + passOf(name)) % formats.size)
        passOf(name) += 1
        (fmt, () => {
          val df = c.pg(sqlFor(sql, fmt))
          (df.columns.toSeq, df.collect())
        })
      }, sql)
    }, views)
  }
}

/** Closed-loop QueryDef calls of the LLM-data operators on a seeded subset
  * of documents and embeddings written at setup. */
object CorpusPrep extends Workload {
  val names = Seq("d01_dedup_exact", "d02_minhash_signature", "d05_jaccard_verify",
    "d09_dedup_cluster", "s01_ann_bruteforce_topk", "s02_ann_ivf_topk", "s07_ann_pq_adc",
    "t04_quality_score", "t16_gopher_rules", "t19_bpe_tokenize")

  def run(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val rnd = new Random(a.seed)
    val defs = rnd.shuffle(PipelineQueries.all.filter(d => names.contains(d.name)))
    require(defs.size == names.size, "missing QueryDefs: " +
      names.filterNot(n => defs.exists(_.name == n)).mkString(", "))
    val c = new Client(spark)
    val dir = repeatedSetup(o, 3) { r =>
      val dir = new File(a.run, s"corpus/r$r").getAbsolutePath
      Ddl.fresh(c)
      Ddl.attach(c, "documents_base", "parquet", s"${a.base}/documents.parquet")
      Ddl.attach(c, "embeddings_base", "parquet", s"${a.base}/embeddings.parquet")
      c.pg(s"COPY (SELECT * FROM documents_base WHERE pmod(doc_id * 17 + ${a.seed}, 4) <> 0) " +
        s"TO '$dir/documents.parquet' (FORMAT parquet)")
      c.pg(s"COPY (SELECT * FROM embeddings_base WHERE vec_id < 5 OR " +
        s"pmod(vec_id * 13 + ${a.seed}, 4) <> 0) TO '$dir/embeddings.parquet' (FORMAT parquet)")
      defs.minBy(_.name).fn(c.session, dir).collect()
      dir
    }(_ => ())
    val views = Seq("documents", "embeddings").map(t => t -> s"$dir/$t.parquet/*.parquet").toMap
    Passes.run(c, o, a, defs.map { d =>
      (d.name, () => ("parquet", () => {
        val df = d.fn(c.session, dir)
        (df.columns.toSeq, df.collect())
      }), d.oracle.get.trim)
    }, views)
    if (a.trace) {
      names.foreach { n =>
        o.layer(s"operators.${n}_ms") = Stats.median(c.ops.filter(_.name == n).map(_.ms).toSeq)
      }
    }
  }
}

/** The closed loop shared by olap_read and corpus_prep: whole passes over a
  * fixed op list while another pass still fits in `seconds`; each distinct
  * (op, format) result is kept once for the oracle check. */
object Passes {
  type Exec = () => (Seq[String], Array[Row])

  /** Whether another pass of `last` seconds still ends within the run's
    * `seconds` (a run makes at least one pass). */
  def another(startNs: Long, last: Double, seconds: Double): Boolean =
    (System.nanoTime() - startNs) / 1e9 + last <= seconds

  def run(c: Client, o: Outcome, a: Args,
      ops: Seq[(String, () => (String, Exec), String)], views: Map[String, String]): Unit = {
    val kept = mutable.LinkedHashMap[(String, String), (String, Int)]()
    val passes = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    o.measureStart = System.currentTimeMillis()
    val f0 = CountingFileSystem.snapshot()
    do {
      val before = c.ops.size
      ops.foreach { case (name, pick, _) =>
        val (fmt, exec) = pick()
        c.op(name, "select", fmt)(exec()).foreach { case (cols, rows) =>
          val key = (name, fmt)
          kept.get(key) match {
            case Some((file, n)) => kept(key) = (file, n + 1)
            case None =>
              val file = new File(a.run, s"results/${name}_$fmt.json").getPath
              Rows.write(file, cols, rows)
              kept(key) = (file, 1)
          }
        }
      }
      passes += c.ops.drop(before).map(_.ms).sum / 1000
    } while (Passes.another(start, passes.last, a.seconds))
    o.measureEnd = System.currentTimeMillis()
    o.fsTotal = CountingFileSystem.snapshot() - f0
    val oracle = ops.map { case (n, _, sql) => n -> sql }.toMap
    kept.foreach { case ((name, fmt), (file, n)) =>
      o.checks += Map("name" -> s"$name[$fmt]", "oracle" -> oracle(name), "views" -> views,
        "result" -> file, "count" -> n)
    }
    o.attempted = c.ops.size
    o.failed = c.ops.count(!_.ok)
    o.errors ++= c.errors
    o.addOps(c.ops)
    o.e2e("wall_s") = Stats.median(passes.toSeq)
    o.latency(c.ops.map(_.ms).toSeq)
    o.info("passes") = passes.size
  }
}
