package graftperf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftperf.{Probe, Span}

import graft.{Session, SparkEntry, Tables, Tuning}
import graft.catalog.{Distribution, Layout, MonthPartition, TablePolicy}
import graft.sources.{Ctas, ExternalFileFormat, ExternalTable, RejectType}

/** The benchmark's JVM side: one process, one closed-loop client, driving
  * graft only through its public entry points. It builds the session
  * `setup_reps` times (the last one stays up), runs a cold pass of every
  * op, then warm passes until `seconds` have elapsed, and writes a raw
  * per-op ledger as JSON to `out`. `perfbench/run.py` turns that ledger
  * into metrics and checks the results the cold pass dumped.
  *
  * Arguments are key=value pairs: workload, seed, seconds, trace (0|1),
  * sf (table directory), cores, work (scratch directory), out,
  * setup_reps.
  */
object Main {

  /** The op sets. `star_olap` is 21 of the reference-derived core
    * queries (star join, aggregates, windows, rollup/pivot/grouping sets,
    * set operations, subqueries): short ops where Catalyst and per-job
    * costs dominate. `corpus_dedup` is 5 near-duplicate pipelines over
    * `documents`: CPU-dense shuffles, eager checkpoints and fixpoints, where
    * execution dominates. The sets are small so that a run (set-up, a cold
    * pass and three warm passes) takes under a minute; an odd op count
    * times an odd pass count puts the median on one sample.
    */
  val StarOlap: Seq[String] = Seq(
    "q01_pricing_summary", "q02_count_distinct", "q04_having",
    "q06_stats_agg", "q07_view_composition", "q10_star_join",
    "q11_left_join", "q13_full_join", "q14_anti_join", "q17_scalar_subquery",
    "q19_in_subquery", "q20_row_number", "q21_rank_agg", "q22_lag_lead",
    "q24_moving_agg", "q32_union_all", "q34_intersect", "q35_except",
    "q36_rollup", "q37_pivot", "q77_grouping_sets")

  val CorpusDedup: Seq[String] = Seq(
    "q55_minhash_lsh", "q56_simhash", "q57_winnow_fingerprint",
    "q68_dedup_clusters", "q95_cc_starcontract")

  val LoadCycle = "load_ctas_cycle"

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      s.take(i) -> s.drop(i + 1)
    }.toMap
    if (a.get("mode").contains("oracles")) {
      // the DuckDB oracle SQL of every query op, for regenerating goldens
      val sql = SparkEntry.oracleSql
      val ops = StarOlap ++ CorpusDedup
      Files.write(Paths.get(a("out")),
        Json(ops.map(o => o -> sql.get(o)).toMap).getBytes(UTF_8))
      return
    }
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("sf"), a("cores").toInt, Paths.get(a("work")),
      a("setup_reps").toInt)
    val ledger = run.execute()
    Files.write(Paths.get(a("out")), Json(ledger).getBytes(UTF_8))
  }
}

/** Clock shared by op timing and spans: epoch milliseconds with the
  * resolution of `System.nanoTime`.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

final class Run(workload: String, seed: Long, seconds: Double,
    trace: Boolean, sf: String, cores: Int, work: Path, setupReps: Int) {

  private val rng = new scala.util.Random(seed)
  private val ops: Seq[String] = workload match {
    case "star_olap" => Main.StarOlap
    case "corpus_dedup" => Main.CorpusDedup
    case "load_ctas" => Seq(Main.LoadCycle)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private lazy val queries = SparkEntry.queries
  private val load: Option[LoadCtas] =
    if (workload == "load_ctas") Some(new LoadCtas(sf, work, seed, cores)) else None

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var lastId = 0L
  private def nextId(): Long = { lastId += 1; lastId }
  private var spark: SparkSession = _

  def execute(): Map[String, Any] = {
    val setups = (1 to setupReps).map { rep =>
      System.gc()
      val t0 = Clock.nowMs
      spark = Session.build(Session.EngineConf(cores = cores,
        warehouseDir = Some(work.resolve("warehouse").toString)))
      val t1 = Clock.nowMs
      load.foreach(_.stage(spark))
      val t2 = Clock.nowMs
      if (rep < setupReps) spark.stop()
      Map("session_build_s" -> (t1 - t0) / 1000, "staging_s" -> (t2 - t1) / 1000)
    }
    val probe = if (trace) Some(new Probe(spark.sparkContext, cores)) else None
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

    // cold pass: first execution of every op, results dumped for the check
    pass(0, rng.shuffle(ops), None, rows)
    // warm passes until the budget is spent, and at least three, so the
    // median never rests on one sample per op and the pass count does not
    // flip with the machine's speed; a traced run interleaves untraced and
    // traced passes (U T T U) so the overhead is measured in-process
    // without favouring either side with later, warmer passes
    val warmStart = Clock.nowMs
    val minPasses = if (trace) 4 else 3
    var p = 0
    while (p < minPasses || Clock.nowMs - warmStart < seconds * 1000) {
      p += 1
      val traced = trace && (p % 4 == 2 || p % 4 == 3)
      pass(p, rng.shuffle(ops), if (traced) probe else None, rows)
    }
    val checks = load.map(_.expected(spark)).getOrElse(Map.empty)
    Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "ops" -> ops, "setup" -> setups, "warm_passes" -> p, "rows" -> rows.toSeq,
      "expected" -> checks, "peak_rss_mb" -> peakRssMb,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)))
  }

  /** One pass over `order`, a ledger row per op. Pass 0 is cold and
    * writes each query result to `work/results/<op>` for the check.
    */
  private def pass(p: Int, order: Seq[String], probe: Option[Probe],
      rows: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    // every pass starts on a collected heap
    System.gc()
    probe.foreach(spark.sparkContext.addSparkListener)
    try order.foreach { op =>
      probe.foreach(_.begin())
      val opId = nextId()
      val scope = new OpScope(opId, () => nextId())
      val start = Clock.nowMs
      def failure(e: Throwable) =
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      var error =
        try {
          load match {
            case Some(l) => l.cycle(spark, scope)
            case None => query(op, p == 0, scope)
          }
          ""
        } catch { case e: Throwable => failure(e) }
      val stop = Clock.nowMs
      // blocks an op pinned (localCheckpoint) must not carry into the next
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val counters = probe.fold(Map.empty[String, Double]) { pr =>
        spans += Span(opId, 0, "op", opId, start, stop)
        spans ++= scope.windows
        pr.end(opId, start.toLong, stop.toLong, scope.windows.toSeq,
          () => nextId(), spans)
      }
      // load accounting (counts, file walks) stays outside the op's time
      val extra = if (error.nonEmpty) Map.empty[String, Any] else
        try load.fold(Map.empty[String, Any])(_.account(spark))
        catch { case e: Throwable => error = failure(e); Map.empty[String, Any] }
      rows += Map("op" -> op, "pass" -> p, "traced" -> probe.isDefined,
        "wall_s" -> (stop - start) / 1000, "ok" -> error.isEmpty,
        "error" -> error) ++
        scope.windows.map(w => s"${w.name}_s" -> (w.endMs - w.startMs) / 1000) ++
        counters ++ extra
    } finally probe.foreach(spark.sparkContext.removeSparkListener)
  }

  private def query(op: String, dump: Boolean, scope: OpScope): Unit = {
    // the harness contract: per-query tuning never leaks into the next op
    Tuning.reset(spark)
    val df = scope.window("operators.build")(queries(op)(spark, sf))
    scope.window("operators.run") {
      if (dump) df.write.mode("overwrite")
        .parquet(work.resolve("results").resolve(op).toString)
      else df.write.format("noop").mode("overwrite").save()
    }
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
}

/** The child spans of one op: each `window` times a call into a layer. */
final class OpScope(opId: Long, nextId: () => Long) {
  val windows = mutable.ArrayBuffer.empty[Span]
  def window[T](name: String)(f: => T): T = {
    val s = Clock.nowMs
    try f finally windows += Span(nextId(), opId, name, opId, s, Clock.nowMs)
  }
}

/** `load_ctas`: a PolyBase→CTAS cycle over `lineitem` and `orders`.
  *
  * Staging exports both tables to `|`-delimited text and plants a seeded
  * number of malformed lines at seeded positions. Each cycle loads the text
  * with `RejectType.Value(planted)`, materializes both tables with `Ctas`
  * under the fact.sale policy (HASH on the order key into one bucket per
  * core, clustered on the ship date, monthly partitions; orders
  * HASH-aligned), and runs a read-back
  * that prunes to a few months and joins the two collocated tables.
  */
final class LoadCtas(sf: String, work: Path, seed: Long, cores: Int) {
  private val text = work.resolve("text")
  private val Format = ExternalFileFormat(fieldTerminator = "|")
  private val tables = Seq("lineitem", "orders")
  private var planted = Map.empty[String, Int]
  private var textLines = Map.empty[String, Long]
  private var cycles = 0

  private def source(spark: SparkSession, t: String): DataFrame =
    Tables(spark, sf, t)

  def stage(spark: SparkSession): Unit = {
    val rng = new scala.util.Random(seed)
    tables.foreach { t =>
      val dir = text.resolve(t)
      val rows = ExternalTable.export(source(spark, t), dir.toString, Format, cores)
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
      val n = 5 + rng.nextInt(11)
      // a malformed line: the leading BIGINT key does not parse
      val bad = (1 to n).map(i => parts(rng.nextInt(parts.size)) -> i)
      bad.groupBy(_._1).foreach { case (f, is) =>
        val lines = new java.util.ArrayList[String](Files.readAllLines(f, UTF_8))
        is.foreach { case (_, i) =>
          lines.add(rng.nextInt(lines.size + 1), s"x$i|not a row|$seed")
        }
        Files.write(f, lines, UTF_8)
        // the writer leaves a checksum beside each part; it no longer holds
        Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      }
      planted += t -> n
      textLines += t -> (rows + n)
    }
  }

  private val ReadBack =
    """SELECT o_orderpriority, graft_month,
      |       CAST(count(*) AS BIGINT) AS lines,
      |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS orders,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM perf_lineitem JOIN perf_orders ON l_orderkey = o_orderkey
      |WHERE graft_month BETWEEN '1995-01' AND '1995-03'
      |GROUP BY o_orderpriority, graft_month""".stripMargin

  private var stagedDirs = Map.empty[String, Path]
  private var readBack = Array.empty[Row]

  /** The timed cycle: load, CTAS, read-back. */
  def cycle(spark: SparkSession, scope: OpScope): Unit = {
    cycles += 1
    stagedDirs = tables.map { t =>
      t -> work.resolve("staging").resolve(s"$t-$cycles")
    }.toMap
    val loaded = scope.window("sources.load") {
      tables.map { t =>
        val schema = source(spark, t).schema
        t -> ExternalTable(text.resolve(t).toString, schema, Format,
          RejectType.Value(planted(t))).load(spark, stagedDirs(t).toString)
      }.toMap
    }
    scope.window("sources.ctas") {
      Ctas.create(spark, loaded("lineitem"), "perf_lineitem", TablePolicy(
        Distribution.Hash("l_orderkey", cores),
        Layout.Clustered(Seq("l_shipdate")),
        Some(MonthPartition("l_shipdate"))))
      Ctas.create(spark, loaded("orders"), "perf_orders",
        TablePolicy(Distribution.Hash("o_orderkey", cores)))
    }
    readBack = scope.window("sources.readback") {
      spark.sql(ReadBack).collect()
    }
  }

  /** What the last cycle loaded, rejected and wrote. */
  def account(spark: SparkSession): Map[String, Any] = {
    val loadedRows = tables.map { t => t -> spark.read.parquet(
      stagedDirs(t).toString).count() }.toMap
    val stats = tables.map { t =>
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(s"perf_$t"))
      t -> meta.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
    }.toMap
    val (ctasFiles, ctasBytes) = dataFiles(work.resolve("warehouse"))
    val (_, stagedBytes) = dataFiles(work.resolve("staging"))
    stagedDirs.values.foreach(deleteRecursively)
    Map("sources.loaded_rows" -> loadedRows.values.sum,
      "sources.text_lines" -> textLines.values.sum,
      "sources.rejected_rows" -> (textLines.values.sum - loadedRows.values.sum),
      "sources.planted_rows" -> planted.values.sum,
      "sources.stats_rows" -> stats.values.sum,
      "sources.staged_bytes" -> stagedBytes,
      "sources.ctas_files" -> ctasFiles, "sources.ctas_bytes" -> ctasBytes,
      "check.loaded" -> loadedRows, "check.stats" -> stats,
      "check.readback" -> canon(readBack))
  }

  /** What every cycle must reproduce, computed from the source parquet. */
  def expected(spark: SparkSession): Map[String, Any] = {
    val rows = tables.map { t => t -> source(spark, t).count() }.toMap
    source(spark, "lineitem")
      .withColumn("graft_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .createOrReplaceTempView("src_lineitem")
    source(spark, "orders").createOrReplaceTempView("src_orders")
    val q = ReadBack.replace("perf_lineitem", "src_lineitem")
      .replace("perf_orders", "src_orders")
    val inputBytes = tables.map { t =>
      Files.size(Paths.get(s"$sf/$t.parquet")) }.sum
    val (_, textBytes) = dataFiles(text)
    Map("rows" -> rows, "readback" -> canon(spark.sql(q).collect()),
      "input_parquet_bytes" -> inputBytes, "input_text_bytes" -> textBytes)
  }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted.toSeq

  /** (file count, bytes) of the data files under `dir`. */
  private def dataFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
}

/** Minimal JSON rendering of the ledger's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
