package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Sessions
import graft.operators.{Curation, Dedup}
import graft.plans.MvRegistry
import graft.queries.{Entry, Functions, Quality, Relational, TemporalOps, TextOps}
import graft.streaming.{CrawlDedup, StreamingMv}

/** The benchmark's client: one workload, one closed loop, one JVM.
  *
  * `perfbench/run.py` generates the inputs, starts this program, and
  * reduces the record it writes. The harness calls graft only through
  * its public functions.
  *
  * Usage: graftbench.Main <workload> <inputDir> <stateDir> <seconds>
  *                        <trace 0|1> <outFile>
  */
object Main {

  /** The read-only dashboard-style entries the analyst's dashboard is
    * drawn from, by module. None of them memoizes, writes or registers a
    * materialized view. */
  val analystModules: Seq[(String, Seq[Entry])] = Seq(
    "Relational" -> Relational.entries, "Functions" -> Functions.entries,
    "Quality" -> Quality.entries, "TemporalOps" -> TemporalOps.entries)

  def main(args: Array[String]): Unit = {
    val Array(workload, input, state, secs, trace, out) = args
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Sessions.local(s"perfbench-$workload", cores)
    val rec = new Recorder(spark, trace == "1")
    MvRegistry.clear()
    val checks = try {
      val w = new Workloads(spark, rec, input, state, secs.toDouble)
      workload match {
        case "analyst" => w.analyst()
        case "mv_stream" => w.mvStream()
        case "crawl_curate" => w.crawlCurate()
        case other => sys.error(s"unknown workload '$other'")
      }
    } finally spark.stop()
    Files.writeString(Paths.get(out), rec.toJson(Map(
      "workload" -> workload, "cores" -> cores.toInt) ++ checks))
  }
}

/** The three workloads. Each returns its check results for the record:
  * `failed_ops` lists op ids whose output was wrong. */
final class Workloads(spark: SparkSession, rec: Recorder, input: String,
                      state: String, seconds: Double) {

  private def batchFiles(dir: String): Seq[String] =
    Files.list(Paths.get(input, dir)).iterator.asScala.map(_.toString)
      .toSeq.sorted

  /** The dashboard's queries, round after round in a seeded order, each
    * result fetched to the driver. Every timed result is kept for the
    * DuckDB check. */
  def analyst(): Map[String, Any] = {
    val tables = s"$input/tables"
    val byName = Main.analystModules.flatMap(_._2).map(e => e.name -> e).toMap
    val order = Files.readAllLines(Paths.get(input, "analyst_order.txt"))
      .asScala.map(_.trim).filter(_.nonEmpty).map(byName).toSeq
    // warm-up: the first round compiles each query's code, and the JIT
    // keeps speeding rounds up until about the third (measured: round
    // times 6.8, 6.0, 5.3, 5.0 s after a single warm round)
    for (_ <- 1 to Workloads.WarmRounds; e <- order)
      try e.run(spark, tables).collect()
      catch { case scala.util.control.NonFatal(x) =>
        System.err.println(s"perfbench: warm ${e.name} FAILED: $x") }
    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[String], Array[Row])]
    // whole rounds only, so that every query weighs the same in the median
    val deadline = rec.now() + seconds
    while (rec.now() < deadline) order.foreach { e =>
      spark.catalog.clearCache()
      rec.op("query", e.name) {
        val df = rec.span("call")(e.run(spark, tables))
        val rows = rec.span("action")(df.collect())
        results += ((rec.ops.size, df.columns.toSeq, rows))
      }
      if (rec.trace) {
        val t0 = rec.now()
        MvRegistry.baseVersionToken(spark, tables)
        rec.sample("version_token_s", rec.now() - t0)
      }
    }
    val module = Main.analystModules.flatMap { case (m, es) => es.map(_.name -> m) }.toMap
    Map("oracle" -> order.map(e => e.name -> e.oracle.map(_.stripMargin).orNull).toMap,
      "modules" -> order.map(e => e.name -> module(e.name)).toMap,
      "round_size" -> order.size,
      "results" -> results.map { case (id, cols, rows) =>
        Map("op" -> id, "columns" -> cols, "rows" -> rows.map(r =>
          r.toSeq.map(Workloads.cell))) })
  }

  private val mvCfg = StreamingMv.Config(Seq("k"))

  private def mvBatch(file: String): DataFrame =
    spark.read.parquet(file).select(col("event_type").as("k"),
      floor(col("value") * lit(1e6)).cast(LongType).as("v_micro"))

  /** Did the optimizer serve this dashboard from the registered
    * summary, i.e. does its plan no longer scan the corpus? */
  private def routed(df: DataFrame, corpus: String): Boolean =
    !df.queryExecution.optimizedPlan.exists {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.exists(_.toString.startsWith(corpus))
        case _ => false
      }
      case _ => false
    }

  /** Insert micro-batches: each fold (the write) is followed by the
    * routed dashboard (the read). The state grows with every batch. */
  def mvStream(): Map[String, Any] = {
    val files = batchFiles("mv")
    // warm-up on a throwaway state (the first fold and later ones take
    // different paths), with the last batches, which the loop never
    // reaches
    val warm = s"$state/mv_warm"
    files.takeRight(Workloads.WarmRounds + 1).zipWithIndex.foreach { case (f, b) =>
      StreamingMv.foldBatch(spark, warm, mvCfg)(mvBatch(f), b.toLong)
      StreamingMv.dashboard(spark, warm, mvCfg).collect()
    }
    MvRegistry.clear()
    val dir = s"$state/mv"
    val corpus = StreamingMv.basePath(spark, dir)
    val dashboards = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Row])]
    val deadline = rec.now() + seconds
    var b = 0
    while (rec.now() < deadline && b < files.size - Workloads.WarmRounds - 1) {
      rec.op("fold", s"batch=$b") {
        val batch = mvBatch(files(b))
        rec.span("call")(StreamingMv.foldBatch(spark, dir, mvCfg)(batch, b.toLong))
      }
      rec.op("dash", s"batch=$b") {
        val df = rec.span("call")(StreamingMv.dashboard(spark, dir, mvCfg))
        val rows = rec.span("action")(df.collect())
        dashboards += ((rec.ops.size, b, rows))
        if (rec.trace) rec.sample("route_hit", if (routed(df, corpus)) 1 else 0)
      }
      if (rec.trace) {
        val t0 = rec.now()
        MvRegistry.baseVersionToken(spark, corpus)
        rec.sample("version_token_s", rec.now() - t0)
        stateSize(dir)
      }
      b += 1
    }
    // check: each routed dashboard against an unrouted recompute of the
    // batches folded so far (one query over the input files, which no
    // summary is registered for, then prefix sums on the driver)
    val expect = if (b == 0) Array.empty[(Int, String, (Long, Long, Long))]
      else spark.read.parquet(files.take(b): _*)
      .withColumn("f", input_file_name())
      .select(col("f"), col("event_type").as("k"),
        floor(col("value") * lit(1e6)).cast(LongType).as("v"))
      .groupBy("f", "k").agg(count(lit(1)), count(col("v")), sum(col("v")))
      .collect().map(r => (files.indexWhere(f => r.getString(0).endsWith(
        Paths.get(f).getFileName.toString)), r.getString(1),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    val failed = dashboards.collect {
      case (opId, bi, rows) if !sameDashboard(rows, expect.filter(_._1 <= bi)) =>
        opId
    }
    Map("failed_ops" -> failed)
  }

  private def sameDashboard(rows: Array[Row],
                            parts: Array[(Int, String, (Long, Long, Long))]): Boolean = {
    val want = parts.groupBy(_._2).map { case (k, ps) =>
      val (c, n, s) = ps.map(_._3).reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
      k -> (c, n, s, s.toDouble / n)
    }
    val got = rows.map(r => r.getAs[String]("k") -> (r.getAs[Long]("cnt"),
      r.getAs[Long]("n_nonnull"), r.getAs[Long]("sum_micro"),
      r.getAs[Double]("avg_micro"))).toMap
    got == want
  }

  /** File count and bytes under a state dir, sampled after each write. */
  private def stateSize(dir: String): Unit = {
    val files = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq
    rec.sample("state_files", files.size)
    rec.sample("state_mb", files.map(Files.size(_)).sum / 1e6)
  }

  private val CrawlN = 3
  private val CrawlThreshold = 0.8

  private def curate(docs: DataFrame, out: String): Unit = {
    val df = rec.span("call")(Curation.curateFull(docs,
      probes = Curation.hashSample(docs, "doc_id", "bench", rate16 = 2),
      stopwords = TextOps.Stopwords, minQuality = 0.5, shingleN = 3,
      jaccardThreshold = 0.8, decontamN = 8,
      targets = Map("src0" -> 0.10, "src1" -> 0.02, "src2" -> 0.01,
        "src3" -> 0.005),
      defaultTarget = 0.002, mixSalt = "mix", budget = 5000L,
      chunkWords = 64))
    rec.span("action")(df.write.mode("overwrite").parquet(out))
  }

  /** Crawl batches through the dedup fold, then curation of the
    * survivors, as whole chains from fresh state until time is up. */
  def crawlCurate(): Map[String, Any] = {
    val files = batchFiles("crawl")
    val crawled = spark.read.parquet(files: _*)
    def chain(dir: String, timed: Boolean, batches: Int = files.size): Unit = {
      def step(kind: String, name: String)(body: => Unit): Unit =
        if (timed) rec.op(kind, name)(body) else body
      files.take(batches).zipWithIndex.foreach { case (f, b) =>
        step("crawl_batch", s"batch=$b") {
          val batch = spark.read.parquet(f)
          rec.span("call")(CrawlDedup.applyBatch(spark, dir, CrawlN,
            CrawlThreshold)(batch, b.toLong))
        }
        if (timed && rec.trace) stateSize(dir)
      }
      step("curate", "curate_full") {
        val survivors = rec.span("call")(CrawlDedup.survivors(spark, dir))
        curate(crawled.join(survivors, Seq("doc_id"), "left_semi"),
          s"$dir/curated")
      }
    }
    chain(s"$state/crawl_warm", timed = false, batches = 1)
    val deadline = rec.now() + seconds
    val chains = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
    while (rec.now() < deadline) {
      val dir = s"$state/crawl_${chains.size}"
      val first = rec.ops.size
      chain(dir, timed = true)
      chains += (dir -> (first until rec.ops.size))
      if (rec.trace) {
        val t0 = rec.now()
        MvRegistry.baseVersionToken(spark, s"$dir/docs")
        rec.sample("version_token_s", rec.now() - t0)
      }
    }
    // check: each chain's labels against a batch recompute over all
    // batches, and the curated chunks against that chain's survivors
    val expect = Dedup.connectedComponents(crawled, "doc_id",
        Dedup.minhashLshPairs(crawled, CrawlN, CrawlThreshold))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivorIds = expect.collect { case (d, c) if d == c => d }.toSet
    val failed = chains.flatMap { case (dir, ids) =>
      val labels = scala.util.Try(CrawlDedup.labels(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
      val chunks = scala.util.Try(spark.read.parquet(s"$dir/curated")
        .select("doc_id", "n_tokens").collect()
        .map(r => (r.getLong(0), r.get(1).toString.toLong)).toSeq)
        .getOrElse(Seq.empty)
      val ok = labels == expect && chunks.nonEmpty &&
        chunks.forall { case (d, n) => survivorIds(d) && n > 0 && n <= 64 }
      if (ok) Seq.empty else ids
    }
    Map("failed_ops" -> failed)
  }
}

object Workloads {
  /** Untimed rounds (analyst) or batches beyond the first (mv_stream)
    * before the timed loop. */
  val WarmRounds = 3

  /** One result cell for the record: numbers, strings and booleans as
    * JSON; non-finite doubles, dates, timestamps (as UTC microseconds)
    * and decimals tagged, so the check can compare them exactly. */
  def cell(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => Map("double" -> d.toString)
    case f: Float => cell(f.toDouble)
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case t: java.sql.Timestamp =>
      Map("ts" -> (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant =>
      Map("ts" -> (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => Map("date" -> d.toString)
    case d: java.time.LocalDate => Map("date" -> d.toString)
    case d: java.math.BigDecimal => Map("decimal" -> d.toPlainString)
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case x @ (null | _: Long | _: Double | _: String | _: Boolean) => x
    case other => Map("other" -> other.toString)
  }
}
