package graft.core

import java.io.File
import java.nio.file.Files
import java.util.Locale
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place graft decides how "compute this once" is done.
  *
  * Three calls, one policy:
  *   - [[once]]: a relation with several consumers (or an iterative
  *     round whose lineage must not stack) is computed by ONE job and
  *     read back from the block store — an eager `localCheckpoint`.
  *     `eager = false` defers the job to the relation's first action; the
  *     two iterative loops that use it make that action their
  *     convergence probe, so eager would pay a second job per round.
  *   - [[parallel]]: independent small branch reductions are
  *     materialized from one driver thread each, so one branch's
  *     serial tail (single-task broadcast builds, small aggregates)
  *     back-fills another's idle cores. Use it only for key-sized
  *     outputs. Each branch computes exactly its serial plan, and the
  *     inventory's determinism rules make every output
  *     partition-invariant, so results do not depend on the overlap.
  *   - [[shared]] / [[sharedTables]]: a derived corpus-level table read
  *     by several inventory entries is built once per (JVM, sfDir) and
  *     every caller reads the stored table. At 100 TB these are the
  *     persisted lake tables a pipeline maintains beside its corpus.
  *
  * Fault model: a `localCheckpoint` block lives in executor storage and
  * is lost with its executor; the job reading it then fails instead of
  * recomputing. That is the right trade for a single-JVM engine and for
  * the short-lived per-query relations here. The one iterative operator
  * that offers fault recovery, `Dedup.connectedComponents(checkpointDir)`,
  * writes reliable checkpoints itself. Shared tables are parquet files
  * (or bucketed catalog tables) and survive executor loss.
  *
  * Materialization is always eager where a caller relies on it: two
  * writers (`IncrementalFinal.mergeChangeset`,
  * `CdcApply.mergeIntoBucketedState`) materialize the rows they are
  * about to write back over the very files those rows were read from. A lazy or disabled materialization there would read
  * half-overwritten input, so there is deliberately no switch that
  * turns materialization off or routes it elsewhere.
  *
  * Observability: every eager materialization and shared-table build
  * runs as a named job — its `spark.job.description` is
  * `materialize:<name>` while it runs and the caller's description is
  * restored afterwards (a lazy `once` runs inside the caller's next
  * action, under the caller's description). Job group and call site are
  * untouched (`localCheckpoint at Materialize.scala:…`).
  *
  * Shared tables live under ONE per-JVM root made by
  * `Files.createTempDirectory("graft_shared_")`; catalog tables are
  * prefixed with that root's name, so two JVMs sharing a warehouse can
  * never see each other's tables. One JVM shutdown hook deletes the
  * root and the catalog tables' warehouse directories. */
object Materialize {

  /** Compute `df` once and return a handle whose lineage starts at the
    * materialized blocks. */
  def once(name: String, df: DataFrame, eager: Boolean = true): DataFrame =
    named(df.sparkSession.sparkContext, name)(df.localCheckpoint(eager))

  /** [[once]] for each branch, all branches concurrently; returns the
    * handles in input order. Every branch runs on a fresh thread of a
    * per-call pool, created from the calling thread, so it carries the
    * caller's CURRENT Spark local properties (job group, scheduler
    * pool) — reused global-pool threads keep whatever properties they
    * inherited when first created. All branches finish before a
    * failure is rethrown, so no branch job outlives the call. */
  def parallel(name: String, dfs: DataFrame*): Seq[DataFrame] = {
    val pool = Executors.newFixedThreadPool(dfs.size)
    try {
      val branches = dfs.zipWithIndex.map { case (df, i) =>
        (() => once(s"$name.$i", df)): Callable[DataFrame]
      }
      pool.invokeAll(branches.asJava).asScala.toSeq.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** The parquet table `build` produces, written once per (JVM, `dir`,
    * `name`) under the shared root; every call returns a fresh read. */
  def shared(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val path = new File(root, s"${name}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}")
      .toString
    memo(path) {
      named(spark.sparkContext, name)(build.write.mode("overwrite").parquet(path))
    }
    spark.read.parquet(path)
  }

  /** The catalog form of [[shared]]: `write(prefix)` saves catalog
    * tables named `<prefix>_*`, once per (JVM, `dir`, `name`); returns
    * the prefix. Before a (re)build, tables and warehouse directories
    * under the prefix are dropped — a build that failed half-way left
    * them, and `saveAsTable` refuses an orphaned location. */
  def sharedTables(spark: SparkSession, dir: String, name: String)(
      write: String => Unit): String = {
    val prefix = s"${root.getName}_${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      .toLowerCase(Locale.ROOT)
    memo(prefix) {
      val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh))
        fs.listStatus(wh).map(_.getPath).filter(_.getName.startsWith(prefix + "_"))
          .foreach { p =>
            spark.sql(s"DROP TABLE IF EXISTS ${p.getName}")
            fs.delete(p, true)
          }
      if (fs.getUri.getScheme == "file")
        warehouses.add(new File(fs.makeQualified(wh).toUri) -> prefix)
      named(spark.sparkContext, name)(write(prefix))
    }
    prefix
  }

  /** One holder per key: concurrent first callers block on the holder,
    * a build that throws leaves it empty (the next call retries), and a
    * build may itself call [[shared]] for another key — a single
    * `computeIfAbsent` would forbid that and hold a map lock for the
    * whole multi-second job. */
  private final class Slot { var built = false }
  private val slots = new ConcurrentHashMap[String, Slot]()

  private def memo(key: String)(build: => Unit): Unit = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (!slot.built) { build; slot.built = true }
    }
  }

  private val JobDescription = "spark.job.description"

  private def named[T](sc: SparkContext, name: String)(body: => T): T = {
    val caller = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"materialize:$name")
    try body finally sc.setLocalProperty(JobDescription, caller)
  }

  private val warehouses = ConcurrentHashMap.newKeySet[(File, String)]()

  private lazy val root: File = {
    val r = Files.createTempDirectory("graft_shared_").toFile
    sys.addShutdownHook {
      deleteTree(r)
      warehouses.asScala.foreach { case (wh, prefix) =>
        Option(wh.listFiles).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith(prefix + "_")).foreach(deleteTree)
      }
    }
    r
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
