package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._

import graft.core.Materialize

/** The materialization seam: shared-table memo semantics, named jobs,
  * and job-group propagation into parallel branches. */
class MaterializeSpec extends SparkSuite {

  private val JobDescription = "spark.job.description"
  private val JobGroup = "spark.jobGroup.id"

  /** (description, job group) of every job started while `body` runs
    * whose description starts with `prefix`; waits for at least
    * `minJobs` of them to reach the asynchronous listener bus. */
  private def jobsDuring(prefix: String, minJobs: Int)(
      body: => Unit): Seq[(String, String)] = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val d = p.getProperty(JobDescription, "")
          if (d.startsWith(prefix)) seen.add(d -> p.getProperty(JobGroup, ""))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      eventually(timeout(30.seconds)) { assert(seen.size >= minJobs) }
      seen.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("shared builds once under 8 concurrent first callers") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val calls = (1 to 8).map { _ =>
      pool.submit { () =>
        start.await()
        Materialize.shared(spark, "spec/concurrent", "t") {
          builds.incrementAndGet()
          Thread.sleep(200) // keep the window for a second build open
          spark.range(5).toDF("id")
        }.count()
      }
    }
    start.countDown()
    val counts = calls.map(_.get(2, TimeUnit.MINUTES))
    pool.shutdown()
    assert(builds.get === 1)
    assert(counts.forall(_ === 5L))
  }

  test("a shared build may read another shared table it builds first") {
    val inner = () => Materialize.shared(spark, "spec/nested", "inner") {
      spark.range(4).toDF("id")
    }
    val outer = Materialize.shared(spark, "spec/nested", "outer") {
      inner().withColumn("twice", col("id") * 2)
    }
    assert(outer.orderBy("id").collect().map(_.getLong(1)).toSeq ===
      Seq(0L, 2L, 4L, 6L))
    assert(inner().count() === 4L)
  }

  test("a shared build that throws is not cached: the next call retries") {
    val builds = new AtomicInteger()
    def call() = Materialize.shared(spark, "spec/retry", "t") {
      if (builds.incrementAndGet() == 1) throw new RuntimeException("first build fails")
      spark.range(3).toDF("id")
    }
    assert(intercept[RuntimeException](call()).getMessage === "first build fails")
    assert(call().count() === 3L)
    assert(call().count() === 3L)
    assert(builds.get === 2)
  }

  test("once runs as a named job and restores the caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("spec caller")
    try {
      val jobs = jobsDuring("materialize:spec.once", minJobs = 1) {
        assert(Materialize.once("spec.once", spark.range(10).toDF("id")).count() === 10L)
      }
      assert(jobs.map(_._1).contains("materialize:spec.once"))
      assert(sc.getLocalProperty(JobDescription) === "spec caller")
    } finally sc.setJobDescription(null)
  }

  test("parallel branch jobs carry the calling thread's current job group") {
    val sc = spark.sparkContext
    val jobs = jobsDuring("materialize:spec.par", minJobs = 4) {
      Seq("op-1", "op-2").foreach { group =>
        sc.setJobGroup(group, s"spec $group")
        try {
          val Seq(a, b) = Materialize.parallel(s"spec.par.$group",
            spark.range(20).toDF("id").filter(col("id") % 2 === 0),
            spark.range(30).toDF("id").groupBy((col("id") % 3).as("k")).count())
          assert(a.count() === 10L && b.count() === 3L)
        } finally sc.clearJobGroup()
      }
    }
    Seq("op-1", "op-2").foreach { group =>
      assert(jobs.exists(_._1.startsWith(s"materialize:spec.par.$group.")))
    }
    jobs.foreach { case (desc, group) =>
      assert(desc.startsWith(s"materialize:spec.par.$group."), (desc, group))
    }
  }

  test("parallel rethrows a failing branch's error") {
    val boom = udf { (x: Long) =>
      if (x == 2L) throw new IllegalStateException("branch boom") else x
    }
    val err = intercept[Exception] {
      Materialize.parallel("spec.fail",
        spark.range(5).toDF("id"),
        spark.range(5).select(boom(col("id")).as("id")))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("branch boom")))
  }

  test("warm-up reports each failing shared table on stderr and keeps going") {
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try graft.queries.Inventory.warmSharedTables(spark, "/nonexistent/warm")
    finally System.setErr(stderr)
    val failures = captured.toString.linesIterator
      .filter(_.startsWith("[warm-up] shared table")).toSeq
    assert(failures.size === 8, failures)
  }
}
