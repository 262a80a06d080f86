package graft

import graft.model._
import graft.oracle.Oracle
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.jdk.CollectionConverters._

/** The Spark test harness every Spark suite mixes in.
  *
  *  - `spark` is one session per test JVM ([[SparkSuite.session]]). A
  *    suite that needs another runtime conf sets it on that session.
  *  - `tempDir` makes scratch directories under one root per suite;
  *    `afterAll` stops the session's streams, then deletes the root.
  *  - `withListener`, `countingJobs` and `executions` wait for Spark's
  *    listener bus by draining it, never by sleeping.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = SparkSuite.session

  private var root: Path = _

  /** A fresh directory named `prefix…` under this suite's root. */
  protected def tempDir(prefix: String): String = {
    if (root == null) root = Files.createTempDirectory(s"graft_${suiteName}_")
    Files.createTempDirectory(root, prefix).toString
  }

  override protected def afterAll(): Unit =
    try if (root != null) {
      spark.streams.active.foreach(_.stop())
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
    } finally super.afterAll()

  /** Runs `body` with `listener` registered on the shared listener
    * queue; when `body` returns, `listener` has seen all of its events. */
  protected def withListener[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { val out = body; drain(); out }
    finally sc.removeSparkListener(listener)
  }

  /** Runs `body` in job group `group`; returns its result and the
    * number of jobs it started. */
  protected def countingJobs[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e, group)) jobs.incrementAndGet(): Unit
    }
    val out = withListener(listener) {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    (out, jobs.get())
  }

  /** The SQL executions `body` completes, as (action name, execution),
    * in completion order. The session's `ExecutionListenerBus` sits on
    * the shared listener queue, so the drain delivers every one. */
  protected def executions(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; drain() } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Runs a one-task job in a job group of its own and waits for its
    * `JobStart`. The shared queue delivers events in order, so every
    * event posted before the job has reached every listener on it. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val group = s"drain-${java.util.UUID.randomUUID}"
    val started = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e, group)) started.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setJobGroup(group, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(started.await(60, TimeUnit.SECONDS), "the listener bus did not drain in 60 s")
    } finally sc.removeSparkListener(marker)
  }

  private def inGroup(e: SparkListenerJobStart, group: String): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)
}

object SparkSuite {

  /** The test JVM's one session: `local[4]`, 8 shuffle partitions,
    * UTC, no UI, WARN logging. */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The plain-Scala oracle's (text, cells) for one turn, dispatched on
    * its tool: the expectation of the per-turn equality gate. */
  def oracleExtract(turn: Turn): (String, Seq[Cell]) = {
    val pl = PayloadCodec.decode(turn.text)
    turn.tool match {
      case Tool.Quick =>
        (Oracle.quickText(pl.boxes.toSeq), Oracle.simpleCells(pl.boxes.toSeq))
      case Tool.TableSimple => ("", Oracle.simpleCells(pl.boxes.toSeq))
      case Tool.TableBands  => ("", Oracle.bandCells(pl))
      case Tool.TableRects  => ("", Oracle.rectCells(pl))
      case Tool.HtmlMain    => (graft.kernel.HtmlMain.extractText(turn.text), Seq.empty)
      case _                => (turn.text, Seq.empty)
    }
  }
}
