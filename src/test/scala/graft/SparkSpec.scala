package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark sessions are
  * expensive; ScalaTest suites run sequentially in one JVM under sbt).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the production extensions (native functions + the bounded-dim
      // broadcast rule) — tests must see the same planner users do
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // mirror GraftSession: keep a TIMESTAMP(NANOS) events regen readable
      // so Tables.events' LongType branch stays live (see GraftSession)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror GraftSession: the TxLog SQL catalog must be testable
      .config("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  /** sf0.001 keeps unit tests fast; sf0.01 is the driver's oracle SF. */
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  /** Runs `body` with the session conf `k` set to `v`, then restores it. */
  def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The data files the executed plan of `df` reads: the distinct files
    * of every `FileSourceScanExec`'s file-scan RDD, found by walking the
    * executed plan's RDD lineage (through shuffles, unions and a catalog
    * table's V1 scan), so the count is what the scans list after their
    * file index skipped. Runs the plan's stages up to its last one. */
  def scannedFiles(df: DataFrame): Int = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    def files(r: RDD[_]): Seq[String] = (r match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.filePath.toString))
      case _ => Nil
    }) ++ r.dependencies.flatMap(d => files(d.rdd))
    files(df.queryExecution.toRdd).distinct.size
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobPropertiesDuring(body).size

  /** The local properties of each Spark job started while `body` runs: a
    * listener records job starts between two sentinel jobs (listener
    * events arrive in order, so once the closing sentinel's start is
    * seen, every earlier start was). */
  def jobPropertiesDuring(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val key = "graft.test.sentinel"
    val seen = new ConcurrentLinkedQueue[Properties]()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("open") => opened.countDown()
          case Some("close") => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount > 0)
            seen.add(Option(e.properties).getOrElse(new Properties()))
        }
    }
    def sentinel(which: String, latch: CountDownLatch): Unit = {
      sc.setLocalProperty(key, which)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(latch.await(60, TimeUnit.SECONDS), s"sentinel $which never arrived")
    }
    sc.addSparkListener(listener)
    try {
      sentinel("open", opened)
      body
      sentinel("close", closed)
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
