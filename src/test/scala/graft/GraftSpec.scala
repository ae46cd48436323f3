package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture: one SparkSession for the whole JVM test run. */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterEach {

  /** Per-test owner of operator pins (the Verify/Bench contract):
    * storage stays flat across the whole suite run. */
  override protected def afterEach(): Unit = {
    Pins.release()
    super.afterEach()
  }
  lazy val spark: SparkSession = {
    // hive-enabled so HiveSurfaceSpec (ddl02) exercises the real
    // metastore-backed catalog; every other spec is catalog-agnostic
    val dir = java.nio.file.Files.createTempDirectory("graft-hive").toString
    System.setProperty("derby.system.home", dir)
    val s = GraftSession.hiveBuilder(4, dir).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** Smallest driver-generated dataset — correctness, not throughput. */
  val SF = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. */
  def jobsOf(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** Leave a file at each table's default location with no catalog
    * entry — what a previous process's index fit leaves behind when the
    * catalog is in-memory. */
  def orphanLocations(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(t)))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(loc, "part-00000-orphan")).close()
  }

  def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(df.explain("formatted"))
    out.toString
  }
}
