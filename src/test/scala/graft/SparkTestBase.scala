package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suites (one JVM per `sbt test` fork;
  * suites run sequentially and share the session via getOrCreate).
  * Warehouse + metastore point at a temp dir so catalog tests never
  * collide with the repo-cwd state Verify/Bench leave behind. */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Smallest driver-generated scale — the suites assert semantics, not
    * throughput (TESTDATA.md: t1 smoke scale). */
  val sfDir = "/root/testdata/sf0.001"

  /** The exception with its cause chain, outermost first — shared by
    * every test that asserts a named guard surfaces through
    * foreachBatch's StreamingQueryException wrapping. Guarded against
    * self-referential causes (getCause cycles would loop forever). */
  def causes(t: Throwable): Seq[Throwable] = {
    val seen = scala.collection.mutable.ListBuffer[Throwable]()
    var cur = t
    while (cur != null && !seen.contains(cur)) { seen += cur; cur = cur.getCause }
    seen.toList
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_test_wh").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    // Spark logs every job, stage and task at INFO; at WARN a failing
    // test's output is not buried under them
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
