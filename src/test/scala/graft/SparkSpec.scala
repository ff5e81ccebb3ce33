package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark startup dominates test wall-clock otherwise). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one-file-per-bucket sorted scans (BucketedTables.writeBucketed
    // guarantees the layout); lets bucketed merge joins skip the Sort
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sfDir: String = TestSpark.sfDir

  /** Remove every persisted store (tmpdir `graft_*` directory + catalog
    * table) derived from a TEST-LOCAL corpus dir. Lifecycle tests mint
    * a fresh tmp corpus per run, so their stores' path tags never
    * repeat — without this, each `sbt test` leaks a handful of
    * orphaned store generations into java.io.tmpdir forever. */
  def purgeDerivedStores(corpusDir: String): Unit = {
    val tag = graft.sources.IndexStore.pathTag(corpusDir)
    val root = new java.io.File(sys.props("java.io.tmpdir"))
    val rm = graft.sources.IndexStore.deleteRecursively _
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(tag))
      .foreach(rm)
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.contains(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    rm(new java.io.File(corpusDir)) // deleteOnExit cannot remove non-empty dirs
  }
}
