package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — same config surface as Verify/Bench. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** A fresh temp dir for `body`, deleted with everything in it after. */
  def withTempDir[T](prefix: String)(body: String => T): T =
    SparkSpec.withTempDir(prefix)(body)

  private val suiteDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A temp dir shared by the suite's tests, deleted when the suite ends. */
  def suiteTempDir(prefix: String): String = suiteDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    suiteDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try suiteDirs.synchronized(suiteDirs.foreach(SparkSpec.deleteRecursively))
    finally super.afterAll()
}

object SparkSpec {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = Files.createTempDirectory(prefix)
    try body(d.toString) finally deleteRecursively(d)
  }

  // One session per JVM: forked test JVM reuses it across suites.
  lazy val session: SparkSession = {
    // static conf: bucketed-table specs write managed tables here
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(deleteRecursively(warehouse))
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
  }
}
