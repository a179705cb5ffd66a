package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide singleton). */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.session

  /** Runs `body` on a fresh temp directory and deletes the tree after it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete()
    }
    try body(dir.getPath)
    finally delete(dir)
  }
}

object SparkSessionTestWrapper {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
