package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}

trait SparkSpec { this: org.scalatest.Suite =>
  lazy val spark: SparkSession = {
    val s = SparkSpec.session
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
