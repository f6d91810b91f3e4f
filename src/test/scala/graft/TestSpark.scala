package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (JVM-forked once by sbt). */
object TestSpark {
  /** This run's scratch root: the warehouse and every fixed-name spec
    * directory live under it, so two runs on one machine (two clones, or
    * a checkout tested beside its parent) never share a directory.
    * Removed when the JVM exits.
    */
  lazy val tmpRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-test-").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getPath
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmpRoot/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.install(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
