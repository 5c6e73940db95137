package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One shared local session for the whole test run.
  *
  * The reliable-checkpoint dir is set HERE, once, for the JVM's lifetime:
  * `SparkContext.setCheckpointDir` writes a private var that no public API
  * can unset, so a test that set it ad hoc would silently flip every
  * later-running suite from local to reliable checkpointing — test-order-
  * dependent behavior. Pinning it at session creation makes every suite run
  * under the same (reliable) checkpoint mode deterministically; suites that
  * assert on checkpoint-file hygiene diff [[checkpointRddDirs]] around the
  * call instead of assuming an empty dir.
  */
object TestSpark {
  /** A new temp dir for one test's files, deleted when the JVM exits. */
  def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag).toString
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    }
    d
  }

  val checkpointDir: String = freshDir("graft-test-ckpt")

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // compacted ledgers are metastore tables: keep them in this run's
      // temp dir, not in ./spark-warehouse
      .config("spark.sql.warehouse.dir", freshDir("graft-test-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(checkpointDir)
    GraftSession.tune(s)
  }

  /** Current `rdd-*` checkpoint dirs under the fixture dir (layout:
    * `<ckpt>/<uuid>/rdd-*`). Tests diff this set around a call to assert
    * what the call left behind.
    */
  def checkpointRddDirs: Set[String] = {
    val d = new java.io.File(checkpointDir).listFiles()
    if (d == null) Set.empty
    else d.flatMap(u => Option(u.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(_.getName.startsWith("rdd-")).map(_.getAbsolutePath).toSet
  }

  val sfDir = "/root/testdata/sf0.001"
}
