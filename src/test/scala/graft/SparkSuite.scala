package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for test suites — one session per suite,
  * isolated warehouse/metastore dirs so saveAsTable tests don't clash.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = java.nio.file.Files.createTempDirectory("graft-test").toString

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
    .config("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  locally { spark.sparkContext.setLogLevel("WARN") }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** The (dir, file, row position) triples the given DV sidecars of the
    * table at `root` hide, decoded bitmap by bitmap on the driver.
    */
  def hiddenPositions(root: org.apache.hadoop.fs.Path,
                      sidecars: Seq[String]): Seq[(String, String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.GraftDvBitmap.listBitmaps(spark, root, sidecars)
      .flatMap { case (d, f, p) =>
        graft.sources.GraftDvBitmap.load(conf, p).toSeq.map(pos => (d, f, pos))
      }
  }

  /** Directories under the versioned table at `dir` that no manifest of
    * its log names as data, change data or a deletion-vector sidecar —
    * what a losing writer left behind for `vacuum`.
    */
  def unreferencedDirs(dir: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val named = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_graft_log"))
      .map(_.getPath).filter(_.getName.matches("\\d{8}\\.json"))
      .flatMap { p =>
        val in = fs.open(p)
        val c = try graft.sources.VersionedTable.decodeCommit(in) finally in.close()
        c.added ++ c.cdf ++ c.dvAdd ++ c.dvReset.toSeq.flatMap(_.values.flatten)
      }.toSet
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).toSet -- named
  }

  /** Runs `body` and counts the Spark jobs it started. */
  def countingJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val c = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(c)
    try {
      val r = body
      // the listener bus is async (and its drain API is private):
      // poll until the counter is quiescent before reading it
      var last = -1
      var spins = 0
      while (n.get() != last && spins < 50) {
        last = n.get(); Thread.sleep(100); spins += 1
      }
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(c)
  }

  override def afterAll(): Unit = {
    // deliberately keep the session (shared JVM across suites in sbt)
    super.afterAll()
  }
}
