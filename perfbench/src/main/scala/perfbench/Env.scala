package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Spark sessions, scratch paths and small measurement helpers.
  *
  * Every path the benchmark writes lives under the per-run work directory
  * that `run.py` creates inside the checkout and removes afterwards; Spark's
  * block manager and spill files follow `SPARK_LOCAL_DIRS`, which `run.py`
  * points into the same directory. */
object Env {

  /** A local session at `cores` cores, with the small-file knobs the
    * library's own benchmark uses so that a corpus of a few MB still splits
    * into one task per core. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (128L << 10).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (2L << 20).toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def delete(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true); ()
  }

  /** Total bytes of every file under `path`. */
  def bytesUnder(spark: SparkSession, path: String): Long =
    fs(spark, path).getContentSummary(new Path(path)).getLength

  def nowNs: Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = nowNs
    val r = f
    (r, msSince(t0))
  }

  /** Linear-interpolated percentile (q in [0, 1]) of an unsorted sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Least heap in use over three full collections, in MB. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed
    }.min / (1024.0 * 1024.0)
  }
}
