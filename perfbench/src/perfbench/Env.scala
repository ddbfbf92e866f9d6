package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def q(s: String): String = graft.Json.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}

/** The Spark session every workload runs in: `local[cores]`, one client.
  * The settings mirror graft.Bench's harness session (shuffle partitions
  * = cores, `initialPartitionNum` sized at 32 MB of fixture parquet per
  * partition, the sort-based shuffle writer, catalog-driven partition
  * listing). Scratch space (`spark.local.dir`) is a fresh directory of the
  * run, inside the checkout, rather than graft.Bench's tmpfs default.
  */
object Session {
  def start(cores: Int, localDir: String, fixtureBytes: Long): SparkSession = {
    val initialParts = math.min(1024L, math.max(cores.toLong, fixtureBytes / (32L << 20)))
    Files.createDirectories(Paths.get(localDir))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initialParts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The settings the result depends on, for the provenance record. */
  def effectiveConf(spark: SparkSession): Seq[(String, String)] =
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.shuffle.sort.bypassMergeThreshold", "spark.local.dir",
      "spark.sql.adaptive.enabled", "spark.sql.codegen.cache.maxEntries",
      "spark.sql.session.timeZone", "spark.driver.memory")
      .map(k => k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("(default)"))
}

/** Samples, while a run goes on, how busy the machine is and how much of
  * that is this process: CPU taken by other processes means the run's
  * timings are not comparable, and the run says so.
  */
final class Contention(cores: Int) {
  private def procStatBusy(): Long = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
  }
  private def selfBusy(): Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong // utime stime
  }
  private def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble

  private val t0 = System.nanoTime()
  private val busy0 = procStatBusy()
  private val self0 = selfBusy()
  @volatile private var peakLoad = load1()
  private val sampler = new Thread(() => {
    try while (true) {
      Thread.sleep(500)
      peakLoad = math.max(peakLoad, load1())
    } catch { case _: InterruptedException => () }
  }, "perfbench-load")
  sampler.setDaemon(true)
  sampler.start()

  /** (peak 1-min load, share of all cores other processes used, contended). */
  def finish(): (Double, Double, Boolean) = {
    sampler.interrupt()
    sampler.join()
    val hz = 100.0 // USER_HZ on Linux
    val wall = (System.nanoTime() - t0) / 1e9
    val others = ((procStatBusy() - busy0) - (selfBusy() - self0)) / hz
    val share = math.max(0.0, others / (wall * cores))
    (peakLoad, share, share > 0.15)
  }
}

object Proc {
  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def jvmFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).toSeq

  /** Content stamp of a fixture directory: MD5 over file names and bytes. */
  def fixtureStamp(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).foreach { f =>
      md.update(f.getFileName.toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
    all.foreach(Files.deleteIfExists)
  }

  /** Regular files under `p`. */
  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f)).toLong
}
