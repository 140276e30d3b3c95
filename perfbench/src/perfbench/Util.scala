package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank `q`-quantile of `samples`, each tagged with the group it
    * belongs to (a micro-batch for stream events, the sample itself for
    * queries). Samples within one group are correlated, so the quantile is
    * only reported when at least `minBeyond` distinct groups have a sample
    * strictly above it; otherwise the run does not support that
    * percentile and the result is None.
    */
  def tail(samples: Seq[(Double, Long)], q: Double, minBeyond: Int = 10): Option[Double] =
    if (samples.isEmpty) None
    else {
      val s = samples.map(_._1).sorted
      val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
      val v = s(rank - 1)
      val beyond = samples.iterator.filter(_._1 > v).map(_._2).toSet.size
      if (beyond >= minBeyond) Some(v) else None
    }

  /** The highest of the usual percentiles that [[tail]] supports, with the
    * quantile it is.
    */
  def highestTail(samples: Seq[(Double, Long)]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).iterator.flatMap(q => tail(samples, q).map(q -> _)).nextOption()
}

/** Process and host readings from /proc (Linux). */
object Proc {
  private val ClockTicks = 100.0

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** User + system CPU seconds of this process, from /proc/self/stat. */
  def cpuSeconds(): Double = {
    val s = Files.readString(Paths.get("/proc/self/stat"))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / ClockTicks
  }

  /** Peak resident set (VmHWM) of this process, MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Heap in use right after a full collection, MiB: the data the program
    * keeps live at the moment of the call. The first collection hands dead
    * broadcasts and shuffles to Spark's ContextCleaner, whose thread drops
    * their blocks asynchronously; the pause and second collection keep that
    * timing out of the reading.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAvg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  /** Host-wide hypervisor-steal CPU seconds so far (the `steal` column of
    * /proc/stat's aggregate cpu line), as graft.Bench records it.
    */
  def stealSeconds(): Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8 && f(0) == "cpu") f(8).toLong / ClockTicks else -1.0
  }
}

/** Health stamp of one run: not a gate, for telling an unsteady host from
  * a regression.
  */
final class Health(seed: Long) {
  private val load0 = Proc.loadAvg()
  private val steal0 = Proc.stealSeconds()

  def finish(extra: ListMap[String, Any]): ListMap[String, Any] =
    ListMap("nproc" -> Proc.nproc, "seed" -> seed, "load_start" -> load0,
      "load_end" -> Proc.loadAvg(),
      "steal_cpu_s" -> (Proc.stealSeconds() - steal0)) ++ extra
}

/** JSON output of the result line and the artifacts, through Jackson's
  * Scala module (maps keep their insertion order, None writes null).
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, apply(v) + "\n")
  }
}
