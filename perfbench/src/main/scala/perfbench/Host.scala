package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** What the host was doing around a run, so that a contended run can be
  * recognised from its own output: load average, CPU steal, and a fixed
  * CPU-only calibration loop timed before and after the workload.
  */
object Host {

  private def read(p: String): Option[String] =
    scala.util.Try(Files.readString(Paths.get(p))).toOption

  def loadavg(): Double =
    read("/proc/loadavg").flatMap(s =>
      scala.util.Try(s.split(" ")(0).toDouble).toOption).getOrElse(-1.0)

  /** (steal jiffies, total jiffies) from the aggregate cpu line. */
  def cpuTimes(): (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      }.getOrElse((0L, 0L))

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  /** A fixed amount of single-threaded integer and floating-point work;
    * its time moves only with the CPU share the process gets.
    */
  def calibrationMs(): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var acc = 0.0; var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xffff) * 1e-5
        i += 1
      }
      if (acc == 42.0) println("") // keep the loop live
      (System.nanoTime() - t) / 1e6
    }
    Stats.median(Seq.fill(3)(once()))
  }

  /** One contention sample: load, calibration time and the steal share
    * while the calibration ran.
    */
  def sample(): scala.collection.Map[String, Any] = {
    val c0 = cpuTimes()
    val cal = calibrationMs()
    val c1 = cpuTimes()
    Json.obj("loadavg" -> loadavg(), "calibration_ms" -> cal,
      "steal_pct" -> stealPct(c0, c1))
  }

  /** Peak resident set of this process, in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:"))).map(l =>
        l.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** Bytes and files under a directory tree, without checksum files
    * and success markers.
    */
  def dirStats(dir: String): (Long, Int) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") &&
          p.getFileName.toString != "_SUCCESS").toSeq
        (fs.map(p => Files.size(p)).sum, fs.size)
      } finally s.close()
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
