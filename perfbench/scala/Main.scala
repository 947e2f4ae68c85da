package graftbench

import scala.collection.mutable

/** JVM side of the benchmark; `perfbench/run.py` builds and launches it.
  *
  * Usage: graftbench.Main <workload> <seed> <trace 0|1> <nproc> <runDir>
  *          <sfDir> <launchEpochMs> <resultJson>
  *
  * `runDir` is this JVM's private scratch: java.io.tmpdir, spark.local.dir,
  * the streaming scratch, the generated corpus and the pipeline work dirs
  * all live under it. `sfDir` holds the sweep's tables. The result file
  * carries the metrics, the output checks and what the timed region cost in
  * CPU; run.py adds the DuckDB oracle check and prints.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seedS, traceS, nprocS, runDir, sfDir, launchMs, resultPath) = args
    val out = new Result(launchMs.toLong)
    val code = try {
      val nproc = nprocS.toInt
      val spark = graft.util.Sessions.local(nproc, appName = s"graftbench-$workload",
        localDir = Some(s"$runDir/spark-local"))
      spark.sparkContext.setLogLevel("ERROR")
      out.cores = spark.sparkContext.defaultParallelism
      workload match {
        case "sweep" => Sweep.run(spark, sfDir, traceS == "1", out)
        case "build_long" => Builds.run(spark, seedS.toLong, traceS == "1", runDir, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      spark.stop()
      0
    } catch {
      case e: Throwable =>
        out.note(s"error: $e")
        e.printStackTrace()
        1
    }
    out.peakRssMb = Proc.peakRssMb
    Files.write(resultPath, out.json)
    sys.exit(code)
  }
}

/** What one JVM run measured and checked. */
final class Result(launchMs: Long) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var cores = 0
  var setupS = -1.0
  /** Seconds before ready-to-time that are not set-up (input generation). */
  var excludedFromSetupS = 0.0
  var peakRssMb = 0.0
  /** Highest process CPU ÷ (cores × wall) over any timed region. */
  var cpuOverCapacity = 0.0
  var spans = "[]"
  var queryCounts = "{}"
  var oracleSql = "{}"

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def check(name: String, v: Double, ok: Boolean): Unit = checks += ((name, v, ok))
  def note(s: String): Unit = notes += s
  def ready(): Unit =
    setupS = (System.currentTimeMillis() - launchMs) / 1e3 - excludedFromSetupS
  def observeCpu(cpuS: Double, wallS: Double): Unit =
    cpuOverCapacity = math.max(cpuOverCapacity, cpuS / (cores * wallS))

  /** The timed job's metrics. The `_norm_s` forms rescale the job to the
    * box speed the benchmark was sized on, where [[Calib]] took
    * [[Calib.ReferenceS]]: other tenants slow the job and the yardstick
    * alike, so the ratio holds steady while raw seconds drift with them.
    */
  def job(wallS: Double, cpuS: Double, calibS: Double): Unit = {
    observeCpu(cpuS, wallS)
    metric("job_s", wallS)
    metric("job_cpu_s", cpuS)
    metric("calib_s", calibS)
    metric("job_norm_s", wallS * Calib.ReferenceS / calibS)
    metric("job_cpu_norm_s", cpuS * Calib.ReferenceS / calibS)
  }

  def json: String = {
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val cs = checks.map { case (k, v, ok) =>
      s"""{"name":${Json.str(k)},"value":${Json.num(v)},"ok":$ok}"""
    }.mkString("[", ",", "]")
    val ns = notes.map(Json.str).mkString("[", ",", "]")
    s"""{"metrics":$ms,"checks":$cs,"notes":$ns,"attempted":$attempted,""" +
      s""""failed":$failed,"cores":$cores,"setup_s":${Json.num(setupS)},""" +
      s""""peak_rss_mb":${Json.num(peakRssMb)},"cpu_over_capacity":${Json.num(cpuOverCapacity)},""" +
      s""""query_counts":$queryCounts,"oracle_sql":$oracleSql,"spans":$spans}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** A yardstick of how fast the box is right now: `threads` threads each
  * follow a fixed chain of dependent random reads over a 32 MB table, which
  * is slowed by the same CPU steal and cache and memory contention from
  * other tenants that slow the job. Median of five timings, in seconds.
  */
object Calib {
  /** What `seconds(4)` took on an idle 4-CPU, 15 GB VM; only sets the scale
    * of the normalized metrics.
    */
  val ReferenceS = 0.3
  private val Mask = (1 << 22) - 1
  private val Steps = 2000000
  private lazy val table = Array.tabulate(Mask + 1)(i => i.toLong * 0x9E3779B97F4A7C15L)
  @volatile private var sink = 0L

  private def once(threads: Int): Double = {
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = t + 1L
        var i = 0
        while (i < Steps) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          x += table((x & Mask).toInt)
          i += 1
        }
        sink += x
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def seconds(threads: Int): Double = {
    once(threads)
    val xs = Seq.fill(5)(once(threads)).sorted
    xs(2)
  }
}

object Proc {
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Files {
  import java.nio.file.{Files => JFiles, Paths}

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => JFiles.delete(f))
      finally s.close()
    }
  }

  def write(path: String, s: String): Unit =
    JFiles.write(Paths.get(path), s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
