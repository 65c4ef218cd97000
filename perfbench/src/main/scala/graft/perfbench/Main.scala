package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Sizes of one benchmark run. `full` is what the benchmark measures;
  * `smoke` exercises the same code in seconds.
  */
final case class Sizes(buildDocs: Int, serveDocs: Int, flatPerClass: Int, sdmPerClass: Int,
                       lmPerClass: Int, flatBatch: Int, sdmBatch: Int, minSingle: Int,
                       analyzeDocs: Int)

object Sizes {
  val full = Sizes(buildDocs = 20000, serveDocs = 10000, flatPerClass = 4, sdmPerClass = 2,
    lmPerClass = 4, flatBatch = 24, sdmBatch = 6, minSingle = 24, analyzeDocs = 2000)
  val smoke = Sizes(buildDocs = 2000, serveDocs = 2000, flatPerClass = 2, sdmPerClass = 1,
    lmPerClass = 1, flatBatch = 8, sdmBatch = 2, minSingle = 12, analyzeDocs = 200)
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      smoke: Boolean, runDir: Path, outDir: Path)

/** What a run reports: operations attempted and failed, whether every
  * check passed, and its metrics as (name, value, unit).
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(msg: String): Unit = synchronized { failed += 1; problems += msg }
  /** A failed self-consistency check of the benchmark, not an operation. */
  def problem(msg: String): Unit = synchronized { problems += msg }
  def put(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  def json(keys: Seq[String]): String = {
    val missing = keys.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = keys.map { k =>
      val (v, u) = metrics(k)
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": ${problems.isEmpty && failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Main {

  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "items_per_s",
    "index_bytes_per_input_byte", "rss_peak_mb")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", m.get("--smoke").contains("1"),
      Paths.get(need("--run-dir")).toAbsolutePath, Paths.get(need("--out-dir")).toAbsolutePath)
  }

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores * 6)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selfcheck")) { SelfCheck.run(); return }
    val a = parse(argv)
    require(a.seconds >= 1, "--seconds must be at least 1")
    val sizes = if (a.smoke) Sizes.smoke else Sizes.full
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.runDir)
    Files.createDirectories(a.outDir)
    val spark = session(a, cores)
    val out = new Outcome
    val trace = new Trace(spark.sparkContext, a.trace)
    try {
      val w = new Workloads(spark, a, sizes, cores, trace, out)
      a.workload match {
        case "bulk_build" => w.bulkBuild()
        case "serve" => w.serve()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.put("rss_peak_mb", rssPeakMb(), "MB")
      if (a.trace) {
        trace.dump(a.outDir.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
        Files.writeString(a.outDir.resolve(s"metrics-${a.workload}-${a.seed}.json"),
          out.json(out.metrics.keys.toSeq))
      }
      out.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
      System.err.println(s"[perfbench] fail ratio ${Stats.failRatio(out.failed, out.attempted)} " +
        s"(${out.failed} of ${out.attempted} operations)")
      println(out.json(if (a.trace) Workloads.PerLayer else EndToEnd))
    } finally spark.stop()
  }
}
