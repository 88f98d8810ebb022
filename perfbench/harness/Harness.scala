package perfbench

import java.io.{FileOutputStream, OutputStreamWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the progress stream (no extra dependency). */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Process-level clocks of this JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU of every thread of the process, ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Spark code-generation compiles and JVM JIT compile milliseconds so far. */
  def compiles(): (Long, Long) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  /** VmHWM of this process, MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes of regular files under `dir`. */
  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Append-only JSON-lines stream the launcher reads, even after it has
  * killed this JVM at the deadline: each line is flushed as written. */
final class Progress(path: String) {
  private val w = new OutputStreamWriter(new FileOutputStream(path, true), StandardCharsets.UTF_8)

  def emit(kv: (String, Any)*): Unit = synchronized {
    w.write(Json.obj(kv :+ ("t_ms" -> System.currentTimeMillis()): _*))
    w.write("\n")
    w.flush()
  }
}

/** Entry point: one benchmark run of one workload inside one JVM.
  *
  * Usage: perfbench.Harness --workload W --seed S --seconds T --trace 0|1
  *   --size N --work DIR
  *
  * The run writes `progress.jsonl`, and with tracing `spans.jsonl`, into
  * DIR. Set-up (session start, input generation and write, warm-up) comes
  * first; the timed region then runs T seconds' worth of operations at the
  * workload's nominal operation length; output checks run between
  * operations, outside the timing. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: Int, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("size").toInt, m("work"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val progress = new Progress(s"${args.work}/progress.jsonl")
    val spark = session(args.work)
    progress.emit("ev" -> "session", "epoch_ms" -> System.currentTimeMillis())
    try {
      val run: Workload = args.workload match {
        case "ann_queries" => new AnnWorkload(spark, args, progress)
        case w if Dedup.Kinds.contains(w) => new DedupWorkload(spark, args, progress)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.setup()
      val layers = if (args.trace) run.traced() else { run.timed(); Map.empty[String, Any] }
      progress.emit("ev" -> "done", "peak_rss_mb" -> Proc.peakRssMb(), "layers" -> layers)
    } finally spark.stop()
  }
}

/** A workload: set-up, then either the timed loop or the traced run, which
  * returns the per-layer metrics. */
trait Workload {
  def setup(): Unit
  def timed(): Unit
  def traced(): Map[String, Any]
}
