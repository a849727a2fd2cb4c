package perfbench

import java.nio.file.{Paths, Files => JFiles}
import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (`run.py` builds it). `inputs` is the
  * directory run.py generates the workload's tables into while the JVM
  * starts. `historyTicks` and `maxCycles` size `cycle_steady` (0 for
  * `query_paths`). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String,
                      inputs: String, historyTicks: Int, maxCycles: Int)

/** What one run measured: end-to-end and per-layer metrics, the attempt and
  * failure counts, and free-form detail for the artifact. */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
                        attempted: Long, failed: Long, detail: Map[String, Any])

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def one(k: String) = kv.find(_._1 == k).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String) = kv.find(_._1 == k).map(_._2.toInt).getOrElse(0)
    val a = Args(one("workload"), one("seed").toLong, one("seconds").toDouble,
      one("trace") == "1", one("work"), one("out"), one("inputs"),
      int("history_ticks"), int("max_cycles"))
    val cpus = Runtime.getRuntime.availableProcessors
    val query = a.workload == "query_paths"
    val b = SparkSession.builder()
      .appName("graft-etl")
      .master(s"local[${math.min(32, cpus)}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
    // query paths run under Verify's and Bench's session settings
    if (query) b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())
    val ready = java.nio.file.Paths.get(a.inputs, "READY")
    while (!JFiles.exists(ready)) Thread.sleep(20)
    val r = try a.workload match {
      case "cycle_steady" =>
        Cycles.run(spark, a, tracer)
      case "query_paths" =>
        Queries.run(spark, a, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    val json = Json.render(Map(
      "e2e" -> r.e2e,
      "layers" -> (if (a.trace) Layers.names.map(n => n -> r.layers.getOrElse(n, 0.0)).toMap
        else Map.empty),
      "attempted" -> r.attempted, "failed" -> r.failed,
      "detail" -> (r.detail + ("peak_rss_mb" -> Files.peakRssMb()))))
    JFiles.writeString(Paths.get(a.out), json)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Files {
  def size(dir: String): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()
      finally s.close()
    }
  }
  /** Deletes the largest data file under `dir`: a deliberately corrupted
    * target, for checking that the correctness gate fails. */
  def corrupt(dir: String): Unit = {
    val s = JFiles.walk(Paths.get(dir))
    try s.filter(f => f.toString.endsWith(".parquet"))
      .max((x, y) => java.lang.Long.compare(JFiles.size(x), JFiles.size(y)))
      .ifPresent(JFiles.delete(_))
    finally s.close()
  }
  /** Heap in use after full GCs, in MB: what the program keeps live
    * between units of work. Spark's ContextCleaner drops the blocks of
    * unreachable RDDs and broadcasts only after a GC has found them, so
    * the last of several GCs, half a second apart, is read. */
  def retainedHeapMb(): Seq[Double] = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(500)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
