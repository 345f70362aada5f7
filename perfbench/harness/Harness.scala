package perfbench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.util.Properties

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftConfig, GraftSession, Pipeline}

/**
 * The benchmark's JVM side. It drives graft only through its library entry
 * point, `Pipeline.run(spark, GraftConfig(...))` — the call `graft.Main`
 * makes — and reports what it measured as `PERFBENCH {json}` lines on
 * stdout. The Python side (perfbench/run.py) generates the inputs, checks
 * every written row and prints the result.
 *
 *   Harness --mode run|trace --job <job.properties> --out <dir>
 *           --t0-ns <epoch ns before the JVM was launched>
 *           --host0 <busy>,<steal> (hostTicks before the launch) --seconds <s>
 *           --seed <n>
 *
 *  - run:   setup, one cold Pipeline.run, the workload's untimed warm-up
 *           reps (job property warmupReps), then timed warm reps for
 *           --seconds, and at least the workload's timedReps of them.
 *  - trace: the same cold rep, one untimed warm-up rep, then rounds of
 *           untraced, listened and staged reps (see [[Trace]]) for
 *           --seconds, then the Models probe.
 */
object Harness {

  /** Fixed local parallelism: the same on every host and both commits. */
  val Cpus = "4"

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans

  private def gcMs: Long = { var t = 0L; gcs.forEach(g => t += g.getCollectionTime); t }

  /** Busy and stolen CPU ticks of the whole machine, from /proc/stat
    * (Linux), or (0, 0) where it cannot be read. */
  def hostTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val t = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        finally src.close()
      (t(0) + t(1) + t(2) + t(5) + t(6), t(7))
    } catch { case _: Exception => (0L, 0L) }

  /** The share of the machine's CPU demand between two [[hostTicks]]
    * readings that the hypervisor gave to other guests (steal time). */
  def stolen(h0: (Long, Long), h1: (Long, Long)): Double = {
    val busy = h1._1 - h0._1
    val steal = h1._2 - h0._2
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** `wall` is the wall time net of steal, `wallRaw * (1 - steal)`: on a
    * shared host the hypervisor stops the machine's CPUs for a share of
    * the time, and wall time rises with that share while CPU time does
    * not. */
  final case class Sample(wall: Double, wallRaw: Double, steal: Double, cpu: Double,
      allocMb: Double, jit: Double, gc: Double, compiles: Long)

  /** Wall (net of steal and raw), process CPU, JVM-wide allocated bytes,
    * JIT compile time, GC time and Janino compiles around `f`. */
  def sampled[T](f: => T): (T, Sample) = {
    val h0 = hostTicks()
    val w0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    val a0 = threads.getTotalThreadAllocatedBytes
    val j0 = jit.getTotalCompilationTime
    val g0 = gcMs
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    val wall = (System.nanoTime() - w0) / 1e9
    val steal = stolen(h0, hostTicks())
    (r, Sample(wall * (1 - steal), wall, steal, (os.getProcessCpuTime - c0) / 1e9,
      (threads.getTotalThreadAllocatedBytes - a0) / 1048576.0,
      (jit.getTotalCompilationTime - j0) / 1e3, (gcMs - g0) / 1e3,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0))
  }

  def emit(fields: Seq[(String, Any)]): Unit = {
    def v(x: Any): String = x match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case m: Map[_, _] => m.toSeq.map { case (k, x2) => v(k.toString) + ":" + v(x2) }
        .mkString("{", ",", "}")
      case other => other.toString
    }
    println("PERFBENCH " + fields.map { case (k, x) => v(k) + ":" + v(x) }.mkString("{", ",", "}"))
    System.out.flush()
  }

  def config(p: Properties, output: String): GraftConfig = {
    def s(k: String) = p.getProperty(k, "")
    def b(k: String) = s(k) == "true"
    GraftConfig(
      input = s("input"),
      predictors = s("predictors"),
      dependents = s("dependents"),
      covariates = s("covariates"),
      categoricalCovariates = s("categoricalCovariates"),
      nullValues = s("nullValues").split(",").filter(_.nonEmpty).toSeq,
      model = s("model"),
      missingCovariateValues = s("missingCovariateValues"),
      quantitative = b("quantitative"),
      rint = b("rint"),
      phewas = b("phewas"),
      flipwas = b("flipwas"),
      orderCol = s("orderCol"),
      output = output,
      outputType = s("outputType"))
  }

  /** One Pipeline.run writing `<out>/<tag>_polars_mas_results.<ext>`. A throw
    * is reported as a failed rep; its time is never reported. */
  def rep(spark: SparkSession, job: Properties, out: String, tag: String): Option[Sample] =
    try {
      val (_, s) = sampled(Pipeline.run(spark, config(job, s"$out/$tag")))
      emit(Seq("event" -> "rep", "tag" -> tag, "wall_s" -> s.wall, "wall_raw_s" -> s.wallRaw,
        "steal" -> s.steal, "cpu_s" -> s.cpu,
        "alloc_mb" -> s.allocMb, "jit_s" -> s.jit, "gc_s" -> s.gc, "codegen_compiles" -> s.compiles))
      Some(s)
    } catch {
      case e: Throwable =>
        emit(Seq("event" -> "rep", "tag" -> tag, "error" -> String.valueOf(e)))
        None
    }

  /** State a finished rep leaves behind — garbage, cached blocks, and the
    * shuffle and checkpoint files the ContextCleaner removes only after a
    * GC — is cleared before the next rep, outside its timing. */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val t0 = opt("t0-ns").toLong
    val spark = GraftSession.builder(Cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val now = java.time.Instant.now()
    val setup = (now.getEpochSecond * 1000000000L + now.getNano - t0) / 1e9
    val h0 = opt("host0").split(",").map(_.toLong)
    val steal = stolen((h0(0), h0(1)), hostTicks())
    emit(Seq("event" -> "setup", "setup_s" -> setup * (1 - steal), "setup_raw_s" -> setup,
      "steal" -> steal))
    try opt("mode") match {
      case mode @ ("run" | "trace") =>
        val job = new Properties()
        val in = new FileInputStream(opt("job"))
        try job.load(in) finally in.close()
        val out = opt("out")
        val window = (opt("seconds").toDouble * 1e9).toLong
        val cg0 = CodeGenerator.compileTime
        val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        rep(spark, job, out, "cold")
        val codegen = Map(
          "spark.codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "spark.codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
        if (mode == "run") {
          for (i <- 0 until job.getProperty("warmupReps", "0").toInt) {
            settle(spark)
            rep(spark, job, out, f"warmup$i%03d")
          }
          // at least timedReps, however short the window: when they take
          // longer than it, every run times the same number of reps
          val minReps = job.getProperty("timedReps", "3").toInt
          val deadline = System.nanoTime() + window
          var i = 0
          while (i < minReps || System.nanoTime() < deadline) {
            settle(spark)
            rep(spark, job, out, f"timed$i%03d")
            i += 1
          }
        } else new Trace(spark, job, out, opt("seed").toLong).run(window, codegen)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally spark.stop()
  }
}
