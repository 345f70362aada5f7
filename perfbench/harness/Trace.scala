package perfbench

import java.io.File
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.GraftConfig
import graft.models.Models
import graft.operators.{Association, Postprocess, Preprocess}
import graft.sources.Sources

/** Cumulative Spark counters from the public listener interfaces. */
final class Counters extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, readB, writeB, spillB, planMs = 0L
  val busy = ArrayBuffer.empty[(Long, Long)] // task [launch, finish] in epoch ms

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      readB += m.shuffleReadMetrics.totalBytesRead
      writeB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def snap(): Vector[Long] = synchronized {
    Vector(jobs, stages, tasks, runMs, cpuNs, gcMs, readB, writeB, spillB, planMs)
  }

  /** Milliseconds of [s, e] during which no task was running. */
  def offTaskMs(s: Long, e: Long): Long = synchronized {
    val iv = busy.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (e - s) - covered
  }
}

/** One timed interval: its wall time, its counter delta and its off-task time. */
final case class Span(wall: Double, d: Vector[Long], offTaskS: Double) {
  def jobs: Double = d(0).toDouble
  def taskCpuS: Double = d(4) / 1e9
  def gcS: Double = d(5) / 1e3
  def shuffleWriteMb: Double = d(7) / 1048576.0
}

/**
 * The traced run. After the cold rep (whose Janino compile time is
 * `spark.codegen_s`) and the workload's warm-up reps (at least one) it
 * repeats rounds of three reps until the deadline:
 *  1. an untraced Pipeline.run, no listeners attached (the baseline of
 *     `trace.overhead_s`);
 *  2. the same Pipeline.run with the listeners attached (the `spark.*`
 *     whole-pipeline split);
 *  3. a staged rep that calls the public functions of each module in the
 *     order Pipeline.run does, materializing (persist + count) each layer's
 *     output so that every layer's span holds its own work only.
 * Every metric is the median over rounds.
 */
final class Trace(spark: SparkSession, job: Properties, out: String, seed: Long) {
  private val sc = spark.sparkContext
  private val counters = new Counters

  private def attach(): Unit = {
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }
  private def detach(): Unit = {
    BusShim.drain(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }

  private def span(f: => Unit): Span = {
    BusShim.drain(sc)
    val c0 = counters.snap()
    val s = System.currentTimeMillis()
    val w0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - w0) / 1e9
    val e = System.currentTimeMillis()
    BusShim.drain(sc)
    val c1 = counters.snap()
    Span(wall, c1.zip(c0).map { case (a, b) => a - b }, counters.offTaskMs(s, e) / 1e3)
  }

  private def du(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(g => du(g.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  /** Pipeline.run's preprocessing, through Preprocess's public functions,
    * for the options the workloads use. */
  private def preprocess(raw: DataFrame, cfg: GraftConfig): (DataFrame, Association.Config) = {
    require(!cfg.maleOnly && !cfg.femaleOnly && !cfg.logt && !cfg.distributed &&
      Set("drop", "mean", "min", "max", "zero", "one").contains(cfg.missingCovariateValues),
      "the staged trace mirrors only the Pipeline options the workloads use")
    def resolve(spec: String): Seq[String] =
      if (spec.trim.isEmpty) Nil else Preprocess.selectColumns(raw, spec).columns.toSeq
    val predictors = resolve(cfg.predictors)
    val dependents = resolve(cfg.dependents)
    var covariates = resolve(cfg.covariates)
    val categoricals = resolve(cfg.categoricalCovariates)
    val used = (predictors ++ dependents ++ covariates ++
      (if (cfg.orderCol.nonEmpty) Seq(cfg.orderCol) else Nil)).distinct
    var df = raw.select(used.map(col): _*)
    if (cfg.rint) {
      val r = df.agg(count(lit(1)).as("n"), countDistinct(col(cfg.orderCol)).as("nd")).head()
      require(r.getLong(0) == r.getLong(1), "order column is not unique")
    }
    if (covariates.nonEmpty) {
      df = Preprocess.fillNulls(df, covariates, cfg.missingCovariateValues)
      df = Preprocess.dropConstant(df, covariates)
      covariates = covariates.filter(df.columns.contains)
    }
    if (categoricals.nonEmpty) {
      val before = df.columns.toSet
      df = Preprocess.oneHot(df, categoricals)
      covariates = covariates.filterNot(categoricals.contains) ++ df.columns.filterNot(before.contains)
    }
    if (cfg.rint) df = dependents.foldLeft(df) { (d, dep) =>
      val r = Preprocess.rint(d, dep, cfg.orderCol)
        .select(col(cfg.orderCol), col("rint").as(s"__rint_$dep"))
      d.join(r, Seq(cfg.orderCol), "left").withColumn(dep, col(s"__rint_$dep"))
        .drop(s"__rint_$dep")
    }
    (df, Association.Config(predictors, dependents, covariates,
      model = cfg.model, minCaseCount = cfg.minCaseCount))
  }

  /** The staged rep: one span per layer, each layer's output materialized. */
  private def staged(tag: String): Map[String, Double] = {
    val cfg = Harness.config(job, s"$out/$tag")
    val level = StorageLevel.MEMORY_AND_DISK
    var raw: DataFrame = null
    var rows = 0L
    val read = span {
      raw = Sources.read(spark, cfg.input, cfg.nullValues).persist(level)
      rows = raw.count()
    }
    var pre: DataFrame = null
    var acfg: Association.Config = null
    val prep = span {
      val (d, c) = preprocess(raw, cfg)
      pre = d.persist(level)
      pre.count()
      acfg = c
    }
    val melted = Association.melt(pre, acfg)
    val melt = span { melted.write.format("noop").mode("overwrite").save() }
    val meltRows = melted.count()
    var res: DataFrame = null
    val assoc = span {
      res = Association.assoc(pre, acfg).persist(level)
      res.count()
    }
    val path = s"${cfg.output}_polars_mas_results.${cfg.outputType}"
    val post = span {
      var o = Postprocess.bonferroni(res)
      if (cfg.phewas || cfg.flipwas)
        o = Postprocess.annotate(o, Sources.bundledPhecodeDefs(spark),
          if (cfg.flipwas) "predictor" else cfg.annotateOn, cfg.annotateKey)
      Postprocess.sortAndWrite(o, path, cfg.outputType, "pval", Seq("predictor", "dependent"))
    }
    Seq(res, pre, raw).foreach(_.unpersist(true))
    Map(
      "sources.read_s" -> read.wall,
      "sources.input_mb" -> du(cfg.input) / 1048576.0,
      "sources.rows" -> rows.toDouble,
      "preprocess.s" -> prep.wall,
      "preprocess.jobs" -> prep.jobs,
      "association.melt_rows" -> meltRows.toDouble,
      "association.melt_s" -> melt.wall,
      "association.s" -> assoc.wall,
      "association.jobs" -> assoc.jobs,
      "association.task_cpu_s" -> assoc.taskCpuS,
      "association.gc_s" -> assoc.gcS,
      "association.shuffle_write_mb" -> assoc.shuffleWriteMb,
      "association.off_task_s" -> assoc.offTaskS,
      "postprocess.s" -> post.wall,
      "postprocess.output_kb" -> du(path) / 1024.0,
      "trace.staged_s" -> (read.wall + prep.wall + assoc.wall + post.wall))
  }

  /** Whole-pipeline split of one listened Pipeline.run. */
  private def listened(tag: String): Map[String, Double] = {
    var ok = false
    val s = span { ok = Harness.rep(spark, job, out, tag).isDefined }
    require(ok, s"listened rep $tag failed")
    Map(
      "spark.jobs" -> s.d(0).toDouble,
      "spark.stages" -> s.d(1).toDouble,
      "spark.tasks" -> s.d(2).toDouble,
      "spark.task_run_s" -> s.d(3) / 1e3,
      "spark.task_cpu_s" -> s.d(4) / 1e9,
      "spark.gc_s" -> s.d(5) / 1e3,
      "spark.shuffle_read_mb" -> s.d(6) / 1048576.0,
      "spark.shuffle_write_mb" -> s.d(7) / 1048576.0,
      "spark.spill_mb" -> s.d(8) / 1048576.0,
      "spark.planning_s" -> s.d(9) / 1e3,
      "spark.off_task_s" -> s.offTaskS)
  }

  /** Single-thread Models.firthRaw fits per second on seeded designs of the
    * reference's PheWAS cohort: n = 5000, dosage predictor, 6 covariates,
    * intercept, ~10% cases. */
  private def firthFitsPerS(budgetS: Double): Double = {
    val n = 5000
    val k = 8
    val rnd = new java.util.Random(seed)
    val designs = Array.fill(8) {
      val xd = new Array[Double](n * k)
      val y = new Array[Double](n)
      var i = 0
      while (i < n) {
        xd(i) = (if (rnd.nextDouble() < 0.3) 1.0 else 0.0) + (if (rnd.nextDouble() < 0.3) 1.0 else 0.0)
        var j = 1
        while (j < k - 1) { xd(j * n + i) = rnd.nextGaussian(); j += 1 }
        xd((k - 1) * n + i) = 1.0
        val eta = -2.3 + 0.2 * xd(i) + 0.3 * xd(n + i)
        y(i) = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
        i += 1
      }
      (xd, y)
    }
    designs.foreach { case (xd, y) => Models.firthRaw(xd, n, k, y) } // JIT warm-up
    var fits = 0
    val t0 = System.nanoTime()
    while (fits < 8 || System.nanoTime() - t0 < budgetS * 1e9) {
      val (xd, y) = designs(fits % designs.length)
      Models.firthRaw(xd, n, k, y)
      fits += 1
    }
    fits / ((System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs after the cold rep, whose Janino compile time it is handed. */
  def run(window: Long, codegen: Map[String, Double]): Unit = {
    // the untraced and staged reps of a round are compared: the first
    // reps after the cold one, still waiting on the JIT, belong to neither
    for (i <- 0 until math.max(1, job.getProperty("warmupReps", "0").toInt)) {
      Harness.settle(spark)
      Harness.rep(spark, job, out, f"warmup$i%03d")
    }
    val deadline = System.nanoTime() + window
    val rounds = ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      Harness.settle(spark)
      val plain = Harness.rep(spark, job, out, f"untraced$i%03d")
        .getOrElse(throw new IllegalStateException(s"untraced rep $i failed"))
      attach()
      try {
        Harness.settle(spark)
        val whole = listened(f"listened$i%03d")
        Harness.settle(spark)
        val layers = staged(f"staged$i%03d")
        rounds += whole ++ layers ++ Map(
          "trace.untraced_s" -> plain.wallRaw,
          "trace.overhead_s" -> (layers("trace.staged_s") - plain.wallRaw))
      } finally detach()
      i += 1
    }
    val metrics = rounds.head.keys.map(k => k -> median(rounds.map(_(k)).toSeq)).toMap ++
      codegen + ("models.firth_fits_per_s" -> firthFitsPerS(1.5)) +
      ("trace.rounds" -> rounds.size.toDouble)
    Harness.emit(Seq("event" -> "trace", "metrics" -> metrics))
  }
}
