package perfbench

import graft.functions.VecKernels
import org.apache.spark.sql.SparkSession

/** Per-layer figures of a traced run, from the [[Recorder]]'s events and
  * the runner's own spans. Only jobs tagged with an operation count, so
  * set-up, warm-up and checking jobs are left out. */
object Layers {
  import Recorder._
  import Runner.Op

  private def timedJobs(rec: Recorder): Seq[Job] = rec.jobs.toSeq.filter(_.op >= 0)

  private def timedTasks(rec: Recorder): (Seq[Stage], Seq[Task]) = {
    val jobIds = timedJobs(rec).map(_.id).toSet
    val stages = rec.stages.toSeq.filter(s => jobIds(s.job))
    val stageIds = stages.map(_.id).toSet
    (stages, rec.tasks.toSeq.filter(t => stageIds(t.stage)))
  }

  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  /** The scheduler, shuffle and scan figures every module runs on. */
  def spark(rec: Recorder, ops: Seq[Op], wall: Double, cores: Int): Map[String, Double] = {
    val (stages, tasks) = timedTasks(rec)
    val run = tasks.map(_.runMs).sum / 1e3
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).flatMap { ts =>
      val runs = ts.map(_.runMs.toDouble).sorted
      val median = runs(runs.size / 2)
      if (median > 0) Some(runs.last / median) else None
    }.toSeq
    val outRows = ops.filter(_.rows > 0).map(_.rows).sum
    val inRecords = tasks.map(_.inRecords).sum.toDouble
    Map(
      "spark.jobs" -> timedJobs(rec).size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_overhead_s" -> tasks.map(t => (t.finish - t.launch - t.runMs) / 1e3).sum,
      "spark.empty_task_frac" ->
        (if (tasks.isEmpty) 0.0
         else tasks.count(t => t.inRecords == 0 && t.shuffleReadRecords == 0).toDouble / tasks.size),
      "spark.exec_run_s" -> run,
      "spark.exec_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.exec_gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.core_util" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else percentile(skews, 0.9)),
      "shuffle.write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleReadBytes).sum.toDouble,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "sources.read_bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "sources.read_records" -> inRecords,
      "sources.records_per_out_row" -> (if (outRows > 0) inRecords / outRows else 0.0))
  }

  /** DataFrame build (with the eager jobs operators run inside it) against
    * the consuming action. */
  def queries(rec: Recorder, ops: Seq[Op]): Map[String, Double] = {
    val jobs = timedJobs(rec)
    val buildJobs = jobs.count(_.phase == "build")
    Map(
      "queries.build_s" -> ops.map(_.build).sum,
      "queries.action_s" -> ops.map(_.action).sum,
      "queries.build_jobs" -> buildJobs.toDouble,
      "queries.eager_job_frac" -> (if (jobs.isEmpty) 0.0 else buildJobs.toDouble / jobs.size))
  }

  /** Catalyst phases of every query execution the operations ran. */
  def plans(rec: Recorder, compiles: Long): Map[String, Double] = {
    val ps = rec.synchronized(rec.plans.toSeq).filter(_.op >= 0)
    def phase(k: String) = ps.map(_.phases.getOrElse(k, 0.0)).sum
    Map(
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.codegen_compiles" -> compiles.toDouble)
  }

  @volatile private var sink = 0.0

  /** Direct timed calls to the vector kernels over the embeddings table:
    * nanoseconds per call, median of five passes over 500 x 500 pairs. */
  def functions(spark: SparkSession, data: String): Map[String, Double] = {
    val vs = spark.read.parquet(s"$data/embeddings.parquet").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val m = vs.head.length
    val q = vs.map(_.map(x => math.round(x * 127f).toByte))
    val k = math.min(500, vs.length)
    def time(f: (Int, Int) => Double): Double = {
      val samples = (1 to 5).map { _ =>
        var acc = 0.0
        val t0 = System.nanoTime()
        var i = 0
        while (i < k) { var j = 0; while (j < k) { acc += f(i, j); j += 1 }; i += 1 }
        sink += acc
        (System.nanoTime() - t0).toDouble / (k * k)
      }
      samples.sorted.apply(2)
    }
    Map(
      "functions.dot_f32_ns" -> time((i, j) => VecKernels.dot(vs(i), 0, vs(j), 0, m)),
      "functions.dot_i8_ns" -> time((i, j) => VecKernels.dotI8(q(i), 0, q(j), 0, m).toDouble),
      "functions.cosine_ff_ns" -> time((i, j) => VecKernels.cosineFF(vs(i), vs(j))),
      "functions.simd_active" -> (if (VecKernels.simdActive) 1.0 else 0.0))
  }

  val EtlSteps: Seq[String] = Seq("backup", "read", "infer", "stage", "swap", "history", "count")

  /** The daily pipeline's steps, from the runner's step spans. */
  def etl(rec: Recorder, ops: Seq[Op], extracts: Seq[DataGen.Extract], days: Int): Map[String, Double] = {
    val steps = ops.flatMap(_.steps)
    val (_, tasks) = timedTasks(rec)
    val written = tasks.map(_.outBytes).sum.toDouble
    val csv = extracts.map(_.bytes).sum.toDouble * days
    EtlSteps.map(s => s"etl.${s}_s" -> steps.filter(_._1 == s).map(x => (x._3 - x._2) / 1e9).sum).toMap ++ Map(
      "etl.infer_jobs" -> timedJobs(rec).count(_.phase == "infer").toDouble,
      "etl.write_bytes" -> (if (extracts.isEmpty) 0.0 else written),
      "etl.write_amp" -> (if (csv > 0) written / csv else 0.0))
  }

  /** Each operation's child spans must account for its wall time within
    * 10%; with `ref` (the median ETL step-span sum of a day made of
    * runDaily's steps, and the median wall of untraced runDaily calls over
    * the same extracts, made alternately) the two must agree within 10%. */
  def layerSum(ops: Seq[Op], ref: Option[(Double, Double)]): Map[String, Any] = {
    def stepSum(xs: Seq[Op]) = xs.flatMap(_.steps).map(s => (s._3 - s._2) / 1e9).sum
    val bad = ops.filter(_.error == null).flatMap { op =>
      val parts = if (op.steps.nonEmpty) stepSum(Seq(op)) else op.build + op.action
      if (op.wall > 0 && math.abs(parts - op.wall) / op.wall > 0.1) Some(op.name) else None
    }
    val ratio = ref.map { case (steps, wall) => steps / wall }
    Map("ops_checked" -> ops.size, "op_violations" -> bad,
      "untraced_runDaily_s" -> ref.map(_._2), "day_steps_over_untraced" -> ratio,
      "ok" -> (bad.isEmpty && ratio.forall(x => math.abs(x - 1) <= 0.1)))
  }
}
