package dedupbench

import dedup._
import org.apache.spark.BenchListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** JVM side of the benchmark: one process per run (see run.py).
  *
  * Set-up is JVM start, SparkSession start and an untimed warm-up
  * `Pipeline.run` over `--warmup-input` (a small input from the same
  * generator), so that JIT and query compilation are done before timing.
  *
  *   --mode run    one timed fresh `Pipeline.run` (up to the counts of
  *                 assignments and kept, as `Pipeline.main` times it), then
  *                 one timed rerun over the finished root (a resume).
  *   --mode trace  an untraced reference run, then the traced
  *                 stage-by-stage chain, its resume, side probes for stages
  *                 the workload's flags leave off, and the one-thread
  *                 kernel rates.
  *
  * Writes one JSON document to `--out`; run.py checks the output roots it
  * names and prints the metrics.
  */
object Harness {

  final case class Opts(mode: String = "run", input: String = "", warmupInput: String = "",
      work: String = "", out: String = "", flags: Seq[String] = Nil, spawnMs: Long = 0L,
      cores: Int = 1)

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case "--mode" :: v :: t => parse(t, o.copy(mode = v))
    case "--input" :: v :: t => parse(t, o.copy(input = v))
    case "--warmup-input" :: v :: t => parse(t, o.copy(warmupInput = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--flags" :: v :: t => parse(t, o.copy(flags = v.split(' ').toSeq.filter(_.nonEmpty)))
    case "--spawn-ms" :: v :: t => parse(t, o.copy(spawnMs = v.toLong))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown harness arg: ${other.head}")
  }

  /** A session configured as `Pipeline.main` configures its own, plus the
    * benchmark's scratch locations. */
  def startSession(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("dedup-pipeline")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bytes of every committed parquet data file under `<root>/<stage>/data`. */
  def dataBytes(root: String, stage: String): Long = {
    val p = Paths.get(root, stage, "data")
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => Files.size(f)).sum
  }

  def checkpointBytes(root: String): Long =
    Files.list(Paths.get(root)).iterator().asScala.filter(Files.isDirectory(_))
      .map(d => dataBytes(root, d.getFileName.toString)).sum

  /** One checked operation: its name, the output root the checker reads,
    * and its failure message if it threw. */
  final case class Op(name: String, root: String, assignments: String, error: Option[String])

  final class Report {
    val fields = new java.util.LinkedHashMap[String, Object]()
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    def put(k: String, v: Any): Unit = fields.put(k, v.asInstanceOf[Object])

    def op[T](name: String, root: String, assignments: String = "")(body: => T): Option[T] =
      Try(body) match {
        case Success(v) => ops += Op(name, root, assignments, None); Some(v)
        case Failure(e) =>
          e.printStackTrace()
          ops += Op(name, root, assignments, Some(s"${e.getClass.getName}: ${e.getMessage}"))
          None
      }

    def write(path: String): Unit = {
      val opList = ops.map { o =>
        val m = new java.util.LinkedHashMap[String, Object]()
        m.put("name", o.name); m.put("root", o.root); m.put("assignments", o.assignments)
        m.put("error", o.error.orNull)
        m
      }.asJava
      fields.put("ops", opList)
      Files.write(Paths.get(path), new com.fasterxml.jackson.databind.ObjectMapper()
        .writerWithDefaultPrettyPrinter().writeValueAsBytes(fields))
    }
  }

  /** `Pipeline.run` plus the two counts `Pipeline.main` times; returns
    * (wall seconds, docs). */
  def pipelineOnce(spark: SparkSession, args: Pipeline.Args): (Double, Long) = {
    val t0 = System.nanoTime()
    val (kept, assignments) = Pipeline.run(spark, args)
    val docs = assignments.count()
    kept.count()
    ((System.nanoTime() - t0) / 1e9, docs)
  }

  def pipelineArgs(o: Opts, root: String, input: String = ""): Pipeline.Args =
    Pipeline.parse((Seq("--input", if (input.nonEmpty) input else o.input,
      "--output", root) ++ o.flags).toArray)

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    val report = new Report
    // set-up: from the launcher's spawn time to the end of the warm-up
    val spark = startSession(o)
    try {
      if (o.warmupInput.nonEmpty)
        report.op("warmup", "") {
          pipelineOnce(spark, pipelineArgs(o, s"${o.work}/warmup", o.warmupInput))
        }
      report.put("setup_s", (System.currentTimeMillis() - o.spawnMs) / 1000.0)
      report.put("canary_mbps_1t", HostCanary.quickMbps(1))
      val metrics = new TaskMetricsByGroup
      spark.sparkContext.addSparkListener(metrics)
      if (o.mode == "run") timedRuns(spark, o, metrics, report)
      else tracedRun(spark, o, metrics, report)
    } finally {
      report.write(o.out)
      spark.stop()
    }
  }

  def timedRuns(spark: SparkSession, o: Opts, metrics: TaskMetricsByGroup,
      report: Report): Unit = {
    val root = s"${o.work}/fresh"
    val args = pipelineArgs(o, root)
    BenchListenerBus.drain(spark.sparkContext)
    metrics.reset()
    report.op("fresh", root) {
      val (wall, docs) = pipelineOnce(spark, args)
      BenchListenerBus.drain(spark.sparkContext)
      val t = metrics.total
      report.put("docs", docs)
      report.put("fresh_wall_s", wall)
      report.put("docs_per_s", docs / wall)
      report.put("task_cpu_s", t.cpuNs / 1e9)
      report.put("shuffle_bytes", t.shuffleWriteBytes)
      report.put("peak_task_mem_mb", t.peakExecMem / 1048576.0)
      report.put("checkpoint_bytes", checkpointBytes(root))
    }
    val dump = s"${o.work}/resume-assignments"
    report.op("resume", root, dump) {
      val t0 = System.nanoTime()
      val (kept, assignments) = Pipeline.run(spark, args)
      assignments.count()
      kept.count()
      report.put("resume_s", (System.nanoTime() - t0) / 1e9)
      assignments.write.parquet(dump) // untimed: the checker compares it
    }
  }

  def tracedRun(spark: SparkSession, o: Opts, metrics: TaskMetricsByGroup,
      report: Report): Unit = {
    import spark.implicits._
    val layer = new java.util.LinkedHashMap[String, Object]()
    def put(k: String, v: Double): Unit = layer.put(k, Double.box(v))
    val untraced = report.op("untraced", s"${o.work}/untraced")(
      pipelineOnce(spark, pipelineArgs(o, s"${o.work}/untraced"))._1)

    val root = s"${o.work}/traced"
    val args = pipelineArgs(o, root)
    val cfg = args.cfg
    val tr = new Tracer(spark)
    BenchListenerBus.drain(spark.sparkContext)
    metrics.reset()
    val traced = report.op("traced", root) {
      tr.span("pipeline")(TracedPipeline.run(spark, args, root, tr))
    }
    BenchListenerBus.drain(spark.sparkContext)
    val wall = tr.seconds("pipeline")
    put("trace.wall_s", wall)
    untraced.foreach { u =>
      put("trace.untraced_wall_s", u)
      put("trace.overhead", wall / u - 1.0)
    }
    put("trace.span_sum_ratio",
      tr.spans.filter(_.parent == "pipeline").map(_.seconds).sum / wall)

    // resume: every stage call finds its committed snapshot
    val tr2 = new Tracer(spark)
    report.op("traced_resume", root, s"${o.work}/traced-resume-assignments") {
      val r = tr2.span("pipeline")(TracedPipeline.run(spark, args, root, tr2))
      r.assignments.write.parquet(s"${o.work}/traced-resume-assignments")
    }
    put("resume.stages_s", TracedPipeline.StageNames.map(tr2.seconds).sum)

    // stages the workload's flags leave off run once as side probes over
    // the traced chain's checkpoints, outside the pipeline span
    val probeRoot = s"${o.work}/probe"
    val probes = Seq("simhash_edges" -> args.simhash, "suffix_edges" -> args.suffix)
      .collect { case (stage, false) => stage }
    traced.foreach { res =>
      val probe = new CheckpointStore(spark, probeRoot, "probe")
      probes.foreach {
        case "simhash_edges" => tr.stage("simhash_edges")(
          TracedPipeline.simhashStage(probe, res.shingles.as[DocShingles], cfg))
        case _ => tr.stage("suffix_edges")(TracedPipeline.suffixStage(probe, res.docs, cfg))
      }
      BenchListenerBus.drain(spark.sparkContext)
      def store(stage: String) =
        if (probes.contains(stage)) (probe, probeRoot) else (res.store, root)
      def rows(stage: String): Double =
        store(stage)._1.manifest(stage).map(_("rows").asInstanceOf[Long].toDouble).getOrElse(0.0)
      for (stage <- TracedPipeline.StageNames :+ "ids_audit") {
        val g = metrics.group(stage)
        put(s"$stage.wall_s", tr.seconds(stage))
        put(s"$stage.tasks", g.tasks.toDouble)
        put(s"$stage.gc_s", g.gcMs / 1000.0)
        put(s"$stage.task_cpu_s", g.cpuNs / 1e9)
        put(s"$stage.shuffle_bytes", g.shuffleWriteBytes.toDouble)
        put(s"$stage.spill_bytes", g.spillBytes.toDouble)
        put(s"$stage.task_skew", g.skew)
        put(s"$stage.max_task_s", g.maxTaskS)
        if (stage != "ids_audit") {
          put(s"$stage.rows", rows(stage))
          put(s"$stage.bytes", dataBytes(store(stage)._2, stage).toDouble)
        }
      }
      put("verified.yield", rows("verified") / math.max(1.0, rows("candidates")))
      // the component edge stream: verified plus the edge stages the flags turn on
      put("components.edges_in", (Seq("verified", "simhash_edges", "suffix_edges")
        .filterNot(probes.contains)).map(rows).sum)

      // kernel inputs: page texts and the traced run's candidate pairs
      val texts = spark.read.parquet(o.input).select(col("text")).where(col("text").isNotNull)
        .limit(4000).as[String].collect()
      val budget = texts.scanLeft(0L)(_ + _.length).indexWhere(_ > 4000000L)
      val sample = if (budget > 0) texts.take(budget) else texts
      val sh = spark.read.parquet(s"$root/shingles/data")
      val pairs = spark.read.parquet(s"$root/candidates/data").limit(20000)
        .join(sh.select(col("id").as("src"), col("shingles").as("a")), "src")
        .join(sh.select(col("id").as("dst"), col("shingles").as("b")), "dst")
        .select(col("a"), col("b")).as[(Array[Int], Array[Int])].collect()
      Kernels.measure(sample, pairs, cfg).foreach { case (k, v) => put(k, v) }
    }
    report.put("per_layer", layer)
    val spans = tr.spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_ns", Long.box(s.startNs)); m.put("end_ns", Long.box(s.endNs))
      m
    }.asJava
    report.put("spans", spans)
  }
}
