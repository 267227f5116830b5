package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the fixture dir, a dir for
  * the workload's own outputs, the seeded random source, the tracer and
  * (traced runs only) the Spark-boundary listener.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val sf: Double,
    val workDir: Path, val seed: Long, val seconds: Int,
    val tracer: Tracer, val stats: Option[JobStats]) {
  val rnd = new Random(seed)
  val pinsDir: Path = Paths.get("perfbench", "pins")
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextOp(): Long = opIds.incrementAndGet()
  def traced: Boolean = tracer.on

  /** Listener counters over the closed spans that satisfy `pred`
    * (all zero in an untraced run).
    */
  def counts(pred: Span => Boolean): SparkCounts = stats.map { s =>
    s.drain()
    s.forSpans(tracer.spans.filter(pred).map(_.id))
  }.getOrElse(new SparkCounts)

  /** Mean duration in ms of the spans named `name` (0 if none). */
  def meanMs(name: String): Double = {
    val ss = tracer.spans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size
  }
}

/** What a workload measured. `prepareS` holds its repeated set-up steps
  * (their median joins `setup_s`); `warmMs` is its warm unit time and
  * `unitMs` the wall times of the units of work (requests, warm passes,
  * iterations) that succeeded and passed their output checks.
  */
final case class Outcome(prepareS: Seq[Double], coldS: Double,
    warmMs: Double, unitMs: Seq[Double], throughput: Double, attempted: Long,
    failed: Long, correct: Boolean, layers: Map[String, Double],
    notes: Seq[String])

object Main {
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def session(cpus: Int, root: Path): SparkSession = {
    // graft keeps lock files beside the managed tables, so the
    // warehouse must exist up front (as Bench's temp warehouse does)
    Files.createDirectories(root.resolve("warehouse"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's host-calibration probe, scaled down: hash and sort 250 k
    * longs in memory, min of 3. It depends on the host only.
    */
  def calibrate(spark: SparkSession, cpus: Int): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 250000L, 1L, cpus)
      .selectExpr("xxhash64(id) AS h").orderBy("h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }.min

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(f =>
        scala.util.Try(Files.size(f)).getOrElse(0L)).sum()
      finally s.close()
    }

  /** The metric names and units a run reports, in report order, from
    * BENCHMARK.json: (end-to-end, per-layer).
    */
  def spec(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def list(key: String) = root.get(key).elements().asScala.map(m =>
      m.get("name").asText() -> m.get("unit").asText()).toSeq
    (list("end_to_end"), list("per_layer"))
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cpus = opts.getOrElse("cpus", "4").toInt
    val root = Paths.get(opts("root")).toAbsolutePath
    Files.createDirectories(root)
    opts.get("mode") match {
      case Some("pin") =>
        val spark = session(cpus, root)
        try Batch.pin(spark, opts("data"), opts("sf").toDouble,
          Paths.get(opts("out")))
        finally spark.stop()
      case _ => run(opts, cpus, root)
    }
  }

  private def run(opts: Map[String, String], cpus: Int, root: Path): Unit = {
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(cpus, root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val stats = if (traced) {
      val l = new JobStats
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Ctx(spark, opts("data"), opts("sf").toDouble,
      root.resolve("work"), opts("seed").toLong, opts("seconds").toInt,
      new Tracer(traced, spark.sparkContext), stats)
    val calPre = calibrate(spark, cpus)
    // set-up every workload shares, three times: resolve the fixture
    // catalog (one schema-inference job per table)
    val catalogS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.names.foreach(graft.Tables.load(spark, ctx.dataDir, _))
      (System.nanoTime() - t0) / 1e9
    }
    // growth of the program's temp files and warehouse; Spark's
    // block-manager dir is left out, its shuffle files go away
    // asynchronously
    def ownBytes() = dirBytes(root) - dirBytes(root.resolve("local")) -
      dirBytes(ctx.workDir)
    val diskBefore = ownBytes()
    val out = workload match {
      case "gateway_rest" => Gateway.run(ctx)
      case "pipeline_batch" => Batch.run(ctx)
      case "ingest_publish" => Ingest.run(ctx)
      case w => sys.error(s"unknown workload: $w")
    }
    val calPost = calibrate(spark, cpus)
    val tmpGrowthMb = (ownBytes() - diskBefore) / 1048576.0

    // teardown: drop the LSH index tables the run created and take the
    // retained heap after a full GC; run.py weighs what the program
    // left under the run's root once this JVM has exited
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(Ingest.Prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val sparkLayerMetrics =
      if (traced) sparkLayers(ctx) else Map.empty[String, Double]
    // full GCs until the heap stops shrinking (at most four), each
    // followed by a pause in which Spark's ContextCleaner drops the
    // blocks of what the GC found unreachable
    def usedHeap() = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    var heapUsed = Long.MaxValue
    var gcs = 0
    var shrinking = true
    while (gcs < 4 && shrinking) {
      System.gc()
      Thread.sleep(300)
      val now = usedHeap()
      shrinking = now < heapUsed - 1048576L
      heapUsed = math.min(heapUsed, now)
      gcs += 1
    }
    val heapMb = heapUsed / 1048576.0
    spark.stop()

    val e2e = Seq(
      "setup_s" -> (sessionS + median(catalogS) +
        (if (out.prepareS.isEmpty) 0.0 else median(out.prepareS))),
      "cold_s" -> out.coldS,
      "warm_ms" -> out.warmMs,
      "throughput_per_s" -> out.throughput,
      "heap_retained_mb" -> heapMb)
    // every metric BENCHMARK.json names is reported, a layer the
    // workload does not touch as 0; one it does not name is a bug in
    // the benchmark, not a silent extra
    val (e2eSpec, layerSpec) = spec(opts("spec"))
    def report(spec: Seq[(String, String)], got: Map[String, Double]) = {
      val unknown = got.keySet -- spec.map(_._1)
      require(unknown.isEmpty, s"metrics not in BENCHMARK.json: $unknown")
      spec.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
    }
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        require(e2eSpec.forall(m => e2e.exists(_._1 == m._1)),
          "an end-to-end metric of BENCHMARK.json is not measured")
        report(e2eSpec, e2e.toMap)
      } else report(layerSpec, out.layers ++ sparkLayerMetrics ++ Map(
        "host.calib_pre_s" -> calPre,
        "host.calib_post_s" -> calPost,
        "disk.tmp_growth_mb" -> tmpGrowthMb,
        "fail_ratio" ->
          (if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted)))
    val record = Seq(
      s""""workload":"$workload"""", s""""seed":${ctx.seed}""",
      s""""seconds":${ctx.seconds}""", s""""trace":${if (traced) 1 else 0}""",
      s""""host.calib_pre_s":${fmt(calPre)}""",
      s""""host.calib_post_s":${fmt(calPost)}""",
      s""""session_s":${fmt(sessionS)}""",
      s""""catalog_s":[${catalogS.map(fmt).mkString(",")}]""",
      s""""prepare_s":[${out.prepareS.map(fmt).mkString(",")}]""",
      s""""samples":${out.unitMs.size}""",
      s""""p50_ms":${fmt(median(out.unitMs))}""",
      s""""p95_ms":${fmt(percentile(out.unitMs, 0.95))}""",
      s""""e2e":{${e2e.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString(",")}}""",
      s""""notes":[${out.notes.map(n => "\"" + n.replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\n", " ") + "\"").mkString(",")}]""")
      .mkString("{", ",", "}")
    val result = s"""{"correct":${out.correct},"attempted":${
      out.attempted},"failed":${out.failed},"metrics":{${
      metrics.map { case (k, v, u) =>
        s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")}}}"""
    val outDir = Files.createDirectories(root.resolve("out"))
    Files.writeString(outDir.resolve("record.json"), record)
    Files.writeString(outDir.resolve("result.json"), result)
    if (traced) {
      ctx.tracer.writeJsonl(outDir.resolve("spans.jsonl"))
      Files.writeString(outDir.resolve("self_times.tsv"),
        ctx.tracer.selfTimes.toSeq.sortBy(-_._2._3).map {
          case (n, (c, tot, self)) => f"$n\t$c\t$tot%.3f\t$self%.3f"
        }.mkString("span\tcalls\ttotal_ms\tself_ms\n", "\n", "\n"))
    }
  }

  /** Spark-boundary layer metrics from the listener, per traced op
    * (every span of an op carries its op id).
    */
  private def sparkLayers(ctx: Ctx): Map[String, Double] = {
    val c = ctx.counts(_.op > 0)
    val ops = math.max(1, ctx.tracer.spans.filter(_.op > 0)
      .map(_.op).distinct.size).toDouble
    val mb = 1048576.0
    Map(
      "spark.jobs_per_op" -> c.jobs / ops,
      "spark.stages_per_op" -> c.stages / ops,
      "spark.tasks_per_op" -> c.tasks / ops,
      "spark.sched_delay_ms" -> c.schedDelayMs / ops,
      "spark.exec_s" -> c.runMs / 1000.0 / ops,
      "spark.task_cpu_s" -> c.cpuNs / 1e9 / ops,
      "spark.gc_ms" -> c.gcMs / ops,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / ops,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / ops,
      "spark.spill_mb" -> c.spill / mb / ops)
  }
}
