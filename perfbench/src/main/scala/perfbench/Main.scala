package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout> --work <dir> --record <file>
  * [--t0-ms <epoch ms>]`. Normally started by perfbench/run.py, which
  * builds the classpath first. Prints a `perfbench-summary` line and, as
  * the last stdout line, the result object.
  */
object Main {

  private val mapper = new ObjectMapper()

  def workload(name: String): Workload = name match {
    case "query_batch"  => QueryBatch
    case "catalog_open" => CatalogOpen
    case "day2_ingest"  => Day2Ingest
    case other          => throw new IllegalArgumentException(s"unknown workload '$other' (${Metrics.workloads.mkString(", ")})")
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // status-store history is UI bookkeeping: keep it small so that
      // heap_peak_mb shows the engine's own caches
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation occupancy right after a full collection, in MB.
    * Spark frees broadcast and shuffle blocks from a cleaner thread once
    * their handles are collected, so collect, give the cleaner time
    * (it polls every 100 ms), and collect again. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.toLowerCase.contains("old"))
    val used = if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
      else { val r = Runtime.getRuntime; r.totalMemory - r.freeMemory }
    used / 1e6
  }

  /** CPU time of the whole JVM (every thread, JIT and GC included).
    * Time the hypervisor steals from the box is not in it. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def loadAvg(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim).getOrElse("unavailable")

  /** (steal, total) jiffies of all CPUs from /proc/stat: the time the
    * hypervisor ran other guests while this box's CPUs wanted to run. */
  def cpuTicks(): Option[(Long, Long)] = Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workload(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val root = Paths.get(arg("root")).toAbsolutePath
    val work = Paths.get(arg("work")).toAbsolutePath
    val t0Ms = opts.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    Files.createDirectories(work)
    val loadBefore = loadAvg()
    val cpus = nproc

    System.err.println(f"[perfbench] jvm main at ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f s")
    val spark = session(work, cpus)
    val counters = if (traced) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, new Tracer(traced), seed, root, work)

    System.err.println(f"[perfbench] session up at ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f s")
    wl.setup(h)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    val heapSetup = heapAfterGcMb()

    h.timed = true
    val cpu0 = processCpuNs()
    val ticks0 = cpuTicks()
    val w0Ms = System.currentTimeMillis()
    val w0 = System.nanoTime()
    wl.measure(h, seconds)
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val stealShare = for ((s0, t0) <- ticks0; (s1, t1) <- cpuTicks() if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
    val w1Ms = System.currentTimeMillis()
    h.timed = false
    if (traced) SparkCounters.drain(spark)
    val heapEnd = heapAfterGcMb()
    wl.finish(h)

    val all = h.ops
    val timedOps = all.filter(_.timed)
    val outcome = all.map(_.outcome).foldLeft(Outcome())(_ + _)
    val lat = timedOps.map(_.seconds)
    require(timedOps.nonEmpty, "the timed window completed no op")

    val e2e: Seq[(String, Double)] = Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> timedOps.size / wallS,
      "latency_p50_s" -> Stats.median(lat),
      "heap_peak_mb" -> math.max(heapSetup, heapEnd))
    val extraE2e: Seq[(String, Double)] =
      Stats.tailPercentile(lat, 0.9).map("latency_p90_s" -> _).toSeq ++
        Seq("failed_ratio" -> outcome.failedRatio, "cpu_s_per_op" -> cpuS / timedOps.size) ++
        wl.extraEndToEnd(h, timedOps).toSeq

    val layers: Map[String, Double] = counters.map { c =>
      val perOp = c.totals(w0Ms, w1Ms).map { case (k, v) =>
        k -> (if (k == "spark.task_skew") v else v / timedOps.size)
      }
      perOp ++ h.tracer.meansOver(timedOps.map(_.id).toSet)
    }.getOrElse(Map.empty)

    val units = Metrics.allFor(wl.name).toMap
    val shown: Seq[(String, Double)] =
      if (traced) Metrics.perLayer.map { case (n, _) => n -> layers.getOrElse(n, 0.0) }
      else e2e
    val layerExtra: Seq[(String, Double)] =
      if (traced) Metrics.workloadLayers(wl.name).map { case (n, _) => n -> layers.getOrElse(n, 0.0) }
      else Nil

    val record = mapper.createObjectNode()
    record.put("workload", wl.name)
    record.put("seed", seed)
    record.put("seconds", seconds)
    record.put("trace", traced)
    record.put("nproc", cpus)
    record.put("clients", if (wl == QueryBatch) cpus else 1)
    record.put("loadavg_before", loadBefore)
    record.put("loadavg_after", loadAvg())
    stealShare.fold(record.putNull("steal_share_window"))(record.put("steal_share_window", _))
    record.put("spark_version", spark.version)
    record.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
    record.put("window_s", wallS)
    record.put("timed_ops", timedOps.size)
    record.put("latency_samples", lat.size)
    val outNode = record.putObject("outcome")
    outNode.put("attempted", outcome.attempted)
    outNode.put("errors", outcome.errors)
    outNode.put("wrong_output", outcome.wrong)
    val inputs = record.putObject("inputs")
    h.inputs.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => inputs.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    def putMetrics(node: ObjectNode, ms: Seq[(String, Double)]): Unit =
      ms.foreach { case (n, v) => node.putObject(n).put("value", v).put("unit", units.getOrElse(n, "")) }
    putMetrics(record.putObject("end_to_end"), e2e ++ extraE2e)
    putMetrics(record.putObject("per_layer"), if (traced) shown ++ layerExtra else Nil)
    Files.createDirectories(Paths.get(arg("record")).getParent)
    if (traced) writeTrace(h, counters.get, timedOps, w0Ms, w1Ms, Paths.get(arg("record")).resolveSibling(s"${wl.name}-seed$seed-spans.json"))

    val summary = mapper.createObjectNode()
    summary.put("workload", wl.name)
    summary.put("seed", seed)
    summary.put("trace", traced)
    summary.put("correct", outcome.correct)
    summary.put("attempted", outcome.attempted)
    summary.put("failed", outcome.failed)
    putMetrics(summary.putObject("metrics"), if (traced) shown ++ layerExtra else e2e ++ extraE2e)
    summary.put("latency_samples", lat.size)
    stealShare.foreach(summary.put("steal_share_window", _))

    Files.write(Paths.get(arg("record")), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(record))

    val result = mapper.createObjectNode()
    result.put("correct", outcome.correct)
    result.put("attempted", outcome.attempted)
    result.put("failed", outcome.failed)
    putMetrics(result.putObject("metrics"), shown)
    spark.stop()
    println("perfbench-summary " + mapper.writeValueAsString(summary))
    println(mapper.writeValueAsString(result))
    System.out.flush()
  }

  /** Spans, samples and attributed jobs of the timed window. */
  private def writeTrace(h: Harness, c: SparkCounters, timedOps: Seq[OpRecord],
      w0Ms: Long, w1Ms: Long, out: Path): Unit = {
    val ids = timedOps.map(_.id).toSet
    val root = mapper.createObjectNode()
    val ops = root.putArray("ops")
    timedOps.sortBy(_.id).foreach { o =>
      ops.addObject().put("id", o.id).put("kind", o.kind).put("start_ns", o.startNs).put("end_ns", o.endNs)
        .put("failed", o.outcome.failed > 0)
    }
    val spans = root.putArray("spans")
    h.tracer.spans.filter(s => ids.contains(s.opId)).sortBy(_.id).foreach { s =>
      spans.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name).put("op", s.opId)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    val samples = root.putArray("samples")
    h.tracer.samples.filter(s => ids.contains(s.opId)).foreach { s =>
      samples.addObject().put("name", s.name).put("op", s.opId).put("value", s.value)
    }
    val jobs = root.putArray("jobs")
    c.jobRecords(w0Ms, w1Ms).foreach { case (id, t, tag) =>
      val j = jobs.addObject().put("id", id).put("submit_ms", t)
      tag.fold(j.putNull("op"))(tg => j.put("op", tg.stripPrefix("perfbench-op-").toLong))
    }
    val totals = root.putObject("counters")
    c.totals(w0Ms, w1Ms).toSeq.sortBy(_._1).foreach { case (k, v) => totals.put(k, v) }
    Files.write(out, mapper.writeValueAsBytes(root))
  }
}
