package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** JVM side of the benchmark: runs one workload in one JVM on
  * `local[N]` as a closed loop with one client thread, and writes the
  * result (and, when traced, the spans and the layer table) as JSON.
  *
  * {{{
  * Main --workload grid_scan --seed 1 --seconds 10 --trace 0 --cpus N
  *      --data <dir> --cache <dir> --run-dir <dir> --out <result.json>
  *      --t0-ms <epoch ms> --excluded-ms <ms> [--tiny] [--inject-wrong op,...]
  * Main --dump-oracles <file>
  * }}}
  * `--t0-ms` is when the benchmark command started and `--excluded-ms`
  * the part of set-up spent outside the measured work (the build, the
  * expected answers). `--tiny` and `--inject-wrong` serve the self-test.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val flags = Set("--tiny")
    def parse(rest: List[String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => parse(tail) + (f.drop(2) -> "1")
      case k :: v :: tail if k.startsWith("--") => parse(tail) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val args = parse(argv.toList)
    args.get("dump-oracles") match {
      case Some(path) =>
        val sql = Pipeline.Ops.flatMap(n => graft.SparkEntry.oracleSql.get(n)
          .map(n -> _)).toMap
        mapper.writeValue(new java.io.File(path), sql)
      case None => run(args)
    }
  }

  private def loadavg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.toArray.toSeq
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
      .getCollectionTime.max(0L)).sum

  def run(args: Map[String, String]): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val runDir = args("run-dir")
    val t0Ms = args("t0-ms").toDouble
    var excludedMs = args("excluded-ms").toDouble
    val loadStart = loadavg()

    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val rec = new Recorder(sc)
    val sparkRec = new SparkRecorder
    val qeRec = new QeRecorder
    // A traced run traces half of the passes, in the order untraced,
    // traced, traced, untraced, so that the untraced ones measure the
    // tracing overhead in the same time window and a steady speed-up over
    // the run does not bias it.
    def tracing(on: Boolean): Unit = if (on != rec.traced) {
      if (on) {
        sc.addSparkListener(sparkRec)
        spark.listenerManager.register(qeRec)
        rec.traced = true
      } else {
        rec.idle()
        rec.traced = false
        org.apache.spark.sql.graftbench.SparkBridge.drain(sc)
        sc.removeSparkListener(sparkRec)
        spark.listenerManager.unregister(qeRec)
      }
    }
    def tracedPass(p: Int): Boolean = traced && Math.floorMod(p, 4) >= 2
    val ctx = new Ctx(spark, rec, seed, runDir, args("data"), args("cache"),
      args.contains("tiny"),
      args.get("inject-wrong").map(_.split(",").toSet).getOrElse(Set.empty))
    val wl: Workload = workload match {
      case "grid_scan" => new GridScan(ctx)
      case "grid_ingest" => new GridIngest(ctx)
      case "pipeline" => new Pipeline(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var wrong = 0L
    val counterDeltas = mutable.HashMap.empty[(Int, String), Map[String, Long]]
    val gcByPass = mutable.HashMap.empty[Int, Long]

    def runPass(p: Int): Unit = {
      tracing(tracedPass(p))
      rec.pass = p
      rec.op = ""
      val gc0 = gcMs()
      rec.span("pass", s"pass-$p") {
        wl.ops.foreach { op =>
          rec.op = op.name
          val before = if (rec.traced) GlobalCounters.snapshot() else None
          attempted += 1
          try rec.span("op", op.name)(op.run())
          catch {
            case e: WrongAnswer =>
              wrong += 1
              errors += s"pass $p: ${e.getMessage}"
            case e: Throwable =>
              errors += s"pass $p: ${op.name}: ${e.toString.take(400)}"
          }
          for (b <- before; a <- GlobalCounters.snapshot())
            counterDeltas((p, op.name)) = a.map { case (k, v) => k -> (v - b(k)) }
          rec.op = ""
        }
      }
      gcByPass(p) = gcMs() - gc0
      wl.afterPass()
      // every pass starts from a collected heap, so that garbage one pass
      // leaves behind is not collected on the next pass's clock
      System.gc()
    }

    val sessionMs = Clock.nowUs / 1000.0 - t0Ms
    rec.pass = -1
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareMs = (System.nanoTime() - p0) / 1e6
    val e0 = System.nanoTime()
    wl.expect()
    val expectMs = (System.nanoTime() - e0) / 1e6
    excludedMs += expectMs
    val w0 = System.nanoTime()
    (1 - wl.warmPasses to 0).foreach(runPass) // part of set-up
    val warmMs = (System.nanoTime() - w0) / 1e6
    val firstTimedMs = Clock.nowUs / 1000.0
    val setupS = (firstTimedMs - t0Ms - excludedMs) / 1000.0
    // whole passes only, so every op is sampled equally often: another
    // pass starts while the mean pass so far still fits in the window.
    // There are at least two, so that no median rests on one pass, and a
    // traced run holds at least one untraced-traced-traced-untraced cycle.
    val start = System.nanoTime()
    val window = (seconds * 1e9).toLong
    val minPasses = if (traced) 4 else 2
    var passes = 0
    def elapsed: Long = System.nanoTime() - start
    do { passes += 1; runPass(passes) }
    while (passes < minPasses || elapsed + elapsed / passes <= window)
    tracing(false)
    rec.idle()
    val late = wl.finish()
    wrong += late.size
    errors ++= late
    val loadEnd = loadavg()

    def passTimesOf(keep: Int => Boolean): Seq[Double] = rec.spans
      .filter(s => s.kind == "pass" && s.pass >= 1 && keep(s.pass))
      .map(_.durUs / 1e6).toSeq
    val passTimes = passTimesOf(_ => true)
    val opTimes = rec.spans.filter(s => s.kind == "op" && s.pass >= 1)
      .map(_.durUs / 1e6).toSeq
    val p90 = Stats.quantile(opTimes, 0.9)
    val failed = errors.size.toLong
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var layers: Layers.Result = null
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (Stats.quantile(passTimes, 0.5), "s")
      metrics("op_latency_p50_s") = (Stats.quantile(opTimes, 0.5), "s")
      metrics("op_latency_p90_s") = (p90, "s")
      metrics("peak_rss_mb") = (vmHwmMb(), "MB")
    } else {
      layers = Layers.compute(workload, rec, sparkRec, qeRec,
        (1 to passes).filter(tracedPass).toSet, cpus, wl, counterDeltas.toMap,
        gcByPass.toMap)
      metrics ++= layers.metrics
      metrics("error_rate") = (failed.toDouble / attempted, "ratio")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(args("out")).resolveSibling("spans.jsonl"),
        layers.spans.map(s => mapper.writeValueAsString(Map(
          "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "pass" -> s.pass, "op" -> s.op,
          "start_us" -> s.startUs, "end_us" -> s.endUs))).mkString("\n")
          .getBytes("UTF-8"))
    }

    val perOp = rec.spans.filter(s => s.kind == "op" && s.pass >= 1)
      .groupBy(_.name).map { case (n, ss) =>
        val times = ss.sortBy(_.pass).map(_.durUs / 1e6).toSeq
        n -> Map("samples" -> ss.size,
          "median_s" -> Stats.quantile(times, 0.5), "times_s" -> times)
      }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> errors.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "wrong_answers" -> wrong, "errors" -> errors.take(20),
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "absent" -> (if (layers == null) Nil else layers.absent),
      "context" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "local_slots" -> cpus, "seconds" -> seconds,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.toSeq.map(_.toString)
          .filter(a => a.startsWith("-X")),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "inputs" -> wl.inputs,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "timed_passes" -> passes,
        "pass_s" -> Stats.quantile(passTimes, 0.5), "setup_s" -> setupS,
        "op_samples" -> opTimes.size,
        "op_samples_above_p90" -> opTimes.count(_ > p90),
        "excluded_ms" -> excludedMs,
        "setup_parts_ms" -> Map("start_to_session" -> sessionMs,
          "inputs" -> prepareMs, "expected_answers" -> expectMs,
          "warm_passes" -> warmMs)),
      "per_op" -> perOp,
      "pass_times_s" -> passTimes)
    if (layers != null) {
      // traced minus untraced passes of this run, in one time window
      val on = Stats.quantile(passTimesOf(tracedPass), 0.5)
      val off = Stats.quantile(passTimesOf(p => !tracedPass(p)), 0.5)
      result("tracing_overhead_s") = on - off
      result("pass_s_traced") = on
      result("pass_s_untraced") = off
      result("layers") = layers.table
      result("per_op_counts") = layers.perOpCounts
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(args("out")), result)
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The engine's JVM-global I/O counters, read reflectively so that the
  * benchmark still runs (and reports them absent) once they are gone.
  */
object GlobalCounters {
  private def adder(obj: String, field: String)
      : Option[java.util.concurrent.atomic.LongAdder] =
    try {
      val c = Class.forName(obj)
      val m = c.getField("MODULE$").get(null)
      Some(c.getMethod(field).invoke(m)
        .asInstanceOf[java.util.concurrent.atomic.LongAdder])
    } catch { case _: Throwable => None }

  private lazy val adders: Map[String, Seq[java.util.concurrent.atomic.LongAdder]] =
    Seq(
      "bytes_read" -> Seq(adder("graft.grid.GridIO$Counters$", "bytesRead")),
      "read_calls" -> Seq(adder("graft.grid.GridIO$Counters$", "reads"),
        adder("graft.grid.GridIO$Counters$", "rangeReads")),
      "list_calls" -> Seq(adder("graft.grid.GridIO$Counters$", "lists")))
      .filter(_._2.forall(_.isDefined)).map { case (k, v) => k -> v.flatten }
      .toMap

  def names: Seq[String] = Seq("bytes_read", "read_calls", "list_calls")

  def snapshot(): Option[Map[String, Long]] =
    if (adders.isEmpty) None
    else Some(adders.map { case (k, as) => k -> as.map(_.sum()).sum })
}
