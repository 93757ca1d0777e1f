package graftbench

import scala.collection.mutable

/** Turns the spans and listener records of a traced run into the
  * per-layer metrics (per traced pass, averaged over the traced
  * passes), the layer self-time table and the per-op counts.
  */
object Layers {
  final case class Result(metrics: Seq[(String, (Double, String))],
      absent: Seq[String], table: Map[String, Map[String, Double]],
      perOpCounts: Map[String, Map[String, Double]], spans: Seq[Span])

  private val BenchKinds = Set("op", "build", "action", "grid", "sources")

  def compute(workload: String, rec: Recorder, sr: SparkRecorder,
      qr: QeRecorder, passes: Set[Int], cpus: Int, wl: Workload,
      counters: Map[(Int, String), Map[String, Long]],
      gcMsByPass: Map[Int, Long]): Result = {
    val np = math.max(passes.size, 1).toDouble
    val bench = rec.spans.toSeq
    val opSpans = bench.filter(_.kind == "op")
    val byId = bench.map(s => s.id -> s).toMap

    // Spark jobs and stages become spans under the benchmark span that
    // was current when the job started
    val jobSpan = mutable.HashMap.empty[Int, Span]
    val sparkSpans = mutable.ArrayBuffer.empty[Span]
    sr.jobs.foreach { j =>
      val parent = byId.get(j.span)
      val s = Span(rec.nextId(), j.span, "job", s"job-${j.jobId}",
        parent.map(_.pass).getOrElse(j.pass), parent.map(_.op).getOrElse(j.op),
        j.startMs * 1000L, j.endMs * 1000L)
      jobSpan(j.jobId) = s
      sparkSpans += s
    }
    sr.stages.values.foreach { st =>
      val parent = jobSpan.get(st.jobId)
      if (st.completeMs > 0) sparkSpans += Span(rec.nextId(),
        parent.map(_.id).getOrElse(0L), "stage", s"stage-${st.stageId}",
        parent.map(_.pass).getOrElse(st.pass), parent.map(_.op).getOrElse(st.op),
        st.submitMs * 1000L, st.completeMs * 1000L)
    }

    // each query execution belongs to the op that ran its jobs, or else
    // to the op whose interval holds its first phase
    val opByKey = opSpans.map(o => (o.pass, o.op) -> o).toMap
    def opAt(us: Long): Option[Span] =
      opSpans.find(o => o.startUs <= us && us <= o.endUs)
    def innermostAt(o: Span, us: Long): Span =
      bench.filter(s => s.pass == o.pass && s.op == o.op &&
        BenchKinds(s.kind) && s.startUs <= us && us <= s.endUs)
        .sortBy(_.durUs).headOption.getOrElse(o)
    val qeOp = qr.recs.toSeq.flatMap { q =>
      val firstPhaseUs = q.phases.map(_._2).sorted.headOption.map(_ * 1000L)
      val execId = Option(sr.executionIds.get(q.qe)).map(_.longValue)
      val o = execId.flatMap(id => sr.jobs.find(_.execId == id))
        .flatMap(j => opByKey.get((j.pass, j.op)))
        .orElse(firstPhaseUs.flatMap(opAt))
      o.map(op => (q, op))
    }
    val phaseSpans = qeOp.flatMap { case (q, o) =>
      q.phases.map { case (n, s, e) =>
        val parent = innermostAt(o, s * 1000L)
        Span(rec.nextId(), parent.id, n, n, o.pass, o.op, s * 1000L, e * 1000L)
      }
    }
    val spans = bench ++ sparkSpans ++ phaseSpans
    val timed = spans.filter(s => passes.contains(s.pass))

    // self time: duration minus the union of the children's intervals
    val children = timed.groupBy(_.parent)
    def selfUs(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += math.max(0L, curE - curS)
      s.durUs - covered
    }
    val table = timed.groupBy(_.kind).map { case (k, ss) =>
      k -> Map("count" -> ss.size / np,
        "total_s" -> ss.map(_.durUs).sum / 1e6 / np,
        "self_s" -> ss.map(selfUs).sum / 1e6 / np)
    }

    // per-op counts per traced pass
    val opJobs = sr.jobs.filter(j => passes.contains(j.pass)).groupBy(_.op)
    val opStages = sr.stages.values.filter(s => passes.contains(s.pass))
      .groupBy(_.op)
    val opQe = qeOp.filter(x => passes.contains(x._2.pass)).groupBy(_._2.op)
    def under(spanId: Long, kind: String): Boolean = {
      var cur = byId.get(spanId)
      var hit = false
      while (!hit && cur.isDefined) {
        hit = cur.get.kind == kind
        cur = byId.get(cur.get.parent)
      }
      hit
    }
    val ops = wl.ops.map(_.name)
    val perOpCounts = ops.map { n =>
      val st = opStages.getOrElse(n, Nil)
      val shapes = opQe.getOrElse(n, Nil).map(_._1.shape)
      n -> Map(
        "jobs" -> opJobs.getOrElse(n, Nil).size / np,
        "stages" -> st.size / np,
        "tasks" -> st.map(_.tasks).sum / np,
        "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum / np,
        "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / np,
        "scan_partitions" -> shapes.map(_.scanPartitions).sum / np,
        "exchanges" -> shapes.map(_.exchanges).sum / np)
    }.toMap

    val stages = sr.stages.values.filter(s => passes.contains(s.pass)).toSeq
    val jobs = sr.jobs.filter(j => passes.contains(j.pass)).toSeq
    val shapes = qeOp.filter(x => passes.contains(x._2.pass))
    val allShape = shapes.map(_._1.shape).foldLeft(PlanShape())(_ + _)
    val gridScansTotal = shapes.map { case (q, o) =>
      q.shape.gridScans * wl.gridChunks(o.op) }.sum
    def kindSum(kind: String, names: Set[String]): Double =
      timed.filter(s => s.kind == kind && names(s.name)).map(_.durUs).sum / 1e6 / np
    def phase(n: String): Double =
      phaseSpans.filter(s => s.kind == n && passes.contains(s.pass))
        .map(_.durUs).sum / 1e6 / np
    val passWallS = timed.filter(_.kind == "pass").map(_.durUs).sum / 1e6 / np
    val taskRunS = stages.map(_.runMs).sum / 1e3 / np
    val scanRows = allShape.scanRows / np
    val metaOps = shapes.filter(_._1.shape.metadataAnswered)
      .map(x => (x._2.pass, x._2.op)).distinct.size / np
    val counterSum: Map[String, Double] = GlobalCounters.names.map { k =>
      k -> counters.collect { case ((p, _), m) if passes.contains(p) && m.contains(k) =>
        m(k) }.sum / np }.toMap
    val haveCounters = counters.nonEmpty

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("queries.build_s") = (timed.filter(_.kind == "build").map(_.durUs).sum / 1e6 / np, "s")
    m("queries.build_jobs") = (jobs.count(j => under(j.span, "build")) / np, "count")
    m("plans.analysis_s") = (phase("analysis"), "s")
    m("plans.optimization_s") = (phase("optimization"), "s")
    m("plans.planning_s") = (phase("planning"), "s")
    m("plans.exchanges") = (allShape.exchanges / np, "count")
    m("plans.broadcast_joins") = (allShape.broadcastJoins / np, "count")
    m("plans.sort_merge_joins") = (allShape.sortMergeJoins / np, "count")
    m("plans.codegen_fallbacks") = (allShape.codegenFallbacks / np, "count")
    m("plans.metadata_answered_ops") = (metaOps, "count")
    m("sources.scan_partitions") = (allShape.scanPartitions / np, "count")
    m("sources.chunk_prune_frac") = (if (gridScansTotal == 0) 0.0
      else 1.0 - allShape.scanPartitions.toDouble / gridScansTotal, "ratio")
    m("sources.scan_rows") = (scanRows, "count")
    m("sources.open_s") = (kindSum("sources", Set("fromDataset", "read.zarr")), "s")
    val absent = mutable.ArrayBuffer.empty[String]
    if (haveCounters) {
      m("grid.bytes_read") = (counterSum("bytes_read"), "bytes")
      m("grid.read_calls") = (counterSum("read_calls"), "count")
      m("grid.list_calls") = (counterSum("list_calls"), "count")
      m("grid.bytes_read_per_row") = (if (scanRows == 0) 0.0
        else counterSum("bytes_read") / scanRows, "bytes/row")
    } else absent ++= Seq("grid.bytes_read", "grid.read_calls",
      "grid.list_calls", "grid.bytes_read_per_row")
    val extras = wl.layerExtras()
    m("grid.decode_mb_per_s") = (extras.getOrElse("grid.decode_mb_per_s", 0.0), "MB/s")
    m("grid.write_s") = (kindSum("grid",
      Set("ZarrV3.writeFromRows", "ZarrV3.writeDistributed")), "s")
    m("grid.append_s") = (kindSum("grid", Set("ZarrV3.appendFromRows")), "s")
    m("grid.stored_bytes_per_cell") =
      (extras.getOrElse("grid.stored_bytes_per_cell", 0.0), "bytes/cell")
    m("grid.files_written") = (extras.getOrElse("grid.files_written", 0.0), "count")
    m("grid.to_grid_s") = (kindSum("grid", Set("GridResult.toGrid")), "s")
    m("spark.jobs") = (jobs.size / np, "count")
    m("spark.stages") = (stages.size / np, "count")
    m("spark.tasks") = (stages.map(_.tasks).sum / np, "count")
    m("spark.sched_delay_s") = (stages.map(_.schedDelayMs).sum / 1e3 / np, "s")
    m("spark.task_run_s") = (taskRunS, "s")
    m("spark.task_cpu_s") = (stages.map(_.cpuNs).sum / 1e9 / np, "s")
    m("spark.slot_busy_frac") = (if (passWallS == 0) 0.0
      else taskRunS / (passWallS * cpus), "ratio")
    m("spark.shuffle_write_bytes") = (stages.map(_.shuffleWriteBytes).sum / np, "bytes")
    m("spark.shuffle_fetch_wait_s") = (stages.map(_.fetchWaitMs).sum / 1e3 / np, "s")
    m("spark.spill_bytes") = (stages.map(_.spillBytes).sum / np, "bytes")
    m("spark.result_bytes") = (stages.map(_.resultBytes).sum / np, "bytes")
    m("spark.gc_s") = (passes.toSeq.map(gcMsByPass.getOrElse(_, 0L)).sum / 1e3 / np, "s")
    m("spark.task_failures") = (stages.map(_.failures).sum / np, "count")
    def focus(w: String, op: String, k: String): Double =
      if (w != workload) 0.0 else perOpCounts.get(op).flatMap(_.get(k)).getOrElse(0.0)
    m("pipeline.ngram_dup_spans.shuffle_write_bytes") =
      (focus("pipeline", "ngram_dup_spans", "shuffle_write_bytes"), "bytes")
    m("pipeline.ngram_dup_spans.task_cpu_s") =
      (focus("pipeline", "ngram_dup_spans", "task_cpu_s"), "s")
    Seq("dsir_resample", "pagerank_neardup", "bpe_train", "label_propagation")
      .foreach(o => m(s"pipeline.$o.jobs") = (focus("pipeline", o, "jobs"), "count"))
    m("grid_scan.dim_join.scan_partitions") =
      (focus("grid_scan", "dim_join", "scan_partitions"), "count")

    val tableOut = table ++ Map("tracing" -> Map(
      "query_executions" -> qr.recs.size.toDouble,
      "query_executions_attributed" -> qeOp.size.toDouble))
    Result(m.toSeq, absent.toSeq, tableOut, perOpCounts, spans)
  }
}
