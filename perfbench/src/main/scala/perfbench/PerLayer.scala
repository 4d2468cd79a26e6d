package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, computed from the recorded spans,
  * jobs, plans and counters. Every name is printed on every workload; a
  * layer the workload bypasses reads 0. */
object PerLayer {
  /** Figures no workload of BENCHMARK.json makes: dossier_requests' graph
    * calls, and the graph and rel self time of timed operations
    * (batch_sweep measures graph and rel calls beside the run). The result
    * line leaves them out; the report lines keep them. */
  def inResult(name: String): Boolean =
    !dossierFns.exists(fn => name.startsWith(s"graph.$fn.")) && !Set("graph.self_ms", "rel.self_ms")(name)

  val dossierFns = Seq("egoMembers", "connectionDistance", "propagateLayers")
  val graphFns = dossierFns ++ Seq("strongestChain", "Motif.find")
  val textOps = Seq("bm25.probe", "bm25.append", "bm25.remove", "bm25.compact",
                    "lsh.probe", "ivf.probe")
  val selfLayers = Seq("op" -> "bench", "compose" -> "compose", "graph" -> "graph",
                       "rel" -> "rel", "text" -> "text", "stream" -> "stream", "spark" -> "spark")

  def compute(t: Tracer, runMs: Double, cores: Int, nOps: Int, gcMs: Long, jitMs: Long,
              opLat: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    def put(k: String, v: Double, u: String): Unit = out += ((k, v, u))
    val spans = t.allSpans
    val timed = spans.filter(s => s.op > 0)
    val self = Trace.selfMs(spans)
    val jobs = t.jobStats
    val parent = t.jobParent
    val jobOp = spans.filter(_.layer == "spark").map(s => s.name.drop(3).toInt -> s.op).toMap
    val timedJobs = jobs.filter { case (j, _) => jobOp.getOrElse(j, 0L) > 0 }
    def jobsUnder(ids: Set[Long]): Map[Int, JobStats] =
      jobs.filter { case (j, _) => ids(parent.getOrElse(j, 0L)) }
    val execOfJob = t.jobExecution
    val plansByExec = t.planStats.groupBy(_.execId)
    def plansOf(js: Iterable[Int]): Seq[PlanStats] =
      js.flatMap(execOfJob.get).toSet.toSeq.flatMap((e: Long) => plansByExec.getOrElse(e, Seq.empty[PlanStats]))
    def sumJobs(js: Iterable[JobStats])(f: JobStats => Long): Double = js.map(f).sum.toDouble
    def layerSpans(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    val mb = 1024.0 * 1024.0

    // sources: parquet scans in the plans of the timed jobs
    val tj = timedJobs.values
    val scans = plansOf(timedJobs.keys)
    put("sources.scan_ms", scans.map(_.scanMs).sum.toDouble, "ms")
    put("sources.rows_read", scans.map(_.rowsRead).sum.toDouble, "count")
    put("sources.bytes_read", scans.map(_.bytesRead).sum.toDouble, "bytes")
    put("sources.files_read", scans.map(_.filesRead).sum.toDouble, "count")

    // graph
    var graphRowsIn = 0.0
    graphFns.foreach { fn =>
      val ss = layerSpans("graph", fn)
      val js = jobsUnder(ss.map(_.id).toSet)
      graphRowsIn += sumJobs(js.values)(j => j.inputRecords + j.shuffleReadRecords)
      put(s"graph.$fn.ms", ss.map(_.durMs).sum, "ms")
      put(s"graph.$fn.calls", ss.size.toDouble, "count")
      put(s"graph.$fn.jobs", js.size.toDouble, "count")
    }
    val rowsOut = t.counter("graph.rows_out")
    put("graph.rows_in_per_row_out", if (rowsOut > 0) graphRowsIn / rowsOut else 0.0, "ratio")

    // rel: entity-resolution blocker, measured beside the run
    val er = layerSpans("rel", "er")
    val cand = t.counter("rel.er.candidates")
    val pairs = t.counter("rel.er.pairs_out")
    put("rel.er.ms", er.map(_.durMs).sum, "ms")
    put("rel.er.candidates", cand, "count")
    put("rel.er.pairs_out", pairs, "count")
    put("rel.er.pair_yield", if (cand > 0) pairs / cand else 0.0, "ratio")

    // text
    textOps.foreach(op => put(s"text.$op.ms", layerSpans("text", op).map(_.durMs).sum, "ms"))
    put("text.bytes_written", t.counter("text.bytes_written"), "bytes")
    put("text.files_written", t.counter("text.files_written"), "count")
    put("text.shards_rewritten", t.counter("text.shards_rewritten"), "count")
    val probes = spans.filter(s => s.layer == "text" && s.name.endsWith(".probe") && s.op > 0)
    val probeJobs = jobsUnder(probes.map(_.id).toSet)
    put("text.files_read_per_probe",
      if (probes.isEmpty) 0.0 else plansOf(probeJobs.keys).map(_.filesRead).sum.toDouble / probes.size, "count")
    val lshCand = t.counter("text.lsh.candidates")
    put("text.lsh.candidates", lshCand, "count")
    put("text.lsh.yield", if (lshCand > 0) t.counter("text.lsh.pairs_out") / lshCand else 0.0, "ratio")

    // stream
    put("stream.applyDocBatch.ms", layerSpans("stream", "applyDocBatch").map(_.durMs).sum, "ms")
    put("stream.applyVecBatch.ms", layerSpans("stream", "applyVecBatch").map(_.durMs).sum, "ms")
    put("stream.batch_rows", t.counter("stream.batch_rows"), "count")

    // compose
    put("compose.build.ms", layerSpans("compose", "build").filter(_.op > 0).map(_.durMs).sum, "ms")
    put("compose.execute.ms", layerSpans("compose", "execute").filter(_.op > 0).map(_.durMs).sum, "ms")
    put("compose.planning.ms", plansOf(timedJobs.keys).map(_.planningMs).sum.toDouble, "ms")
    BatchSweep.queries.foreach(q =>
      put(s"compose.$q.ms", opLat.filter(_._1 == q).map(_._2 * 1000.0).sum, "ms"))

    // spark engine, over the timed jobs
    val taskRun = sumJobs(tj)(_.runMs)
    val tPlans = plansOf(timedJobs.keys)
    put("spark.jobs", timedJobs.size.toDouble, "count")
    put("spark.jobs_per_op", if (nOps > 0) timedJobs.size.toDouble / nOps else 0.0, "count")
    put("spark.stages", sumJobs(tj)(_.stages), "count")
    put("spark.tasks", sumJobs(tj)(_.tasks), "count")
    put("spark.task_run_ms", taskRun, "ms")
    put("spark.task_gc_ms", sumJobs(tj)(_.gcMs), "ms")
    put("spark.busy_ratio", if (runMs > 0) taskRun / (runMs * cores) else 0.0, "ratio")
    put("spark.sched_wait_ms", sumJobs(tj)(_.schedWaitMs), "ms")
    put("spark.shuffle_write_mb", sumJobs(tj)(_.shuffleWriteBytes) / mb, "MB")
    put("spark.shuffle_read_mb", sumJobs(tj)(_.shuffleReadBytes) / mb, "MB")
    put("spark.spill_mb", sumJobs(tj)(_.spillBytes) / mb, "MB")
    put("spark.exchanges", tPlans.map(_.exchanges).sum.toDouble, "count")
    put("spark.reused_exchanges", tPlans.map(_.reused).sum.toDouble, "count")
    put("spark.broadcast_exchanges", tPlans.map(_.broadcasts).sum.toDouble, "count")

    // driver JVM
    put("driver.gc_ms", gcMs.toDouble, "ms")
    put("driver.jit_ms", jitMs.toDouble, "ms")

    // self time per layer over the timed operations
    selfLayers.foreach { case (layer, label) =>
      put(s"$label.self_ms", timed.filter(_.layer == layer).map(s => self.getOrElse(s.id, 0.0)).sum, "ms")
    }
    out.toSeq
  }

  /** Where the time went, by layer: self time and its share of the run. */
  def printSummary(m: Seq[(String, Double, String)]): Unit = {
    val selfs = m.filter(_._1.endsWith(".self_ms"))
    val total = selfs.map(_._2).sum
    println("# per-layer self time (traced operations):")
    selfs.sortBy(-_._2).foreach { case (k, v, _) =>
      println(f"#   ${k.stripSuffix(".self_ms")}%-8s $v%12.1f ms ${if (total > 0) 100 * v / total else 0.0}%5.1f%%")
    }
    println("# per-layer metrics:")
    m.foreach { case (k, v, u) => println(f"#   $k%-34s $v%16.4f $u") }
  }
}
