package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import perfbench.Battery.Sample
import perfbench.Main.{Ctx, Outcome}

object Stats {
  /** Warm passes per run, at least. An untraced run makes the workload's
    * `untraced` passes; JIT warming goes on through the whole run, so each
    * pass is faster than the one before, and a fixed count keeps the
    * median from depending on how many passes fit into `--seconds`. A
    * traced run makes three, untraced-traced-untraced, so that the
    * warming does not skew its overhead estimate. */
  def minPasses(ctx: Ctx, untraced: Int): Int = if (ctx.trace) 3 else untraced
  def tracedPass(ctx: Ctx, i: Int): Boolean = ctx.trace && i % 2 == 1

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JVM heap in use after forced collections, in MB. The second
    * collection runs after Spark's ContextCleaner has dropped the blocks
    * and broadcasts whose references the first one freed. */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

object Workloads {

  def byName(name: String, allQueries: Boolean): Ctx => Outcome = name match {
    case "queries_sf0.01" => battery(if (allQueries) Queries.all else Queries.sample)
    case "warehouse_20k" => Warehouse.run
  }

  /** Per-layer metric names every traced run reports, in order; a layer
    * the workload does not exercise reports 0. */
  val layerNames: Seq[String] =
    Battery.modules.map(_._1).flatMap(m =>
      Seq("construct_ms", "eager_jobs", "plan_ms", "exec_ms", "jobs", "core_busy")
        .map(s => s"$m.$s")) ++ Seq(
      "Tables.resolve_ms", "codegen.compile_ms", "codegen.compiles",
      "SessionCache.cold_extra_jobs", "SessionCache.cold_extra_ms",
      "streaming.batches", "streaming.batch_ms", "streaming.input_rows",
      "streaming.state_rows",
      "spark.tasks", "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_mb", "spark.spill_mb",
      "Clean.stage_ms", "Nlp.enrich_ms", "Star.dims_ms", "Star.fact_ms", "Marts.ms",
      "Pipeline.write_fact_ms", "Pipeline.write_dims_ms", "Pipeline.write_marts_ms",
      "Pipeline.validate_ms", "Pipeline.gold_bytes_ratio", "trace.overhead_ratio")

  def layerUnit(name: String): String = name.split('.').last match {
    case s if s == "ms" || s.endsWith("_ms") => "ms"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "core_busy" | "overhead_ratio" | "gold_bytes_ratio" => "ratio"
    case _ => "count"
  }

  /** The full per-layer report: `measured` plus zeros for the rest. */
  def layerMetrics(measured: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = measured.keySet -- layerNames
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    layerNames.map(n => (n, measured.getOrElse(n, 0.0), layerUnit(n)))
  }

  def expected(ctx: Ctx): Map[String, String] = {
    val p = Paths.get(ctx.bench, "expected", "fingerprints.json")
    if (ctx.record || !Files.exists(p)) Map.empty else Json.readStringMap(Files.readString(p))
  }

  /** Writes `fps` into `expected/fingerprints.json`, keeping other keys. */
  def recordFingerprints(ctx: Ctx, fps: Map[String, String]): Unit = {
    val p = Paths.get(ctx.bench, "expected", "fingerprints.json")
    val old = if (Files.exists(p)) Json.readStringMap(Files.readString(p)) else Map.empty
    val all = scala.collection.immutable.TreeMap((old ++ fps).toSeq: _*)
    Files.createDirectories(p.getParent)
    Files.writeString(p, all.map { case (k, v) => s"""  ${Json.render(k)}: ${Json.render(v)}""" }
      .mkString("{\n", ",\n", "\n}\n"))
  }

  /** A query workload. The cold pass pays the program's first-use costs:
    * JIT of its code paths, `Tables` resolution, code generation for its
    * plans and every `SessionCache` build. Warm passes repeat the same
    * queries over the same directory until `--seconds` have been measured.
    * The seed fixes the query order. */
  def battery(names: Seq[String])(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val qs = new scala.util.Random(ctx.seed).shuffle(Battery.queries(names))
    val exp = expected(ctx)
    val dataDir = s"${ctx.work}/data"
    val rec = ctx.recorder

    // Traced only: first resolution of every table, on a copy of the input
    // no pass reads, so the cold pass still resolves its own tables.
    val resolveMs = rec.map { _ =>
      graft.Tables.names.map { n =>
        val t0 = System.nanoTime(); graft.Tables(spark, s"${ctx.work}/probe", n)
        (System.nanoTime() - t0) / 1e6
      }.sum
    }
    val (cg0ms, cg0n) = (Codegen.ms, Codegen.count)
    rec.foreach(_.attach())

    def pass(): Seq[Sample] = qs.map { q =>
      val s = Battery.timed(spark, q, dataDir, exp.get(q.name), ctx.record)
      rec.foreach(_.drain())
      s
    }
    def seconds(p: Seq[Sample]) = Battery.seconds(p)

    val cold = pass()
    rec.foreach(r => cold.foreach(spans(r, _)))
    val (cgMs, cgN) = (Codegen.ms - cg0ms, Codegen.count - cg0n)
    val warmPasses = ArrayBuffer.empty[(Seq[Sample], Boolean)]
    val t0 = System.nanoTime()
    while (warmPasses.size < Stats.minPasses(ctx, untraced = 3) ||
        (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = Stats.tracedPass(ctx, warmPasses.size)
      rec.foreach(r => if (traced) r.attach() else r.detach())
      val p = pass()
      rec.foreach(r => if (traced) p.foreach(spans(r, _)))
      warmPasses += p -> traced
    }
    rec.foreach(_.detach())
    val retained = Stats.retainedMb()

    val all = cold ++ warmPasses.flatMap(_._1)
    val failures = all.filterNot(_.ok)
    if (ctx.record) recordFingerprints(ctx, cold.map(s => s.q.name -> s.fp).toMap)
    val untraced = warmPasses.collect { case (p, false) => p }
    val tracedPasses = warmPasses.collect { case (p, true) => p }
    // Each query's median over the warm passes, then the median over the
    // queries: the pooled median of a few passes jumps between neighbouring
    // queries' latencies from run to run.
    val perQuery = untraced.flatten.groupBy(_.q.name)
      .map { case (n, ss) => n -> Stats.median(ss.map(_.latency / 1e6).toSeq) }

    val metrics = rec match {
      case None => Seq(
        ("setup_s", ctx.setupS, "s"),
        ("cold_pass_s", seconds(cold), "s"),
        ("warm_pass_s", Stats.median(untraced.map(seconds).toSeq), "s"),
        ("op_p50_ms", Stats.median(perQuery.values.toSeq), "ms"),
        ("retained_mb", retained, "MB"))
      case Some(r) =>
        layerMetrics(traceLayers(ctx, r, cold, tracedPasses.toSeq) ++ Map(
          "Tables.resolve_ms" -> resolveMs.get,
          "codegen.compile_ms" -> cgMs, "codegen.compiles" -> cgN.toDouble,
          "trace.overhead_ratio" ->
            Stats.median(tracedPasses.map(seconds).toSeq) /
              Stats.median(untraced.map(seconds).toSeq)))
    }
    val sumOk = rec.isEmpty || phaseSumsOk(tracedPasses.flatten.toSeq)
    Outcome(all.size, failures.size, sumOk, metrics, Map(
      "order" -> qs.map(_.name),
      "warm_passes" -> untraced.size, "traced_passes" -> tracedPasses.size,
      "warm_pass_s_each" -> untraced.map(seconds),
      "warm_ms" -> untraced.flatten.groupBy(_.q.name)
        .map { case (n, ss) => n -> ss.map(_.latency / 1e6) },
      "failures" -> failures.map(s => Map("query" -> s.q.name, "error" -> s.error)),
      "cold_ms" -> cold.map(s => s.q.name -> s.latency / 1e6).toMap,
      "warm_median_ms" -> perQuery))
  }

  /** A traced query as a span with its construct, plan and exec children. */
  def spans(r: Recorder, s: Sample): Unit = {
    val id = r.newId()
    r.record(Span(id, 0, s.q.name, s.q.module, s.ms(0), s.ms(3), s.wall))
    Seq(("construct", s.construct), ("plan", s.plan), ("exec", s.exec)).zipWithIndex
      .foreach { case ((phase, ns), i) =>
        r.record(Span(r.newId(), id, s.q.name, phase, s.ms(i), s.ms(i + 1), ns))
      }
  }

  /** Per module, construct + plan + exec must cover the caller-timed
    * query wall time within 10%. */
  def phaseSumsOk(samples: Seq[Sample]): Boolean =
    samples.groupBy(_.q.module).forall { case (_, ss) =>
      val wall = ss.map(_.wall).sum.toDouble
      math.abs(ss.map(_.latency).sum - wall) <= 0.1 * wall
    }

  /** Per-layer numbers of the traced passes, per pass. */
  def traceLayers(ctx: Ctx, r: Recorder, cold: Seq[Sample],
      traced: Seq[Seq[Sample]]): Map[String, Double] = {
    val n = traced.size.toDouble
    val samples = traced.flatten
    def jobs(s: Sample, from: Int, to: Int) = r.jobsIn(s.ms(from), s.ms(to) - (if (to < 3) 1 else 0))
    val perModule = samples.groupBy(_.q.module).flatMap { case (m, ss) =>
      val execJobs = ss.flatMap(jobs(_, 2, 3))
      val execMs = ss.map(_.exec).sum / 1e6
      Seq(
        s"$m.construct_ms" -> ss.map(_.construct).sum / 1e6 / n,
        s"$m.eager_jobs" -> ss.map(jobs(_, 0, 1).size).sum / n,
        s"$m.plan_ms" -> ss.map(_.plan).sum / 1e6 / n,
        s"$m.exec_ms" -> execMs / n,
        s"$m.jobs" -> execJobs.size / n,
        s"$m.core_busy" -> r.tasksOf(execJobs).runMs / (execMs * ctx.cores))
    }
    def passJobs(p: Seq[Sample]) = p.flatMap(s => jobs(s, 0, 3))
    val warmJobs = traced.flatMap(passJobs)
    val windows = samples.map(s => (s.ms(0), s.ms(3)))
    val batches = r.batches.toArray(Array.empty[Batch]).toSeq
      .filter(b => windows.exists { case (a, z) => b.startMs >= a && b.startMs <= z })
    def seconds(p: Seq[Sample]) = Battery.seconds(p)
    perModule ++ r.sparkTotals(warmJobs, n) ++ Map(
      "SessionCache.cold_extra_jobs" -> (passJobs(cold).size - warmJobs.size / n),
      "SessionCache.cold_extra_ms" -> (seconds(cold) - Stats.median(traced.map(seconds))) * 1e3,
      "streaming.batches" -> batches.size / n,
      "streaming.batch_ms" -> batches.map(_.ms).sum / n,
      "streaming.input_rows" -> batches.map(_.inputRows).sum / n,
      "streaming.state_rows" -> batches.map(_.stateRows).sum / n)
  }
}
