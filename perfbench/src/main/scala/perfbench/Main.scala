package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run. Started by `run.py`, which builds the program, lays
  * out the run's work directory and relays the result line:
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --bench DIR --work DIR --started-ms MS --commit SHA
  *   [--record 1] [--all-queries 1] [--bronze-rows N --expected-fact-rows N]
  *
  * Prints one JSON result line last on stdout and writes the run's
  * artifact (and, when traced, its spans) under `--work`. */
object Main {

  final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Double,
      trace: Boolean, bench: String, work: String, setupS: Double, record: Boolean,
      args: Map[String, String]) {
    lazy val recorder: Option[Recorder] = if (trace) Some(new Recorder(spark)) else None
  }

  /** What a workload hands back: operations attempted and failed, the
    * metrics (name → value, unit) and extra artifact fields. */
  final case class Outcome(attempted: Long, failed: Long, checksOk: Boolean,
      metrics: Seq[(String, Double, String)], artifact: Map[String, Any])

  /** Set-up work that warms Spark itself (parquet I/O, code generation, a
    * shuffle, a window) on a table of its own, so that the cold pass does
    * not carry the first-job cost of a fresh JVM, its noisiest part. No
    * program code runs. */
  def engineWarmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(2000).selectExpr("id", "id % 97 AS k", "CAST(id AS STRING) AS s",
      "rand(1) AS x").write.parquet(dir)
    val t = spark.read.parquet(dir)
    val byK = t.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("sx"), max("s").as("ms"))
    Fingerprint.of(Fingerprint.frame(t.join(byK, "k").withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))))
  }

  /** Set-up rounds per run. `setup_s` is their median, which one slow
    * round does not move. */
  val setupRounds = 3

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Sets up [[setupRounds]] times: each round builds the session and
    * warms the engine, and every round but the last stops its session
    * again. The first round also counts the run's start: preparing the
    * inputs and starting the JVM. Returns the last session and the round
    * times in seconds. */
  def setUp(cores: Int, work: String, startedMs: Long): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val rounds = (0 until setupRounds).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 0) startedMs else System.currentTimeMillis()
      spark = session(cores, work)
      engineWarmUp(spark, s"$work/warmup-$i")
      (System.currentTimeMillis() - t0) / 1e3
    }
    (spark, rounds)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    // Two task threads: the queries and the warehouse build are dominated
    // by fixed per-job cost and run no faster on four, and two leave the
    // other cores to the driver, JIT and GC threads.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val (spark, rounds) = setUp(cores, opt("work"), opt("started-ms").toLong)
    val ctx = Ctx(spark, cores, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("bench"), opt("work"), Stats.median(rounds),
      opt.get("record").contains("1"), opt)
    val out = Workloads.byName(workload, opt.get("all-queries").contains("1"))(ctx)
    ctx.recorder.foreach { r =>
      val spans = r.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ns" -> s.ns,
        "jobs" -> r.jobsIn(s.startMs, s.endMs)))
      Files.writeString(Paths.get(ctx.work, "spans.json"), Json.render(spans) + "\n")
    }
    spark.stop()

    val metrics = out.metrics.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }
    val heap = Runtime.getRuntime.maxMemory
    val artifact = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_mb" -> heap / (1L << 20), "commit" -> opt.getOrElse("commit", "unknown"),
      "setup_rounds_s" -> rounds,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.toMap) ++ out.artifact
    Files.writeString(Paths.get(ctx.work, "artifact.json"), Json.render(artifact) + "\n")
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> (out.failed == 0 && out.checksOk), "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }
}
