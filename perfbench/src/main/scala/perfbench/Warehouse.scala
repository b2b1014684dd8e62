package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain.{Clean, Marts, Nlp, Pipeline, Schemas, Star}
import perfbench.Main.{Ctx, Outcome}

/** The warehouse workload: `Pipeline.run` over the seeded synthetic bronze
  * reviews `bronze.py` wrote into the work directory, then the gold
  * contract checks. */
object Warehouse {

  /** Gold columns left out of the fingerprint: surrogate keys depend on
    * partition layout, `loaded_at` on the clock. */
  private val unstable = Set("bank_key", "branch_key", "review_key", "loaded_at")
  val goldTables = Seq("dim_bank", "dim_branch", "dim_sentiment", "dim_date",
    "fact_reviews", "mart_bank_performance", "mart_bank_ranking", "mart_geographic")

  def goldFingerprint(spark: SparkSession, gold: String): Map[String, String] =
    goldTables.map { t =>
      val df = spark.read.parquet(s"$gold/$t")
      t -> Fingerprint.of(Fingerprint.frame(df, Some(df.columns.filterNot(unstable).toSeq)))
    }.toMap

  /** The SURVEY §5 schema tests on the gold output, one aggregate pass per
    * table: (check name, passed). */
  def contracts(spark: SparkSession, gold: String, expectedFact: Long): Seq[(String, Boolean)] = {
    val fact = spark.read.parquet(s"$gold/fact_reviews")
    val bank = spark.read.parquet(s"$gold/dim_bank")
    val branch = spark.read.parquet(s"$gold/dim_branch")
    val f = fact.agg(
      count(lit(1)), countDistinct(col("review_id")), count(col("review_id")),
      count(when(!col("rating").between(1, 5) || col("rating").isNull, 1)),
      count(when(!col("sentiment_label").isin("Positive", "Negative", "Neutral") ||
        col("sentiment_label").isNull, 1)),
      count(when(!col("rating_category").isin("Positive", "Negative", "Neutral") ||
        col("rating_category").isNull, 1)),
      count(when(!col("sentiment_score").between(-1, 1) || col("sentiment_score").isNull, 1)),
      count(when(col("word_count") < 0 || col("word_count").isNull, 1))).collect()(0)
    val orphanBank = fact.join(bank, Seq("bank_key"), "left_anti").count()
    val orphanBranch = fact.join(branch, fact("branch_key") === branch("branch_key"), "left_anti")
      .count()
    val n = f.getLong(0)
    Seq(
      "fact_rows_expected" -> (n == expectedFact),
      "review_id_unique_not_null" -> (f.getLong(1) == n && f.getLong(2) == n),
      "rating_1_to_5" -> (f.getLong(3) == 0),
      "sentiment_label_accepted" -> (f.getLong(4) == 0),
      "rating_category_accepted" -> (f.getLong(5) == 0),
      "sentiment_score_in_range" -> (f.getLong(6) == 0),
      "word_count_non_negative" -> (f.getLong(7) == 0),
      "no_orphan_bank_key" -> (orphanBank == 0),
      "no_orphan_branch_key" -> (orphanBranch == 0))
  }

  private def bytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .mapToLong((p: Path) => Files.size(p)).sum()
    finally s.close()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (bronzeDir, gold) = (s"${ctx.work}/bronze", s"${ctx.work}/gold")
    val expectedFact = ctx.args("expected-fact-rows").toLong
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) => failed += 1; failures += s"$what: ${e.toString.take(300)}"; None }
    }
    def timedRun(to: String): Double = {
      val t0 = System.nanoTime()
      op("Pipeline.run")(Pipeline.run(spark, bronzeDir, to))
      (System.nanoTime() - t0) / 1e9
    }
    val rec = ctx.recorder

    rec.foreach(_.attach())
    val coldStart = System.currentTimeMillis()
    val cold = timedRun(gold)
    val coldWindow = (coldStart, System.currentTimeMillis())
    rec.foreach(_.drain())
    // Checks stay outside every timed interval.
    def fingerprint() = op("gold fingerprint")(goldFingerprint(spark, gold)).getOrElse(Map.empty)
    val coldFp = fingerprint()
    val goldRatio = bytes(gold).toDouble / bytes(bronzeDir)

    val runs = ArrayBuffer.empty[(Double, Boolean, (Long, Long))]
    val t0 = System.nanoTime()
    while (runs.size < Stats.minPasses(ctx, untraced = 2) ||
        (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = Stats.tracedPass(ctx, runs.size)
      rec.foreach(r => if (traced) r.attach() else r.detach())
      val start = System.currentTimeMillis()
      val s = timedRun(gold)
      runs += ((s, traced, (start, System.currentTimeMillis())))
    }
    rec.foreach(_.detach())
    val lastFp = fingerprint()
    op("gold of the last run")(require(lastFp == coldFp, "gold differs from the cold run's"))
    op("gold contracts")(contracts(spark, gold, expectedFact)).foreach { cs =>
      cs.filterNot(_._2).foreach { case (c, _) => failed += 1; failures += s"contract $c" }
      attempted += cs.size
    }

    val untraced = runs.filterNot(_._2).map(_._1).toSeq
    val metrics = rec match {
      case None => Seq(
        ("setup_s", ctx.setupS, "s"),
        ("cold_pass_s", cold, "s"),
        ("warm_pass_s", Stats.median(untraced), "s"),
        ("op_p50_ms", Stats.median(untraced) * 1e3, "ms"),
        ("retained_mb", Stats.retainedMb(), "MB"))
      case Some(r) =>
        val traced = runs.filter(_._2)
        Workloads.layerMetrics(
          traceLayers(ctx, r, coldWindow, cold, traced.map(x => (x._1, x._3)).toSeq) ++
            { r.attach(); try domainCalls(ctx, r, bronzeDir) finally r.detach() } ++ Map(
            "Pipeline.gold_bytes_ratio" -> goldRatio,
            "trace.overhead_ratio" -> Stats.median(traced.map(_._1).toSeq) / Stats.median(untraced)))
    }
    Outcome(attempted, failed, checksOk = true, metrics, Map(
      "bronze_rows" -> ctx.args("bronze-rows").toLong, "expected_fact_rows" -> expectedFact, "gold_bytes_ratio" -> goldRatio,
      "gold_fingerprint" -> coldFp, "runs_s" -> runs.map(_._1), "failures" -> failures))
  }

  /** Per traced `Pipeline.run`: its writes and count actions as seen by the
    * execution listener, and summed task metrics. */
  def traceLayers(ctx: Ctx, r: Recorder, coldWindow: (Long, Long), cold: Double,
      traced: Seq[(Double, (Long, Long))]): Map[String, Double] = {
    val n = traced.size.toDouble
    def in(w: (Long, Long))(t: Long) = t >= w._1 && t <= w._2
    val execs = r.execs.toArray(Array.empty[Exec]).toSeq
      .filter(e => traced.exists(x => in(x._2)(e.endMs)))
    def ms(p: Exec => Boolean) = execs.filter(p).map(_.ns).sum / 1e6 / n
    traced.foreach { case (s, (from, to)) =>
      val run = r.record(Span(r.newId(), 0, "Pipeline.run", "Pipeline.run", from, to, (s * 1e9).toLong))
      execs.filter(e => in((from, to))(e.endMs)).foreach { e =>
        r.record(Span(r.newId(), run.id, "Pipeline.run", s"${e.funcName} ${e.target}".trim,
          e.endMs - e.ns / 1000000, e.endMs, e.ns))
      }
    }
    val jobs = traced.flatMap(x => r.jobsIn(x._2._1, x._2._2))
    r.sparkTotals(jobs, n) ++ Map(
      "Pipeline.write_fact_ms" -> ms(_.target == "fact_reviews"),
      "Pipeline.write_dims_ms" -> ms(_.target.startsWith("dim_")),
      "Pipeline.write_marts_ms" -> ms(_.target.startsWith("mart_")),
      "Pipeline.validate_ms" -> ms(e => e.funcName == "count" || e.target == "run_stats"),
      "SessionCache.cold_extra_jobs" ->
        (r.jobsIn(coldWindow._1, coldWindow._2).size - jobs.size / n),
      "SessionCache.cold_extra_ms" -> (cold - Stats.median(traced.map(_._1))) * 1e3)
  }

  /** Self time of each public domain call: its inputs are materialized
    * first, untimed, and the call is timed through the fingerprint action. */
  def domainCalls(ctx: Ctx, r: Recorder, bronzeDir: String): Map[String, Double] = {
    val spark = ctx.spark
    def pin(df: DataFrame) = df.localCheckpoint(eager = true)
    def fp(dfs: DataFrame*): Unit = dfs.foreach(d => Fingerprint.of(Fingerprint.frame(d)))
    def span(name: String)(body: => Unit): Double = r.span("domain", name)(body).ns / 1e6
    val bronze = pin(spark.read.schema(Schemas.review).parquet(bronzeDir))
    val cleanMs = span("Clean.stage")(fp(Clean.stage(bronze)))
    val staged = pin(Clean.stage(bronze))
    val nlpMs = span("Nlp.enrich")(fp(Nlp.enrich(staged)))
    val silver = pin(Nlp.enrich(staged))
    val dimsMs = span("Star.dims") {
      val b = Star.dimBank(silver, parityMode = false)
      fp(b, Star.dimBranch(silver, b, parityMode = false))
    }
    val bank = pin(Star.dimBank(silver, parityMode = false))
    val branch = pin(Star.dimBranch(silver, bank, parityMode = false))
    val factMs = span("Star.fact")(fp(Star.factReviews(silver, bank, branch, parityMode = false)))
    val fact = pin(Star.factReviews(silver, bank, branch, parityMode = false))
    val martsMs = span("Marts")(fp(Marts.bankPerformance(silver), Marts.bankRanking(silver),
      Marts.geographicAnalysis(fact, branch)))
    Map("Clean.stage_ms" -> cleanMs, "Nlp.enrich_ms" -> nlpMs, "Star.dims_ms" -> dimsMs,
      "Star.fact_ms" -> factMs, "Marts.ms" -> martsMs)
  }
}
