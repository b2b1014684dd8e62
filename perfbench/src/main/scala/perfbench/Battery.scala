package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query workload: a closed loop of one client issuing
  * `SparkEntry.queries` functions one after another, each timed through
  * [[Fingerprint]] and checked against `expected/fingerprints.json`. */
object Battery {

  /** The query modules, by the names the per-layer metrics use. */
  val modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> Relational, "RelationalExt" -> RelationalExt,
    "TextOps" -> TextOps, "LineOps" -> LineOps, "HtmlOps" -> HtmlOps,
    "UrlOps" -> UrlOps, "BpeOps" -> BpeOps, "LmOps" -> LmOps,
    "VectorOps" -> VectorOps, "DedupOps" -> DedupOps)

  final case class Query(module: String, name: String,
      fn: (SparkSession, String) => DataFrame)

  /** One query run: phase times in ns, their wall-clock boundaries in ms
    * (`ms(0)` start … `ms(3)` end) for attributing Spark jobs, and `wall`,
    * the caller's own timer around the call, which the phases must add up
    * to. */
  final case class Sample(q: Query, ok: Boolean, fp: String, error: String,
      construct: Long, plan: Long, exec: Long, ms: Array[Long], wall: Long = 0L) {
    def latency: Long = construct + plan + exec
  }

  def seconds(pass: Seq[Sample]): Double = pass.map(_.latency).sum / 1e9

  def queries(names: Seq[String]): Seq[Query] = {
    val all = modules.flatMap { case (m, qm) =>
      qm.queries.map { case (n, fn) => Query(m, n, fn) }
    }.map(q => q.name -> q).toMap
    names.map(n => all.getOrElse(n, sys.error(s"unknown query $n")))
  }

  /** Runs one query: construct (`fn(spark, dir)`), plan (forcing the
    * executed plan of the fingerprint frame), exec (the fingerprint
    * action). A throw or a fingerprint mismatch fails the sample. */
  def runOne(spark: SparkSession, q: Query, dir: String, expected: Option[String],
      record: Boolean): Sample = {
    val ms = new Array[Long](4)
    val t = new Array[Long](4)
    def mark(i: Int): Unit = { t(i) = System.nanoTime(); ms(i) = System.currentTimeMillis() }
    mark(0)
    var fp = ""
    val (ok, err) = try {
      val df = q.fn(spark, dir)
      mark(1)
      val fpf = Fingerprint.frame(df)
      fpf.queryExecution.executedPlan
      mark(2)
      fp = Fingerprint.of(fpf)
      mark(3)
      if (record || expected.contains(fp)) (true, "")
      else (false, s"fingerprint $fp, expected ${expected.getOrElse("none")}")
    } catch {
      case NonFatal(e) =>
        (1 to 3).filter(t(_) == 0).foreach(mark)
        (false, e.toString.take(300))
    }
    Sample(q, ok, fp, err, t(1) - t(0), t(2) - t(1), t(3) - t(2), ms)
  }

  /** [[runOne]] under the caller's timer, then the per-query hygiene of
    * `graft.Bench` (dropping anything a query cached), untimed. */
  def timed(spark: SparkSession, q: Query, dir: String, expected: Option[String],
      record: Boolean): Sample = {
    val t0 = System.nanoTime()
    val s = runOne(spark, q, dir, expected, record)
    val wall = System.nanoTime() - t0
    spark.catalog.clearCache()
    s.copy(wall = wall)
  }
}
