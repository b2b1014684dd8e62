package perfbench

/** The queries of the query workload. One pass over the ten module
  * batteries (167 queries) takes minutes, more than a benchmark run may
  * last, so a pass runs a fixed sample: per module, the query at the
  * module's median warm latency, ranked once over the full battery (sf0.01,
  * 4 cores, full-column action). One exception: VectorOps' median query,
  * the q247 nprobe sweep card, builds its indexes in 12–24 s on a cold
  * pass, a third of a run's time budget, so q221, the next one below it,
  * stands in. The sample holds a session-cached BPE merge table (q206) and
  * a calibration fit (q223), so cold and warm passes still differ.
  *
  * Every query of the ten modules has an expected fingerprint;
  * `run.py --all-queries` runs all of them instead of the sample. */
object Queries {
  val sample: Seq[String] = Seq(
    "q20_tumbling_window", // Relational
    "q61_set_ops_all", // RelationalExt
    "q101_bpe_pair_stats", // TextOps
    "q124_para_dedup", // LineOps
    "q96_html_extract", // HtmlOps
    "q118_domain_quality", // UrlOps
    "q206_sample_train_encode", // BpeOps
    "q223_logit_calibration", // LmOps
    "q221_pca_power_card", // VectorOps
    "q139_memorization_risk") // DedupOps

  val all: Seq[String] = Battery.modules.flatMap(_._2.queries.keys).sorted
}
