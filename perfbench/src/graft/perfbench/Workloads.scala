package graft.perfbench

/** A workload: the statement list of one pass and the data it reads.
  * `sf` names the data directory under the benchmark's data root. */
final case class Workload(name: String, sf: String, statements: Seq[String], duels: Boolean = false)

object Workloads {

  /** The 80 oracle-backed statements whose sf0.1 wall was under 0.7 s
    * and executor CPU under 0.6 s in docs/BENCH_local_sf0.1.json, less
    * the six memo-riding ones, are dominated by the per-statement
    * constant (builder jobs, planning, ~6 jobs each). A pass over all 80
    * takes ~50 s at sf0.01 on 4 cores, so a pass runs a systematic
    * sample of them: every tenth by steady sf0.01 latency on that host,
    * starting at the fifth (0.29 s to 1.0 s). */
  val shortMix: Seq[String] = Seq(
    "q31_multimodal_meta", "q22_quality_score", "q66_corpus_upsert", "q18b_top_terms",
    "q42_role_counts", "q59_inverted_index", "q105_conversion_delay", "q89_retention_cohorts")

  /** The short mix's set-up warm statement: light, and it touches the
    * parquet reader, codegen and a shuffle. */
  val warmStatement = "q01_filter_project"

  def apply(name: String): Option[Workload] = name match {
    case "short-mix" => Some(Workload(name, "sf0.01", shortMix))
    case "duels" => Some(Workload(name, "sf0.01", Seq.empty, duels = true))
    case _ => None
  }
}
