package perfbench

/** The registry queries each serve workload runs; README.md records
  * how they were chosen. */
object QuerySets {
  /** Queries whose registry function runs Spark jobs itself (fixpoint
    * loops, checkpointed loop state, an artifact published through
    * graft.ArtifactStore): job latency and driver orchestration
    * dominate. */
  val serveIter: Seq[String] = Seq(
    "q_graph_kcore", "q_sim_ann_ivf_learned", "q_mm_phash_near", "q_dedup_clusters")

  /** Queries that issue at most four jobs per serve: scans, projections,
    * sorts, string/JSON functions, text and multimodal kernels. Executor
    * work and output volume dominate. */
  val serveOnepass: Seq[String] = Seq(
    "q_scan_project", "q_scan_orc_roundtrip", "q_fn_json", "q_text_chunk",
    "q_mm_audio_spectrum", "q_mm_resize", "q_embed_quantize", "q_sort_limit_topk")

  def byName(n: String): Seq[String] = n match {
    case "serve_iter" => serveIter
    case "serve_onepass" => serveOnepass
  }
}
