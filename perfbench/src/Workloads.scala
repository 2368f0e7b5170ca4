package perfbench

/** The benchmark's workloads. Batch workloads name graft queries from
  * `SparkEntry.queries`; `stream_replay` replays a seeded feed through
  * monitors from `graft.streaming.Streams` (see [[StreamReplay]]).
  * perfbench/README.md records why each workload was chosen.
  */
object Workloads {

  /** Short scan / join / window / aggregate queries: per-query planning,
    * scheduling and shuffle dominate.
    */
  val pipelineMix: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "ts_latest_per_key", "ts_asof_join",
    "geo_grid_agg", "doc_minhash_lsh")

  /** Driver-side round loops: per-round re-planning and checkpoints. */
  val iterative: Seq[String] = Seq("emb_kmeans", "doc_pagerank", "doc_bpe_apply")

  /** The connected-components round loop: at HEAD one execution costs
    * 10-15 s, most of it planning a single batch of three lazy contractions.
    * Too long a sample for the run budget, so it is run by hand
    * (perfbench/README.md).
    */
  val ccRounds: Seq[String] = Seq("geo_hotspot_clusters")

  /** Per-row kernels and graft's own decoders; Catalyst is idle. */
  val kernelHeavy: Seq[String] = Seq(
    "geo_idw", "mm_conv_infer", "mm_phash_pairs", "doc_char_lid",
    "doc_winnow_overlap", "geo_line_of_sight",
    "src_grib2_ps", "src_grib2_rle", "src_geotiff_dem", "src_geotiff_rgb",
    "src_netcdf_goes")

  /** graft's decoder queries (the `sources` layer). */
  val sourceQueries: Seq[String] = kernelHeavy.filter(_.startsWith("src_"))

  val batch: Map[String, Seq[String]] = Map(
    "pipeline_mix" -> pipelineMix,
    "iterative" -> iterative,
    "cc_rounds" -> ccRounds,
    "kernel_heavy" -> kernelHeavy)

  val Stream = "stream_replay"

  val names: Seq[String] = Seq("iterative", Stream, "pipeline_mix", "kernel_heavy", "cc_rounds")

  /** Query order of one pass: a permutation drawn from the seed and the
    * pass index, so the same seed replays the same orders.
    */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
}
