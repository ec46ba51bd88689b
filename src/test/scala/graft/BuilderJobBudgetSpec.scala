package graft

/** `Q.build` returns a plan: after every `SparkEntry.builds` step has
  * run, a registry builder fires no Spark job. The exceptions are the
  * builders that still materialize eagerly (stage pins, driver actions
  * and iterative loops), each with the most jobs it may fire; a
  * builder that starts firing jobs, or fires more than its allowance,
  * fails this spec.
  */
class BuilderJobBudgetSpec extends SparkSpec {

  /** The eager builders and the jobs each fires at sf0.001 on `local[4]`:
    * GroupedPrefix/GlobalRank stage pins (`localCheckpoint(eager = true)`,
    * most of the q* and pipe_* entries), driver-side actions (the degree
    * pin in dedup_triangles, dedup_bloom's count and filter build) and
    * iterative loops (dedup_kcore, q97_lttb, ann_graph_search).
    */
  private val allowed: Map[String, Int] = Map(
    "ann_graph_search" -> 13, "ann_ivf_persisted" -> 5, "dedup_bloom" -> 4,
    "dedup_kcore" -> 18, "dedup_semantic" -> 3, "dedup_triangles" -> 4,
    "mm_audio_neardup" -> 2, "mm_video_neardup" -> 2, "pipe_curriculum" -> 3,
    "pipe_epoch_shuffle" -> 3, "pipe_interleave" -> 3, "pipe_mix_sample" -> 3,
    "pipe_pack_sequences" -> 3, "pipe_shard_plan" -> 3,
    "pipe_stratified_sample" -> 3, "pipe_train_corpus" -> 6,
    "q106_event_gaps" -> 3, "q112_auc" -> 3, "q124_gini" -> 3,
    "q130_ks_test" -> 3, "q134_tukey" -> 3, "q137_runs_test" -> 4,
    "q141_quantile_exact" -> 3, "q142_pareto_share" -> 4,
    "q143_bucketed_join" -> 4, "q146_kruskal_wallis" -> 3, "q148_winsorize" -> 3,
    "q150_lorenz" -> 4, "q151_rfm" -> 7, "q153_abc" -> 4,
    "q163_power_users" -> 4, "q167_decile_lift" -> 4, "q170_rank_delta" -> 4,
    "q173_approx_quantile" -> 3, "q21_quantiles" -> 3, "q41_ntile" -> 3,
    "q65_max_intersections" -> 3, "q66_interval_union_len" -> 3,
    "q70_delta_sum" -> 3, "q71_rank_corr" -> 10, "q73_mann_whitney" -> 3,
    "q75_mad" -> 12, "q76_zorder_layout" -> 3, "q83_skip_index" -> 3,
    "q85_projection_audit" -> 9, "q86_weighted_quantile" -> 4, "q97_lttb" -> 15)

  test("registry builders fire no Spark job outside the eager-materialization allow-list") {
    // the shared session: its memoized indexes are the ones other suites
    // read, and dropping a second session's copies would uncache theirs
    // (the cache manager matches persisted frames by plan)
    val t = sf0001
    SparkEntry.builds(t).foreach { case (_, run) => run() }
    val counts = SparkEntry.registry.map(q => q.name -> jobsOf { q.build(t); () })
    val over = counts.collect {
      case (n, c) if c > allowed.getOrElse(n, 0) => s"$n: $c jobs (allowed ${allowed.getOrElse(n, 0)})"
    }
    assert(over.isEmpty, over.mkString("builders over budget:\n  ", "\n  ", ""))
    val unknown = allowed.keySet -- counts.map(_._1)
    assert(unknown.isEmpty, s"allow-list names not in the registry: $unknown")
  }
}
