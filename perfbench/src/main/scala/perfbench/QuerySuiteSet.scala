package perfbench

import graft.QueryDef

/** The fixed query set of one query_suite pass: one query from each of
  * the 15 Registry modules (a cheap one where the module offers a
  * choice), so every `queries.<module>.*` metric is measured, including
  * a fixpoint the query builds eagerly (hi01, in `Registry.eagerBuild`). All 191
  * queries do not fit: one warm pass of the whole Registry takes about
  * 130 s on a 4-core host even on the sf0.001 corpus, more than a
  * benchmark run may take. */
object QuerySuiteSet {
  val names: Seq[String] = Seq(
    "p01_clean_cast",                              // relational
    "g01_rollup",                                  // grouping
    "j01_left_outer",                              // breadth
    "js01_json_extract",                           // semistructured
    "sq02_correlated_exists",                      // pivotsubquery
    "x10_token_stats",                             // text
    "nn01_cosine_topk",                            // vector
    "s01_session_counts",                          // event
    "mm02_feature_extract",                        // multimodal
    "fz01_fuzzy_pairs",                            // pipeline
    "sk03_skew_join_plain",                        // scale
    "qf01_quality_stratum_filter",                 // curation
    "hi01_hierarchy_flatten",                      // graph, eager build
    "cs01_table_checksum",                         // profiling
    "lm01_bigram_next")                            // index

  lazy val queries: Seq[QueryDef] = {
    val byName = graft.queries.Registry.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"query $n is not registered")))
  }
}
