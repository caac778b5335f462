package graft

import org.apache.spark.sql.functions._

/** End-to-end golden tests (SURVEY.md §5 item 4): the flagship pipeline
  * and the combined asset view on the frozen sf0.001 fixture must keep
  * producing byte-identical result sets. The fingerprint is an
  * order-insensitive XOR of per-row xxhash64 over every column, so any
  * value, schema, or cardinality drift trips it. (XOR, not sum: summing
  * 64-bit hashes overflows under ANSI mode.)
  */
class GoldenSpec extends SparkSpec {

  private def fingerprint(name: String): (Long, Long) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("golden: flagship svc_summaries output is frozen at sf0.001") {
    assert(fingerprint("svc_summaries") === ((1201948405762285216L, 402L)))
  }

  test("golden: combined assets_all output is frozen at sf0.001") {
    assert(fingerprint("assets_all") === ((-5854953335152341251L, 23L)))
  }

  test("golden: embedding near-dup pairs are frozen at sf0.001") {
    assert(fingerprint("dedup_embedding") === ((7768090945691118739L, 48L)))
  }

  test("golden: wildcard family projection is frozen at sf0.001") {
    assert(fingerprint("sig_host_family") === ((7939275033868829437L, 1000L)))
  }

  /** The determinism contract is partition-count independence: every
    * value must be identical at ANY parallelism (decimal/integer group
    * sums, in-order folds, deterministic tiebreaks — the rules in
    * VectorOps'/OracleText's Scaladoc). Exercised here by fingerprinting
    * a representative query per family under different shuffle
    * partitioning than the suite default.
    */
  test("partition-count invariance across the operator families") {
    val sample = Seq(
      "q1_pricing_summary",   // decimal money aggs
      "q30_sessionize",       // window + running sum
      "corpus_curation",      // composed dedup pipeline
      "dedup_clusters",       // iterative label propagation
      "dedup_embedding",      // LSH bucket join + native cosine
      "emb_centroids",        // scaled-decimal centroid sums
      "txt_tfidf",            // two-level agg + ratio scoring
      "assets_all")           // 4-way union of windowed collapses
    val conf = spark.conf
    val before = conf.get("spark.sql.shuffle.partitions")
    def at(n: String): Map[String, (Long, Long)] = {
      // drop the memoized dedup artifacts: a cached signature/edge/label
      // table built under the previous partitioning would otherwise be
      // reused, silently exempting those stages from the invariance check
      graft.sources.IndexStore.release(spark)
      conf.set("spark.sql.shuffle.partitions", n)
      try sample.map(q => q -> fingerprint(q)).toMap
      finally conf.set("spark.sql.shuffle.partitions", before)
    }
    val a = at("3")
    val b = at("7")
    sample.foreach(q => assert(a(q) === b(q), s"$q diverges across partitionings"))
  }

  /** Every registered query's output frozen at sf0.001 (suite-default
    * partitioning). Any refactor that drifts any value, row count, or
    * schema in any query fails HERE, before the driver's oracle pass.
    * The two sketch queries (q22/q35) are excluded: their partial-merge
    * order is not part of the determinism contract.
    * Regenerate after an INTENDED change: /tmp pattern in tools — run
    * the fingerprint loop over SparkEntry.queries and paste.
    */
  private val goldenAll: Map[String, (Long, Long)] = Map(
    "asset_upsert" -> ((8010462128702647026L, 15L)),
    "asset_upsert_es" -> ((8010462128702647026L, 15L)),
    "asset_upsert_merge" -> ((-3004150665218048343L, 2L)),
    "assets_all" -> ((-5854953335152341251L, 23L)),
    "container_graph" -> ((-2831489459478681088L, 2L)),
    "corpus_curation" -> ((5937778217018745150L, 5L)),
    "dedup_clusters" -> ((-4388125515379173L, 45L)),
    // identical by construction to dedup_clusters (fixture diameter < CcRounds)
    "dedup_clusters_fixpoint" -> ((-4388125515379173L, 45L)),
    "dedup_embedding" -> ((7768090945691118739L, 48L)),
    "dsl_bool_scored" -> ((3077244817348176689L, 15L)),
    "dsl_multi_match" -> ((-6555088438465609711L, 12L)),
    "dsl_hybrid" -> ((7514702041882966666L, 10L)),
    "dsl_collapse_inner_size" -> ((5418305805998519619L, 6L)),
    "dsl_hybrid_approx" -> ((7514702041882966666L, 10L)),
    // re-pinned r14: percentile_ranks now ×100 (ES's percentage
    // response scale — ADVICE r13), oracle updated in lockstep
    "dsl_aggs_stats" -> ((-7095974799686833079L, 5L)),
    "dsl_aggs_missing" -> ((7668276324113225453L, 2L)),
    "dsl_highlight" -> ((-8107234542365926454L, 5L)),
    "dsl_geo" -> ((-2722708233783851649L, 47L)),
    "dsl_rescore" -> ((-2194353110840241827L, 10L)),
    "dsl_top_hits" -> ((6583054775081701850L, 10L)),
    "dsl_sig_terms" -> ((-3701761296561361849L, 5L)),
    "dsl_composite" -> ((3854494925338078188L, 8L)),
    "dsl_function_score" -> ((-1201087666250449814L, 10L)),
    "dsl_suggest" -> ((4308294443745768519L, 4L)),
    "dsl_suggest_phrase" -> ((3304258379363630997L, 1L)),
    "dsl_suggest_completion" -> ((5165078984123282070L, 1L)),
    "dsl_mlt" -> ((1419747686063542878L, 10L)),
    "emb_decontaminate" -> ((6586636881232305145L, 461L)),
    "emb_dedup_clusters" -> ((-1488179478009104348L, 85L)),
    "emb_ivf_recall" -> ((1904457532132159187L, 5L)),
    "emb_ivf_mp_recall" -> ((-6596883188036250839L, 5L)),
    "q46_cms_counts" -> ((-3932710289000206124L, 200L)),
    "emb_semdedup" -> ((2773905373334595058L, 500L)),
    "emb_cluster_sample" -> ((-1198910685656219041L, 50L)),
    "txt_source_overlap" -> ((1106279601083369810L, 190L)),
    "txt_redact" -> ((633729565603410063L, 500L)),
    "txt_bpe_train" -> ((-1769575030168179654L, 8L)),
    "txt_unigram_train" -> ((-3792582774816093591L, 41L)),
    "txt_unigram_encode" -> ((-5272729801762707972L, 500L)),
    "txt_phrase" -> ((8803091073230259390L, 142L)),
    "txt_phrase_prefix" -> ((-7223307663616775306L, 525L)),
    "txt_bool_prefix" -> ((-4047105912402936606L, 2071L)),
    "txt_mlt" -> ((-6708254884330626570L, 30L)),
    "evt_value_histogram" -> ((-9199241966602610489L, 14L)),
    "evt_variable_width_histogram" -> ((-7054444126173596942L, 6L)),
    "geo_tile_grid" -> ((-5002009395335671582L, 20L)),
    "graph_link_predict" -> ((5993286112755573745L, 20L)),
    "emb_hard_negatives" -> ((-7032692847837514657L, 50L)),
    "evt_range_agg" -> ((7504466507948292938L, 3L)),
    "txt_percolate" -> ((-8412797398769067444L, 1573L)),
    "txt_near" -> ((-7856918457346586988L, 303L)),
    "rag_retrieve" -> ((-3879666950225425432L, 50L)),
    "evt_bucket_pipeline" -> ((4265221512268032702L, 10L)),
    "txt_suggest_phrase" -> ((9220818723791582033L, 2L)),
    "txt_suggest_completion" -> ((-2688437400975068988L, 7L)),
    "txt_fuzzy_query" -> ((-7856006667908053801L, 1956L)),
    "txt_wildcard" -> ((5096358797308693831L, 5L)),
    "evt_moving_median" -> ((1442373081704886722L, 30L)),
    "evt_random_sampler" -> ((1730915374594857300L, 5L)),
    "evt_filters_agg" -> ((-5439690195675573527L, 3L)),
    "q66_weighted_avg" -> ((468720987685060888L, 3L)),
    "emb_silhouette" -> ((3528614142472432465L, 10L)),
    "graph_ppr" -> ((8336775892061540728L, 25L)),
    "txt_function_score" -> ((5427805543320851037L, 25L)),
    "txt_suggest" -> ((-3269826525140055768L, 5L)),
    "txt_highlight" -> ((-7666377038368692416L, 15L)),
    "corpus_export" -> ((244521849649562813L, 16L)),
    "corpus_export_stages" -> ((-5434056145872121026L, 5L)),
    "q58_terms_error" -> ((-4348415149359225064L, 10L)),
    "q59_matrix_stats" -> ((-5110426852503388200L, 6L)),
    "q60_string_stats" -> ((7206001734591452972L, 5L)),
    "q61_t_test" -> ((3080645606827884154L, 2L)),
    "q62_rare_terms" -> ((-8157328469054421064L, 100L)),
    "q63_adjacency_matrix" -> ((-5555217509062166621L, 6L)),
    "evt_change_point" -> ((6184182922743164696L, 5L)),
    "evt_downsample" -> ((-3523565272901993742L, 477L)),
    "emb_knn_graph" -> ((-7728571201687308002L, 3882L)),
    "emb_knn_graph_expand" -> ((1343960209607181454L, 50L)),
    "emb_knn_graph_beam" -> ((3351514621372679324L, 50L)),
    "emb_beam_recall" -> ((-3349526209623431428L, 5L)),
    "emb_graph_recall" -> ((7040264951158690712L, 5L)),
    "emb_bitext_mine" -> ((-4895155363851963298L, 50L)),
    "q64_auto_date_histogram" -> ((4959920904366773997L, 30L)),
    "q65_diversified_sampler" -> ((861734594457600104L, 5L)),
    "evt_interpolate" -> ((-4964766048116326274L, 3600L)),
    "txt_nb_classifier" -> ((2151799282903343081L, 500L)),
    "txt_vocab_coverage" -> ((-377899420734981330L, 20L)),
    "txt_novelty" -> ((-5491881594463251946L, 500L)),
    "evt_zorder_box" -> ((8048206640084171482L, 5L)),
    "host_multivalued" -> ((8207634536938707889L, 1000L)),
    "dedup_exact" -> ((678982984489084868L, 500L)),
    "dedup_fuzzy_edit" -> ((-4856991647417065686L, 28L)),
    "dedup_minhash" -> ((-1665977883672193517L, 500L)),
    "dedup_minhash_lsh" -> ((6079345517962131061L, 28L)),
    "dedup_ngram_jaccard" -> ((-284055497293970149L, 28L)),
    "dedup_simhash" -> ((5181732648382757078L, 9L)),
    // IVF family re-pinned r8: LloydRounds 2 -> 3 (measured recall gain)
    "emb_centroids" -> ((2767129084683133886L, 640L)),
    "emb_ivf_assign" -> ((-188505950384835531L, 500L)),
    "emb_knn_exact" -> ((5382587561670919428L, 50L)),
    // identical by construction to emb_knn_exact: the heap's
    // (sim DESC, id ASC) cut equals the window's row_number order
    "emb_knn_topk" -> ((5382587561670919428L, 50L)),
    "emb_knn_ivf" -> ((555602589019831830L, 50L)),
    "emb_knn_ivf_auto" -> ((-5512884324186665665L, 50L)),
    "emb_knn_lsh_auto" -> ((9153710021167828661L, 50L)),
    "emb_lsh_auto_dial" -> ((-6754817267797758640L, 1L)),
    "emb_lsh_auto_recall" -> ((-3384436044905051576L, 5L)),
    "emb_ivf_auto_dial" -> ((-5458218611622863640L, 1L)),
    "emb_ivf_auto_recall" -> ((4656834636166886090L, 5L)),
    "emb_knn_lsh" -> ((-7206143283623543429L, 50L)),
    "emb_knn_native" -> ((5382587561670919428L, 50L)),
    "emb_lsh_mp_recall" -> ((-3384436044905051576L, 5L)),
    "emb_lsh_recall" -> ((-4469750923323151140L, 5L)),
    // refrozen in r9: the decode seam now parses real PPM payloads
    // (header-derived dims/maxval/raster stats) instead of the stub
    "media_decode" -> ((2569205269950553306L, 500L)),
    // equal to dedup_exact's fingerprint: same digest of the same ASCII
    // bytes, same canonical rule — cross-family consistency by design
    "media_dedup_exact" -> ((678982984489084868L, 500L)),
    "media_dedup_near" -> ((-513593079184156672L, 23L)),
    "media_semdedup" -> ((-6528833005669043343L, 500L)),
    "media_features" -> ((2569904728989504125L, 500L)),
    "media_frames" -> ((3852345315225660323L, 5023L)),
    "media_metadata" -> ((-3264019044137968013L, 500L)),
    "media_resize" -> ((6742178063491628028L, 500L)),
    "node_graph" -> ((7846118549054630403L, 2L)),
    "pods_collapse" -> ((-6442080016217058129L, 4L)),
    "pods_multi_source" -> ((-6442080016217058129L, 4L)),
    "q10_distinct" -> ((3220982028989760594L, 6L)),
    "q11_except" -> ((5190698750508254594L, 7L)),
    "q12_intersect" -> ((70171501653856563L, 10L)),
    "q13_rollup" -> ((-6920341020375250474L, 10L)),
    "q14_cube" -> ((1277849667146600238L, 24L)),
    "q15_topk" -> ((-1242214172593749886L, 10L)),
    "q16_having" -> ((6796611539839100173L, 14L)),
    "q17_case_when" -> ((-1284260790678304595L, 3L)),
    "q18_string_funcs" -> ((5109617772869622164L, 200L)),
    "q19_date_funcs" -> ((-6883437275732470321L, 1500L)),
    "q1_pricing_summary" -> ((6488525498171093126L, 6L)),
    "q20_scalar_subquery" -> ((2794520395437238356L, 764L)),
    "q21_count_distinct" -> ((2595312295237521976L, 3L)),
    "q23_star_join" -> ((4399089219657114213L, 25L)),
    "q24_json" -> ((-2375813019689940903L, 50L)),
    "q25_array_funcs" -> ((-3164169074843652282L, 500L)),
    "q26_full_outer" -> ((6566360299465861075L, 25L)),
    "q27_union" -> ((85892681821973093L, 25L)),
    "q28_asof_join" -> ((46434897651444952L, 202L)),
    "q29_range_join" -> ((7822160178057171206L, 202L)),
    "q2_filter_project" -> ((-8515983497983141028L, 494L)),
    "q30_sessionize" -> ((8250403703595681908L, 946L)),
    "q31_histogram" -> ((-2717120324170837642L, 20L)),
    "q32_percentile" -> ((2225528646702354378L, 3L)),
    "q33_pivot" -> ((-9193126790985594766L, 15L)),
    "q34_salted_wordcount" -> ((33543934719750684L, 31L)),
    "q36_rolling_window" -> ((7846942651190858789L, 1000L)),
    "q37_lead_lag" -> ((6441617812062503888L, 1000L)),
    "q38_funnel" -> ((4347631816889850551L, 15L)),
    "q39_retention" -> ((5152805258714159766L, 30L)),
    "q3_join_agg" -> ((-1598205762220481776L, 484L)),
    "q4_semi_join" -> ((-180197618422234261L, 5L)),
    "q5_anti_join" -> ((-3084378880011624709L, 1L)),
    "q6_broadcast_join" -> ((-3565865819380603098L, 25L)),
    "q7_outer_join" -> ((161757434083811755L, 150L)),
    "q8_window_topn" -> ((1302616936089978196L, 449L)),
    "q9_window_running" -> ((6764122456608670740L, 1500L)),
    "sig_host_family" -> ((7939275033868829437L, 1000L)),
    "svc_collapse" -> ((6740578755946894922L, 15L)),
    "svc_latest" -> ((-8256641542337234806L, 14L)),
    // the DSV2-connector twin MUST stay bit-identical to svc_latest —
    // same pipeline, different source implementation
    "svc_latest_es" -> ((-8256641542337234806L, 14L)),
    "svc_multivalued" -> ((-2009340863746402347L, 1000L)),
    "svc_summaries" -> ((1201948405762285216L, 402L)),
    // r13: frequent triples, the asset join-field queries
    "q76_frequent_triples" -> ((-8990108220570563306L, 25L)),
    "asset_has_child" -> ((-3798731914546854682L, 2L)),
    "asset_has_parent" -> ((-7868898683980093712L, 2L)),
    // r13: the Query-DSL compiler surface (plans.QueryDsl)
    "dsl_search" -> ((3355510088487760423L, 89L)),
    "dsl_search_es" -> ((3355510088487760423L, 89L)),
    "dsl_collapse" -> ((2471821976038215158L, 4L)),
    "dsl_match" -> ((7187776105519405486L, 32L)),
    "dsl_knn" -> ((4579257988182680562L, 10L)),
    "dsl_collapse_inner" -> ((-453956405199256727L, 8L)),
    "dsl_knn_approx" -> ((2573960614505093414L, 10L)),
    "dsl_knn_approx_recall" -> ((-1964649872583449845L, 1L)),
    "dsl_geo_grid" -> ((6538508902868171582L, 4L)),
    "dsl_geohash_grid" -> ((4685703460298632921L, 15L)),
    "dsl_decay" -> ((-538849021075429424L, 10L)),
    "dsl_aggs" -> ((7133177032800886926L, 63L)),
    "dsl_filters" -> ((-5958581771005652670L, 3L)),
    "dsl_score" -> ((-2823222289340479866L, 10L)),
    "hybrid_rrf" -> ((-1885452052056380719L, 50L)),
    "hybrid_rrf_ann" -> ((6315627983955912690L, 50L)),
    "hybrid_rrf_ann_recall" -> ((7150736648444587534L, 5L)),
    // equal to hybrid_rrf_ann's fingerprint BY DESIGN at sf0.001: every
    // doc id sits below ServingQMax, so the fixed query page is the
    // full stride set — the bound only bites from sf0.1 up
    "hybrid_rrf_serving" -> ((6315627983955912690L, 50L)),
    "cluster_cards" -> ((-813937664726231098L, 50L)),
    "mmr_rerank" -> ((465589226566118004L, 25L)),
    "txt_bm25" -> ((8938680310938870376L, 50L)),
    "txt_decontaminate" -> ((2255933175511747289L, 470L)),
    "txt_decontaminate_multi" -> ((-7782412562794749982L, 434L)),
    // identical by construction: Bloom pre-filter + exact verify ≡ exact
    "txt_decontaminate_bloom" -> ((2255933175511747289L, 470L)),
    "txt_fingerprint" -> ((9069157633707950874L, 500L)),
    "txt_pack" -> ((1955850811763918251L, 500L)),
    "txt_repetition" -> ((8913849387102327767L, 500L)),
    "txt_sample_stratified" -> ((-3950613684744970873L, 309L)),
    "txt_langid" -> ((-5283935207442125541L, 500L)),
    "txt_normalize" -> ((-6611269162432350353L, 500L)),
    "txt_quality" -> ((8093999280321710571L, 500L)),
    "txt_sig_terms" -> ((-4598804313857034663L, 100L)),
    "txt_simhash" -> ((-7507058349007398018L, 500L)),
    // identical by construction to txt_simhash (differential contract)
    "txt_simhash_native" -> ((-7507058349007398018L, 500L)),
    "txt_split" -> ((139655551458257719L, 500L)),
    "txt_tfidf" -> ((6984402387703968371L, 1500L)),
    "txt_tokens" -> ((2856647791074966750L, 500L)),
    // re-pinned r8: greedy longest-match -> faithful merge-order BPE
    "txt_tokens_bpe" -> ((-8838489101865614026L, 500L)),
    "q47_hll_distinct" -> ((-696950391081727461L, 5L)),
    "q48_kmv_distinct" -> ((3425203569268548433L, 5L)),
    "emb_pq_mse" -> ((5183869128186934233L, 2L)),
    // equal to emb_knn_exact's fingerprint: at sf0.001 the SQ8 shortlist
    // contains every true neighbor (recall 1.0) and the re-rank emits the
    // EXACT cosine — differential evidence the re-rank is lossless here
    "emb_knn_sq8" -> ((5382587561670919428L, 50L)),
    "emb_sq8_recall" -> ((-2902600940018305873L, 5L)),
    "dedup_segments" -> ((6959384115369163835L, 500L)),
    "txt_shard" -> ((-8873823532220827648L, 500L)),
    "txt_ngram_stats" -> ((5743175026788788734L, 20L)),
    "txt_scrub" -> ((-2801981572971056383L, 500L)),
    "txt_mix_weights" -> ((4104155027311796664L, 20L)),
    "q40_grouping_sets" -> ((7552349987113914008L, 5L)),
    // 15 rows, not 20: sf0.001 has only 15 distinct users, and the
    // sketch runs in its exact regime (capacity 4096 >> 15)
    "q44_heavy_hitters" -> ((-1020731410042369206L, 15L)),
    "q45_bucketed_join" -> ((-449808634189679419L, 5L)),
    "evt_partition_pruned" -> ((4608738955694300443L, 5L)),
    "q41_exists_subquery" -> ((-1039640742231504809L, 74L)),
    "q42_rank_family" -> ((6215263619106325707L, 1500L)),
    "graph_degree" -> ((6864207537478372688L, 25L)),
    "graph_pagerank" -> ((8953210346981769255L, 25L)),
    "graph_triangles" -> ((432655518100928321L, 25L)),
    "dedup_containment" -> ((8902032411883187769L, 28L)),
    "txt_surprisal" -> ((607969804281459929L, 500L)),
    "txt_chunk_dedup" -> ((5672058916855677433L, 38L)),
    // 1388 chunks over 500 docs ≈ the ceil(n/stride) expansion at ~54
    // tokens/doc (most docs yield 2-3 chunks)
    "txt_chunks" -> ((4523694182782999565L, 1388L)),
    "q49_weighted_sample" -> ((-4298052557633600150L, 50L)),
    "q50_sample_quantiles" -> ((-2987064701115211960L, 5L)),
    "evt_transitions" -> ((-1963247291507272562L, 25L)),
    "evt_anomaly" -> ((6278091633795418656L, 150L)),
    "evt_paths" -> ((-4505165396721898336L, 20L)),
    "evt_date_histogram" -> ((-750530071275230646L, 150L)),
    "evt_bloom_skip" -> ((8478679545465207763L, 5L)),
    "evt_rolling_distinct" -> ((-2118780183031363568L, 150L)),
    "evt_rolling_distinct_hll" -> ((7312857790125126064L, 150L)),
    "q51_percentile_ranks" -> ((-2039279968960754707L, 5L)),
    "q52_pagination" -> ((6743341414754830305L, 4L)),
    "q53_keyset_page" -> ((-8498787963028292925L, 10L)),
    "emb_knn_filtered" -> ((-2312461576163614589L, 50L)),
    // 39 rows, not 50: probing stays label-blind, so some queries
    // find fewer than k same-label candidates in their nprobe buckets
    // — the documented recall trade the label-partitioned-index
    // deployment removes
    "emb_knn_ivf_filtered" -> ((-8589558467914555728L, 39L)),
    // 50 rows where the stream-filter variant returns 39: the
    // label-partitioned walk fills its candidate floor inside the
    // query's own partition
    "emb_knn_label_part" -> ((-2947521584168609730L, 50L)),
    "emb_knn_bq" -> ((8911234878323013320L, 50L)),
    "emb_bq_recall" -> ((3615814245230536898L, 5L)),
    "emb_knn_pq" -> ((8039933173616903381L, 50L)),
    "emb_pq_recall" -> ((6681137179820178689L, 5L)),
    "emb_knn_mrl" -> ((4719170906433506228L, 50L)),
    "emb_mrl_recall" -> ((3384963927178446285L, 5L)),
    "emb_knn_ivfpq" -> ((8701345594176697128L, 50L)),
    "emb_ivfpq_recall" -> ((1904457532132159187L, 5L)),
    "emb_ivfpq_mp_recall" -> ((8404387680544561689L, 5L)),
    "asset_reachability" -> ((7831426854264489163L, 37L)),
    "q43_lateral_topn" -> ((8323364537922325303L, 75L)),
    // equal to asset_reachability by construction: the fixture graph's
    // diameter is within ReachDepth, so unbounded recursion and bounded
    // unrolling converge to the same min-depth closure
    "asset_closure" -> ((7831426854264489163L, 37L)),
    // equal by construction to asset_closure: incremental maintenance
    // over the registry's ~95/5 edge split (hash % 20 < 19) must land
    // on the full-closure fixpoint; heavier 30-40% splits are covered
    // in GraphOpsSpec's property tests
    "asset_closure_incr" -> ((7831426854264489163L, 37L)),
    // --- round 9 additions ---
    "corpus_scorecard" -> ((2459005735593916183L, 20L)),
    "q57_kmv_jaccard" -> ((-6982374245570894745L, 10L)),
    "txt_dsir" -> ((-1273910588729949793L, 500L)),
    "emb_kcenter" -> ((-8622945735609285306L, 10L)),
    "txt_dup_spans" -> ((-8273753689265599722L, 58L)),
    "emb_rp_recall" -> ((3227650419667123900L, 5L)),
    "q55_mad" -> ((8410078268555520807L, 3L)),
    "fuzzy_join" -> ((-5787165834800291697L, 11L)),
    "q56_extended_stats" -> ((7837176611794134071L, 3L)),
    "q54_composite_agg" -> ((-799582612599199092L, 20L)),
    // 11 of 25 nations survive 8 rounds of k=5 peeling over the
    // top-quartile edges (the sf0.001 graph is sparser than sf0.01's)
    "graph_kcore" -> ((-3916380489245484590L, 11L)),
    // 45 rows like dedup_clusters: same components, same min labels —
    // the star-contraction differential at the golden layer too
    "dedup_clusters_star" -> ((-4388125515379173L, 45L)),
    "emb_knn_rp" -> ((-6335444676157941696L, 50L)),
    "emb_curation" -> ((6670476108237325309L, 500L)),
    "evt_pipeline_aggs" -> ((-2787922109988924251L, 150L)),
    "evt_serial_diff" -> ((3982816259549375090L, 150L)),
    "evt_sibling_aggs" -> ((-1055977028847547383L, 5L)),
    // --- round 11 additions (second wave: ES agg parity + geo + eval) ---
    "q67_boxplot" -> ((1134297902415446815L, 5L)),
    "q68_multi_terms" -> ((-4455657121420873830L, 10L)),
    "q69_top_metrics" -> ((5957343445975575092L, 5L)),
    "q75_top_hits" -> ((-88334440909698188L, 15L)),
    "q70_frequent_pairs" -> ((8073349744442037917L, 25L)),
    "evt_categorize" -> ((-7680123305115389590L, 5L)),
    "geo_grid" -> ((4383475937040964865L, 20L)),
    "geo_rings" -> ((-4312502133909906051L, 4L)),
    "geo_centroid" -> ((-2391530400239847446L, 5L)),
    "geo_bbox" -> ((-1727553758877694161L, 5L)),
    // re-frozen when ndcg_at_k joined the metric set
    "rank_eval" -> ((-2814809193882587799L, 6L)),
    "rank_eval_ivf" -> ((-3519141957748715376L, 6L)),
    "evt_cumulative_cardinality" -> ((-8820355694124182182L, 30L)),
    "evt_bucket_script" -> ((6056561189835724665L, 30L)),
    "evt_anomaly_dow" -> ((-2689223333843418489L, 150L)),
    "graph_hits" -> ((-4265417382349644853L, 25L)),
    "evt_ewma" -> ((4701734477159764869L, 30L)),
    "q71_nested_agg" -> ((4051881785390916810L, 5L)),
    "q72_rate_agg" -> ((-3122499351221009577L, 5L)),
    "txt_collocations" -> ((7034599979249139388L, 50L)),
    "q73_bucket_sort" -> ((-6356153549051693470L, 10L)),
    "txt_ppl_buckets" -> ((-6347153628825134247L, 500L)),
    "q74_terms_partition" -> ((-580970131516114061L, 9L)),
    "txt_langid_cng" -> ((2284344809763997288L, 500L)),
    "txt_winnowing" -> ((-9209604879520930963L, 500L)),
    "txt_gopher_rules" -> ((-1783483726511714431L, 500L)),
    "media_ahash" -> ((5165316161349476776L, 500L)),
    // 28 true pairs = 28 candidates = 28 tp: the LSH generator is
    // exact on the fixture at tau = 1/2 — a drop in either metric
    // means one side of the dedup family regressed
    "dedup_eval" -> ((-988134441863834730L, 1L)),
    "emb_dedup_eval" -> ((629681235041655408L, 1L)),
    "emb_ivf_recall_curve" -> ((7041617246702347709L, 20L)),
    "evt_ip_range" -> ((2339254684288860274L, 3L)),
    "evt_ip_prefix" -> ((-9190911181604061264L, 20L))
  )

  test("golden: every query output is frozen at sf0.001") {
    val missing = SparkEntry.queries.keySet --
      goldenAll.keySet -- Set("q22_approx_distinct", "q35_approx_quantile")
    assert(missing.isEmpty, s"queries without a golden entry: $missing")
    graft.sources.IndexStore.release(spark)
    val drifted = goldenAll.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = fingerprint(name)
      if (got == want) None else Some(s"$name: got $got want $want")
    }
    assert(drifted.isEmpty, drifted.mkString("\n"))
  }
}
