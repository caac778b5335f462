"""The library_mix draw: registry queries stratified by family."""

FAMILIES = {
    "relational": ["q1_pricing_summary", "q3_join_agg", "q8_window_topn",
                   "q21_count_distinct", "evt_date_histogram"],
    "assets": ["svc_collapse", "container_graph", "node_graph", "assets_all", "pods_collapse"],
    "text": ["txt_tokens", "dedup_minhash", "txt_tfidf", "dedup_exact", "txt_quality"],
    "vector": ["emb_knn_exact", "emb_knn_ivf", "emb_knn_lsh", "emb_centroids"],
    # graph_triangles is left out: its DuckDB oracle spills past 20 GB at sf0.1
    "graph": ["graph_degree", "graph_pagerank", "asset_closure"],
    "geo": ["geo_grid", "geo_centroid", "geo_bbox", "geo_rings"],
    "multimodal": ["media_metadata", "media_ahash", "media_dedup_exact", "media_features"],
    "dsl": ["dsl_search", "dsl_aggs", "dsl_match", "dsl_knn", "dsl_collapse"],
}
PER_FAMILY = 1


def draw(rng, per_family=PER_FAMILY):
    """`per_family` queries from every family, in seeded order."""
    names = []
    for fam in sorted(FAMILIES):
        pool = FAMILIES[fam]
        k = min(per_family, len(pool))
        names += [pool[i] for i in sorted(rng.choice(len(pool), k, replace=False))]
    return [names[i] for i in rng.permutation(len(names))]
