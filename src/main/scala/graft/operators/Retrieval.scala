package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.IndexStore

/** Hybrid retrieval: lexical (BM25) and vector (exact cosine KNN)
  * rankings fused by Reciprocal Rank Fusion (Cormack, Clarke &
  * Buettcher 2009) — the standard two-tower serving shape (the
  * reference's substrate ships exactly this pairing as ES "hybrid
  * search": a `match` query plus a kNN clause, fused by RRF).
  */
object Retrieval {

  /** RRF's rank-damping constant (the paper's k = 60). */
  val RrfK = 60

  /** Top-k rows emitted per query after fusion. */
  val RrfTopK = 10

  private val Grid = 1099511627776L // 2^40

  /** Query-by-document hybrid retrieval over the aligned
    * documents/embeddings id space: every doc whose id is on the
    * exact-KNN query stride ([[VectorOps.QueryMod]]) retrieves
    *   - lexically: BM25 ([[TextOps.bm25Ranked]]) with the query
    *     doc's top-3 TF-IDF terms as the query string (the classic
    *     query-formulation step, already an operator — and the stride
    *     filter sits on the tfidf window's PARTITION key, so it
    *     pushes below the window: only query docs pay the ranking),
    *     self-hit excluded;
    *   - semantically: [[VectorOps.knnExact]] (which uses the same
    *     stride for its query set) over the doc's embedding.
    * The two top-k lists full-outer-join per (query, doc) and fuse as
    *   rrf = Σ_list ⌊2^40 / (60 + rank)⌋
    * — INTEGER division on the 2^40 grid, so the fused score is an
    * exact long on both engines (no reciprocal-sum float order to
    * worry about); a doc missing from one list contributes 0 from it,
    * rank ties break on doc_id. Emits (query_id, rank, doc_id,
    * rrf_score, lex_rank, vec_rank) — nullable ranks say WHICH system
    * surfaced the hit, the triage column hybrid-search debugging
    * lives on.
    *
    * Shape at 100 TB: both input rankings are top-k-per-query tables
    * (k·|Q| rows), so the fusion join and final window are
    * query-keyed small-data ops; the heavy lifting is inside the two
    * retrieval operators, which keep their own documented scale
    * shapes. The stride query set is the fixture stand-in for a
    * serving workload (same assumption [[VectorOps.knnExact]]
    * already makes).
    */
  /** Topic cards for the embedding clusters — the "what is THIS
    * cluster about" readout corpus curation runs before pruning or
    * re-weighting semantic clusters (the cluster-level companion of
    * [[graft.operators.TextOps.sigTerms]]'s per-source view): assign
    * each embedded document to its IVF cluster
    * ([[graft.operators.VectorOps.ivfAssign]] — the memoized index
    * artifact), then score each cluster's member terms with the same
    * JLH significance engine, foreground = the cluster, background =
    * the embedded corpus. Composes three memoized artifacts (IVF
    * assignment, postings index) with zero new heavy passes: the only
    * non-index work is the doc-keyed source attach and the
    * vocabulary-sized fg/bg aggregation — the sig-terms scale shape
    * unchanged.
    */
  def clusterCards(spark: SparkSession, dir: String): DataFrame = {
    val clusters = VectorOps.ivfAssign(spark, dir)
      .select(col("vec_id").as("doc_id"),
        concat(lit("cluster_"), col("assigned_label").cast("string")).as("source"))
    val docTerms = TextOps.postingsIndex(spark, dir)
      .select(col("doc_id"), col("term"))
      .join(clusters, Seq("doc_id"))
    TextOps.sigTermsFrom(docTerms, clusters)
      .select(col("source").as("cluster"), col("rank"), col("term"),
        col("fg"), col("bg"), col("jlh"))
  }

  /** MMR trade-off weight λ and number of diversified picks. */
  val MmrLambda = 0.7
  val MmrK = 5

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    * — the serving-side diversity pass over a retrieved top-k list:
    * greedily pick [[MmrK]] of each query's [[VectorOps.knnExact]]
    * candidates, each next pick maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_picked`, so near-duplicate
    * hits stop crowding the page (the redundancy problem dedup solves
    * at ingest, solved again at serving time for what survives).
    *
    * Determinism/oracle: rel is the exact cosine, the diversity term
    * a max over exact pairwise cosines of CANDIDATES (k² per query —
    * 100 rows, never corpus-sized), every double op a fixed IEEE
    * expression tree, ties broken on doc_id — so the greedy trace is
    * bit-reproducible and the DuckDB mirror unrolls the same
    * [[MmrK]]-step selection as CTEs (the Lloyd-rounds device). The
    * `1 − λ` coefficient is computed ONCE in Scala and interpolated
    * into both engines, because `1 − 0.7` and a literal `0.3` are
    * different doubles.
    *
    * Scale shape: inputs are top-k-per-query tables; the only
    * corpus-touching work is fetching the k·|Q| candidate embeddings
    * (broadcast candidate ids against the vector store — at scale a
    * point-lookup); the greedy loop itself runs on k²·|Q| rows.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val oml = 1 - MmrLambda
    // both inputs are IndexStore frames: the candidate list is a view
    // over the already-memoized exact baseline, and the k²·|Q|
    // pairwise-cosine table is built once per session — the 5 greedy
    // steps then run entirely
    // over cached small frames instead of re-joining the vector store
    // per reference
    val cands = IndexStore.frame(spark, dir, "mmr_cands") {
      VectorOps.knnExact(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("sim").as("rel"))
    }
    val pairs = IndexStore.frame(spark, dir, "mmr_pairs") {
      val vecs = VectorOps.withNorm(spark, dir)
      cands.select(col("query_id"), col("doc_id").as("a"))
        .join(cands.select(col("query_id"), col("doc_id").as("b")), Seq("query_id"))
        .where(col("a") =!= col("b"))
        .join(vecs.select(col("vec_id").as("a"), col("embedding").as("ea"),
          col("nrm").as("na")), Seq("a"))
        .join(vecs.select(col("vec_id").as("b"), col("embedding").as("eb"),
          col("nrm").as("nb")), Seq("b"))
        .select(col("query_id"), col("a"), col("b"),
          (expr(VectorOps.dot("ea", "eb")) / (sqrt(col("na")) * sqrt(col("nb"))))
            .as("psim"))
        .localCheckpoint() // plan-size cut under the memo persist
    }
    // the greedy loop as ONE higher-order-function fold per QUERY ROW
    // (no per-step windows/joins/checkpoints — a DataFrame-level loop
    // would read its own state 3× per step, the 3^t plan-tree trap
    // GraphOps documents, and eager lineage cuts cost a scheduler
    // round-trip per step): each query's k candidates and k² pairwise
    // sims collapse to two arrays, and `aggregate(sequence(1, MmrK))`
    // replays the λ-trade selection inside codegen'd expression space.
    // max_div is coalesce(array_max(...), 0) so the first pick's
    // missing diversity term is exactly the 0.0 the definition gives
    // it (x − oml·0 ≡ x in IEEE), argmax is array_min over a
    // (−mmr, doc_id) key (≡ ORDER BY mmr DESC, doc_id ASC), and
    // transform(array(x), b -> ...) is the let-binding idiom.
    val lam = MmrLambda
    val pickT = "struct<pick_order: bigint, doc_id: bigint, rel: double, " +
      "max_div: double, mmr: double>"
    def maxDiv(c: String) =
      s"""coalesce(array_max(transform(
         |  filter(parr, p -> p.a = $c.doc_id AND exists(acc, s -> s.doc_id = p.b)),
         |  p -> p.psim)), CAST(0 AS DOUBLE))""".stripMargin
    val greedy =
      s"""aggregate(sequence(1, $MmrK), CAST(array() AS array<$pickT>),
         |  (acc, t) -> CASE WHEN size(acc) >= size(carr) THEN acc ELSE
         |    array_append(acc, element_at(transform(array(array_min(
         |      transform(filter(carr, c -> NOT exists(acc, s -> s.doc_id = c.doc_id)),
         |        c -> named_struct(
         |          'key', named_struct(
         |            'negmmr', -(${lam}D * c.rel - ${oml}D * ${maxDiv("c")}),
         |            'doc_id', c.doc_id),
         |          'doc_id', c.doc_id, 'rel', c.rel,
         |          'max_div', ${maxDiv("c")})))),
         |      b -> named_struct('pick_order', CAST(t AS BIGINT),
         |        'doc_id', b.doc_id, 'rel', b.rel, 'max_div', b.max_div,
         |        'mmr', -(b.key.negmmr))), 1)) END)""".stripMargin
    val carr = cands.groupBy(col("query_id"))
      .agg(expr("array_sort(collect_list(struct(doc_id, rel)))").as("carr"))
    val parr = pairs.groupBy(col("query_id"))
      .agg(collect_list(struct(col("a"), col("b"), col("psim"))).as("parr"))
    carr.join(parr, Seq("query_id"), "left")
      .withColumn("parr", expr(
        "coalesce(parr, CAST(array() AS array<struct<a: bigint, b: bigint, psim: double>>))"))
      .select(col("query_id"), explode(expr(greedy)).as("p"))
      .select(col("query_id"), col("p.doc_id").as("doc_id"),
        col("p.pick_order").as("pick_order"), col("p.rel").as("rel"),
        col("p.max_div").as("max_div"), col("p.mmr").as("mmr"))
  }

  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    fuseRrf(lexRanks(spark, dir),
      VectorOps.knnExact(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank")))

  /** [[hybridRrf]] with the vector side served by the AUTO-SIZED
    * trained IVF index ([[VectorOps.knnIvfAuto]] — nlist = √N,
    * nprobe = √nlist) instead of the exact brute-force scan: the lex
    * side is unchanged, the fusion identical, but each query's vector
    * candidates come from a bucket equi-join on the assigned inverted
    * list (~√N·nprobe rows per query) rather than a |Q|·N corpus-wide
    * dot product. This IS the production hybrid shape — ES itself
    * serves the kNN half of `rank: rrf` through its ANN index — and
    * the scale fix for the one plan in this family that dies at 100×
    * (|Q| grows with the corpus, so exact-vec hybrid is quadratic;
    * a PINNED nlist would make candidates N/nlist, linear again —
    * the r15 measured regression the auto dial removes).
    * [[hybridRrf]] stays registered as the oracle/gauge twin;
    * [[hybridRrfAnnRecall]] prices the recall the index trades.
    */
  def hybridRrfAnn(spark: SparkSession, dir: String): DataFrame =
    fuseRrf(lexRanks(spark, dir),
      VectorOps.knnIvfAuto(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank")))

  /** Recall@[[RrfTopK]] of the ANN-served hybrid against the
    * exact-vector hybrid, per query — the [[VectorOps.ivfRecall]]
    * evaluation loop applied to the FUSED ranking (what a serving
    * migration actually needs to know: how much the final hybrid
    * page changes, not just the vector list).
    */
  def hybridRrfAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    // The lex tower is IDENTICAL in both fusions (only the vector side
    // differs), so compute its k·|Q| rank table once and fuse it twice
    // — previously each side re-ran the full BM25 scoring pipeline
    // (the gauge paid the tower 2×; at 100 TB the duplicated side is a
    // corpus-scale scoring pass). Materialized so the two fusion
    // subtrees share the computed rows rather than the plan.
    val lex = lexRanks(spark, dir).localCheckpoint()
    val exact = fuseRrf(lex,
      VectorOps.knnExact(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank")))
      .select(col("query_id"), col("doc_id"))
    val approx = fuseRrf(lex,
      VectorOps.knnIvfAuto(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank")))
      .select(col("query_id"), col("doc_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("hit")).cast("double") / RrfTopK).as("recall_at_k"),
        count(lit(1)).as("n_exact"))
  }

  /** Query-id bound of the SERVING-SHAPED hybrid fixture: stride ids
    * BELOW this cap — a fixed page of min(N, cap)/QueryMod queries
    * (20 at sf0.1 and every larger SF), so the family's bench isolates
    * corpus growth from query-set growth. The gauge convention
    * everywhere else (|Q| ∝ N/QueryMod) deliberately grows the query
    * set with the corpus; a production search tier serves a bounded
    * request page, which is what this fixture times.
    */
  val ServingQMax = 2000L

  /** [[hybridRrfAnn]] with the FIXED query page: both towers serve
    * only the [[ServingQMax]]-bounded stride queries — the lex tower's
    * BM25 runs |Q|=20 queries at every bench SF and the vector tower
    * probes the auto-sized IVF for the same 20, so the measured
    * sf1/sf0.1 ratio is the per-request serving cost's growth
    * (~linear in corpus for the candidate streams), not |Q| growth.
    */
  def hybridRrfServing(spark: SparkSession, dir: String): DataFrame =
    fuseRrf(
      lexRanksFor(spark, dir,
        col("doc_id") % VectorOps.QueryMod === 0 &&
          col("doc_id") < ServingQMax),
      VectorOps.knnIvfAutoQueries(spark, dir,
        col("vec_id") % VectorOps.QueryMod === 0 &&
          col("vec_id") < ServingQMax)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank")))

  /** The shared lexical tower: every stride query doc's top TF-IDF
    * terms, BM25-ranked, self-hit excluded.
    */
  private def lexRanks(spark: SparkSession, dir: String): DataFrame =
    lexRanksFor(spark, dir, col("doc_id") % VectorOps.QueryMod === 0)

  /** [[lexRanks]] over an arbitrary query-doc predicate (the fixed-|Q|
    * serving fixture's seam).
    */
  private def lexRanksFor(spark: SparkSession, dir: String,
      qpred: Column): DataFrame = {
    // Query terms come from the stored term-vector sidecar
    // ([[TextOps.termVectors]], memoized): previously every lex tower
    // re-ran the whole tfidf pipeline (postings df-aggregate + corpus
    // top-3 window) just to derive its |Q|·3 query terms — a
    // corpus-scale pass per hybrid query, 4× per bench sweep, where a
    // serving tier reads the query doc's stored terms (guide §6: make
    // repeated reads hit an index, not a recompute). bm25Ranked still
    // references the relation twice (vocabulary semi-join + scoring
    // join), but both references are now memo-cache filters, so the
    // r16 localCheckpoint (an eager job per tower) costs more than the
    // duplicate read it saved and is gone.
    val queries = TextOps.termVectors(spark, dir)
      .where(qpred)
      .select(col("doc_id").as("query_id"), col("word").as("term"))
    TextOps.bm25Ranked(spark, dir, queries, excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
  }

  /** RRF fusion of two top-k-per-query rank tables — k·|Q|-row work
    * regardless of corpus size (both inputs are already rank-cut).
    */
  private def fuseRrf(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"$Grid div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$Grid div ($RrfK + vec_rank)"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= RrfTopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("lex_rank"), col("vec_rank"))
  }

  /** Shard count / bucket size for [[termsError]] — S is the fixture
    * stand-in for the index's real shard layout, K the agg's `size`.
    */
  val TermsShards = 8
  val TermsTopK = 10

  /** ES `terms`-aggregation error bounds: per-shard top-K term
    * doc-counts merged the way Elasticsearch merges them, with each
    * returned term's `doc_count_error_upper_bound` — the sum, over
    * every shard that did NOT return the term, of that shard's K-th
    * (smallest returned) count: the worst case the term could have
    * hidden just below each non-reporting shard's cutoff. `doc_count`
    * is likewise the sum of only the RETURNED shard counts (ES
    * semantics: a merged count can undercount, and the bound caps the
    * miss — RetrievalSpec proves doc_count ≤ true ≤ doc_count+bound
    * for every emitted term). Sharding is the deterministic
    * `doc_id % S` stand-in for the index's routing (the
    * [[graft.operators.TextOps.decontaminate]] stride device), so
    * both engines compute the identical bound.
    *
    * Shape at 100 TB: the only corpus-sized work is the (shard, term)
    * partial-count aggregate off the memoized postings; the per-shard
    * top-K window gets the WindowGroupLimit cut, and everything after
    * operates on ≤ S·K candidate rows (the kth-count table is S rows
    * and broadcasts).
    */
  def termsError(spark: SparkSession, dir: String): DataFrame =
    termsErrorFrom(
      TextOps.postingsIndex(spark, dir).select(col("doc_id"), col("term")),
      TermsShards, TermsTopK)

  /** [[termsError]] over a materialized distinct (doc_id, term)
    * relation — the seam RetrievalSpec's synthetic shardings drive.
    */
  private[graft] def termsErrorFrom(docTerms: DataFrame,
      nShards: Int, k: Int): DataFrame = {
    val per = docTerms
      .select(col("term"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .groupBy(col("shard"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("cnt").desc, col("term").asc)
    val ranked = per.withColumn("rn", row_number().over(w))
    val top = ranked.where(col("rn") <= k)
      .select(col("shard"), col("term"), col("cnt"))
    // a shard with fewer than k terms returned ALL of them: absent
    // terms truly have count 0 there, so its cutoff is 0
    val kth = ranked.where(col("rn") === k)
      .select(col("shard"), col("cnt").as("kth_cnt"))
    val shardK = per.select(col("shard")).distinct()
      .join(kth, Seq("shard"), "left")
      .select(col("shard"), coalesce(col("kth_cnt"), lit(0L)).as("kth_cnt"))
    val cands = top.select(col("term")).distinct()
    cands.crossJoin(broadcast(shardK))
      .join(top, Seq("term", "shard"), "left")
      .groupBy(col("term"))
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("doc_count"),
        sum(when(col("cnt").isNull, col("kth_cnt")).otherwise(lit(0L)))
          .as("doc_count_error_upper_bound"))
      .orderBy(col("doc_count").desc, col("term").asc)
      .limit(k)
  }

  /** ES Ranking Evaluation API (`_rank_eval`): score a retrieval run
    * against relevance judgments — here the memoized exact-KNN run
    * ([[VectorOps.knnExact]]) judged by LABEL MATCH (a hit is relevant
    * iff it carries the query vector's class label, the standard
    * ANN-benchmark ground-truth convention). Emits one row per query
    * (hits@k, corpus relevant count, first relevant rank,
    * precision@k, recall@k, reciprocal rank) plus the corpus summary
    * row (`query_id = -1`) with the mean metrics — ES's
    * `metric_score` + per-query `details` in one frame.
    *
    * Exactness: every per-query metric is a single IEEE division of
    * exact integers; the summary means quantize each per-query double
    * to DECIMAL(18,12) (deterministic cast), sum EXACTLY in decimal,
    * and divide once — the order-independence device the money sums
    * use, applied to metric means.
    *
    * Shape at 100 TB: the ranked run is k·|Q| rows (the expensive
    * retrieval is the memoized operator, already audited); judgments
    * attach by broadcasting the small run/query frames against the
    * corpus label table, so nothing corpus-sized shuffles.
    */
  /** DCG weight for rank r (1/log₂(r+1)) quantized to 12 decimal
    * places AT CODE-GENERATION time — both engines embed the identical
    * decimal literal, so NDCG needs no runtime logarithm and its sums
    * are exact decimal arithmetic. Shared with the oracle
    * (OracleRetrieval embeds the same strings).
    */
  private[graft] def dcgWeight(r: Int): java.math.BigDecimal =
    new java.math.BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** SQL array literal of [[dcgWeight]] 1..k as DECIMAL(18,12). */
  private[graft] def dcgWeightsLit(k: Int): String =
    (1 to k).map(r => s"CAST('${dcgWeight(r).toPlainString}' AS DECIMAL(18,12))")
      .mkString("array(", ", ", ")")

  /** Ideal-DCG prefix sums W[m] = Σ_{r≤m} w(r), m = 1..k, as the same
    * decimal literals (exact BigDecimal addition at code-gen time).
    */
  private[graft] def idcgPrefixLit(k: Int): String = {
    val prefix = (1 to k).scanLeft(java.math.BigDecimal.ZERO) {
      (acc, r) => acc.add(dcgWeight(r))
    }.tail
    prefix.map(p => s"CAST('${p.toPlainString}' AS DECIMAL(18,12))")
      .mkString("array(", ", ", ")")
  }

  def rankEval(spark: SparkSession, dir: String): DataFrame =
    rankEvalOf(spark, dir, VectorOps.knnExact(spark, dir))

  /** [[rankEval]] over the IVF approximate run — the judgment harness
    * is run-agnostic (ES `_rank_eval` takes any search body), so the
    * SAME metrics evaluated on the ANN index quantify the
    * approximation's behavior under label relevance. Note the ANN
    * metrics are NOT bounded by the exact run's: cosine-optimal is
    * not label-optimal, so an approximate list can legitimately score
    * HIGHER on label judgments (measured on the fixture: IVF p@k 0.14
    * vs exact 0.12) — recall-vs-exact is the [[VectorOps.ivfRecall]]
    * gauge's job; this one answers "how good are the results a user
    * sees".
    */
  def rankEvalIvf(spark: SparkSession, dir: String): DataFrame =
    rankEvalOf(spark, dir, VectorOps.knnIvf(spark, dir))

  private def rankEvalOf(spark: SparkSession, dir: String,
      knn: DataFrame): DataFrame = {
    import graft.sources.Tables
    val k = VectorOps.K
    val lab = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val qlab = lab.where(col("vec_id") % VectorOps.QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val nRel = qlab
      .join(broadcast(lab.groupBy(col("label")).agg(count(lit(1)).as("nlab"))),
        col("qlabel") === col("label"))
      .select(col("query_id"), (col("nlab") - 1L).as("n_rel"))
    val judged = lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"))
      .join(broadcast(knn), Seq("neighbor_id"))
      .join(broadcast(qlab), Seq("query_id"))
    val per = judged.groupBy(col("query_id"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("rel_at_k"),
        min(when(col("nlabel") === col("qlabel"), col("rank"))).as("first_rank"),
        // exact decimal DCG: per-rank weights are code-gen literals
        sum(when(col("nlabel") === col("qlabel"),
          expr(s"element_at(${dcgWeightsLit(k)}, CAST(rank AS INT))"))
          .otherwise(expr("CAST('0' AS DECIMAL(18,12))"))).as("dcg"))
      .join(broadcast(nRel), Seq("query_id"))
      .select(col("query_id"), col("rel_at_k"), col("n_rel"), col("first_rank"),
        (col("rel_at_k").cast("double") / lit(k.toDouble)).as("p_at_k"),
        (col("rel_at_k").cast("double") / col("n_rel").cast("double"))
          .as("recall_at_k"),
        coalesce(lit(1.0d) / col("first_rank"), lit(0.0d)).as("rr"),
        // NDCG@k: ideal DCG is the prefix-sum literal at min(n_rel, k).
        // A singleton label class (n_rel = 0) has no defined ideal —
        // emit NULL, and clamp the lookup index to ≥ 1 so Spark's
        // element_at never sees 0 (it throws; DuckDB's arr[0] yields
        // NULL — an engine-divergent failure this guard removes).
        when(col("n_rel") === 0L, lit(null).cast("double"))
          .otherwise(col("dcg").cast("double") /
            expr(s"CAST(element_at(${idcgPrefixLit(k)}, CAST(greatest(1, least(n_rel, $k)) AS INT)) AS DOUBLE)"))
          .as("ndcg_at_k"))
    def dmean(c: String): Column =
      (sum(col(c).cast("decimal(18,12)")).cast("double") /
        count(lit(1)).cast("double")).as(c)
    val summary = per.agg(
        sum(col("rel_at_k")).as("rel_at_k"), sum(col("n_rel")).as("n_rel"),
        dmean("p_at_k"), dmean("recall_at_k"), dmean("rr"), dmean("ndcg_at_k"))
      .select(lit(-1L).as("query_id"), col("rel_at_k"), col("n_rel"),
        lit(null).cast("long").as("first_rank"),
        col("p_at_k"), col("recall_at_k"), col("rr"), col("ndcg_at_k"))
    per.unionAll(summary)
  }
}
