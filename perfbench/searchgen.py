"""Seeded Elasticsearch SearchRequest bodies for the search_serving workload.

Each request carries its body (what the engine compiles through QueryDsl)
and a DuckDB SQL twin written independently from the ES semantics of that
body over the generated tables; the check compares the engine's response
with the twin's rows. All requests in one draw are distinct.
"""
import json

APM = "traces-*,apm*,metrics-apm*"
LOGS = "logs-*,filebeat-*"

# DuckDB form of the engine's ECS signal view over `events` (the k-derived
# parent fields), written from the fixture's field derivation rules
SIGNALS = """ev AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM {src}
),
signals AS (
  SELECT event_id, ts, user_id, event_type, value,
    'svc-' || CAST(user_id % 20 AS VARCHAR) AS service_name,
    CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'dev' END AS service_environment,
    CASE WHEN k % 3 = 0 THEN 'c-' || CAST(k % 7 AS VARCHAR) END AS container_id,
    CASE WHEN k % 2 = 1 THEN 'p-' || CAST(k % 5 AS VARCHAR) END AS kubernetes_pod_uid,
    CASE WHEN k % 4 = 0 THEN 'h-' || CAST(k % 6 AS VARCHAR) END AS host_name,
    CASE WHEN k % 9 <> 8 THEN 'hh-' || CAST(k % 9 AS VARCHAR) END AS host_hostname,
    CASE WHEN k % 5 <> 2 THEN 'n-' || CAST(k % 4 AS VARCHAR) END AS kubernetes_node_name,
    CASE WHEN k % 5 = 0 THEN 'aws' END AS cloud_provider,
    CASE WHEN k % 7 = 0 THEN 'cl-' || CAST(k % 2 AS VARCHAR) END AS orchestrator_cluster_name
  FROM ev
),
mx AS (SELECT max(ts) AS m FROM signals)"""

FIELDS = {  # ES field -> signal column
    "@timestamp": "ts", "service.name": "service_name",
    "service.environment": "service_environment", "container.id": "container_id",
    "kubernetes.pod.uid": "kubernetes_pod_uid", "kubernetes.node.name": "kubernetes_node_name",
    "cloud.provider": "cloud_provider", "orchestrator.cluster.name": "orchestrator_cluster_name",
    "host.name": "host_name", "value": "value", "user.id": "user_id",
}
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
EMB_DIM = 64


def _pick(rng, xs, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return [xs[i] for i in sorted(rng.choice(len(xs), n, replace=False))]


def filter_request(rng):
    days = int(rng.integers(2, 29))
    size = int(rng.integers(20, 201))
    types = _pick(rng, EVENT_TYPES, 1, 3)
    extra = _pick(rng, ["service.environment", "container.id", "kubernetes.pod.uid",
                        "cloud.provider", "host.name", "value"], 1, 4)
    fields = ["@timestamp", "service.name"] + extra
    no_aws = bool(rng.integers(0, 2))
    need_parent = bool(rng.integers(0, 2))
    q = {"filter": [{"range": {"@timestamp": {"gte": "now-%dd" % days}}}],
         "must": [{"terms": {"metricset.name": types}}]}
    where = ["ts >= m - INTERVAL %d DAY" % days,
             "event_type IN (%s)" % ", ".join("'%s'" % t for t in types)]
    if no_aws:
        q["must_not"] = [{"term": {"cloud.provider": "aws"}}]
        where.append("NOT COALESCE(cloud_provider = 'aws', FALSE)")
    if need_parent:
        q["should"] = [{"exists": {"field": "container.id"}},
                       {"exists": {"field": "kubernetes.pod.uid"}}]
        q["minimum_should_match"] = 1
        where.append("(container_id IS NOT NULL OR kubernetes_pod_uid IS NOT NULL)")
    body = {"index": [APM], "size": size, "sort": [{"@timestamp": "desc"}],
            "_source": False, "fields": fields, "query": {"bool": q}}
    cols = ["event_id"] + [FIELDS[f] for f in fields]
    sql = ("WITH %s\nSELECT %s FROM signals, mx\nWHERE %s\n"
           "ORDER BY ts DESC, event_id DESC LIMIT %d") % (
        SIGNALS.format(src="events"), ", ".join(cols), "\n  AND ".join(where), size)
    return body, sql


def aggs_request(rng):
    days = int(rng.integers(3, 29))
    top = int(rng.integers(1, 6))
    lo = round(float(rng.uniform(0, 40)), 1)
    body = {"index": [APM], "size": 0,
            "query": {"bool": {"filter": [
                {"range": {"@timestamp": {"gte": "now-%dd" % days}}},
                {"range": {"value": {"gte": lo}}}]}},
            "aggs": {"per_day": {
                "date_histogram": {"field": "@timestamp", "calendar_interval": "day"},
                "aggs": {"by_type": {
                    "terms": {"field": "metricset.name", "size": top},
                    "aggs": {"value_sum": {"sum": {"field": "value"}},
                             "value_max": {"max": {"field": "value"}},
                             "n_users": {"cardinality": {"field": "user.id"}}}}}}}}
    sql = """WITH %s,
f AS (SELECT * FROM signals, mx WHERE ts >= m - INTERVAL %d DAY AND value >= %r),
g AS (
  SELECT CAST(ts AS DATE) AS per_day, event_type AS by_type,
    CAST(count(*) AS BIGINT) AS doc_count,
    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
    max(value) AS value_max,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM f GROUP BY 1, 2
),
r AS (SELECT *, dense_rank() OVER (
  PARTITION BY per_day ORDER BY doc_count DESC, by_type ASC) AS rk FROM g)
SELECT per_day, by_type, doc_count, value_sum, value_max, n_users
FROM r WHERE rk <= %d""" % (SIGNALS.format(src="events"), days, lo, top)
    return body, sql


def collapse_request(rng):
    days = int(rng.integers(1, 29))
    key = ["kubernetes.pod.uid", "container.id", "host.name"][int(rng.integers(0, 3))]
    other = [f for f in ["kubernetes.node.name", "orchestrator.cluster.name",
                         "cloud.provider", "service.name"] if rng.random() < 0.6]
    fields = ["@timestamp", key] + other
    body = {"index": [LOGS, APM], "collapse": {"field": key},
            "sort": [{"@timestamp": "desc"}], "_source": False, "fields": fields,
            "query": {"bool": {
                "filter": [{"range": {"@timestamp": {"gte": "now-%dd" % days}}}],
                "must": [{"exists": {"field": key}}]}}}
    kc = FIELDS[key]
    cols = ["event_id"] + [FIELDS[f] for f in fields]
    sql = """WITH %s,
filtered AS (SELECT * FROM signals, mx WHERE ts >= m - INTERVAL %d DAY AND %s IS NOT NULL),
collapsed AS (SELECT *, row_number() OVER (
  PARTITION BY %s ORDER BY ts DESC, event_id DESC) AS rn FROM filtered)
SELECT %s FROM collapsed WHERE rn = 1""" % (
        SIGNALS.format(src="(SELECT * FROM events UNION ALL SELECT * FROM events)"),
        days, kc, kc, ", ".join(cols))
    return body, sql


def _bm25(terms):
    """BM25 (k1 1.2, b 0.75, log-free idf, scores floored to a 2^-40 grid)
    of `terms` over whitespace tokens of documents.text."""
    qvals = ", ".join("('%s')" % t for t in terms)
    return """docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
q(term) AS (VALUES %s),
dl AS (SELECT doc_id, len(words) AS dl FROM docs),
stats AS (SELECT count(dl) AS n_docs, sum(dl) AS dl_sum FROM dl),
tc AS (SELECT doc_id, term, count(*) AS tf FROM (
  SELECT doc_id, unnest(words) AS term FROM docs) t
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
c AS (SELECT tc.doc_id, CAST(floor(
    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
    * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
    * 1099511627776.0) AS BIGINT) AS cg
  FROM tc JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
scored AS (SELECT doc_id, CAST(sum(cg) AS BIGINT) AS score, count(*) AS n_matched
  FROM c GROUP BY doc_id)""" % qvals


def match_request(rng):
    terms = _pick(rng, VOCAB, 1, 3)
    size = 10
    fields = _pick(rng, ["lang", "source"], 1, 2)
    body = {"index": ["docs-*"], "size": size, "sort": ["_score"], "_source": False,
            "fields": fields, "query": {"match": {"text": " ".join(terms)}}}
    sql = """WITH %s,
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS "rank" FROM scored)
SELECT r.doc_id, r.score, r."rank", r.n_matched, %s
FROM ranked r JOIN documents d2 ON d2.doc_id = r.doc_id WHERE "rank" <= %d""" % (
        _bm25(terms), ", ".join("d2." + f for f in fields), size)
    return body, sql


def bool_request(rng):
    terms = _pick(rng, VOCAB, 1, 3)
    size = int(rng.integers(5, 21))
    min_chars = int(rng.integers(50, 400))
    lang = LANGS[int(rng.integers(0, 5))]
    body = {"index": ["docs-*"], "size": size, "sort": ["_score"], "_source": False,
            "fields": ["lang", "source", "n_chars"],
            "query": {"bool": {
                "must": [{"match": {"text": " ".join(terms)}}],
                "filter": [{"range": {"n_chars": {"gte": min_chars}}}],
                "must_not": [{"term": {"lang": lang}}]}}}
    sql = """WITH %s,
gated AS (SELECT s.doc_id, CAST(s.score AS DOUBLE) AS score FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.n_chars >= %d AND NOT COALESCE(d.lang = '%s', FALSE)),
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS "rank" FROM gated)
SELECT r.doc_id, r.score, r."rank", d.lang, d.source, d.n_chars
FROM ranked r JOIN documents d ON d.doc_id = r.doc_id WHERE "rank" <= %d""" % (
        _bm25(terms), min_chars, lang, size)
    return body, sql


def knn_request(rng):
    v = rng.standard_normal(EMB_DIM)
    v = [round(float(x), 6) for x in v / (v ** 2).sum() ** 0.5]
    k = int(rng.integers(5, 21))
    label = int(rng.integers(0, 10)) if rng.random() < 0.5 else None
    knn = {"field": "embedding", "query_vector": v, "k": k}
    if label is not None:
        knn["filter"] = {"term": {"label": label}}
    body = {"index": ["emb-*"], "knn": knn}
    qv = "[%s]" % ", ".join("CAST(%r AS DOUBLE)" % x for x in v)

    def dot(a, b):
        return ("list_reduce(list_transform(range(1, %d), i -> CAST(%s[CAST(i AS INT)] AS DOUBLE)"
                " * CAST(%s[CAST(i AS INT)] AS DOUBLE)), (acc, x) -> acc + x)") % (EMB_DIM + 1, a, b)
    where = "" if label is None else "WHERE label = %d" % label
    sql = """WITH q AS (SELECT %s AS v)
SELECT vec_id, %s / (sqrt(%s) * sqrt(%s)) AS score
FROM embeddings, q %s
ORDER BY score DESC, vec_id ASC LIMIT %d""" % (
        qv, dot("embedding", "q.v"), dot("embedding", "embedding"), dot("q.v", "q.v"), where, k)
    return body, sql


KINDS = [  # (kind, slots per block of 20, index family, generator)
    ("filter", 5, "signals", filter_request),
    ("aggs", 4, "signals", aggs_request),
    ("collapse", 3, "signals", collapse_request),
    ("match", 3, "docs", match_request),
    ("bool", 2, "docs", bool_request),
    ("knn", 3, "emb", knn_request),
]
WARM = len(KINDS)


def _block_order():
    """The kinds of one 20-request block, interleaved so that every prefix
    keeps the mix as closely as it can (largest deficit first): any run,
    whatever number of requests it reaches, sees the same mix."""
    total = sum(k[1] for k in KINDS)
    counts = [0] * len(KINDS)
    order = []
    for step in range(1, total + 1):
        i = max(range(len(KINDS)), key=lambda j: KINDS[j][1] * step / total - counts[j])
        counts[i] += 1
        order.append(KINDS[i])
    return order


def requests(rng, blocks):
    """A warm block with one request of each kind, then `blocks` blocks of
    20 in the fixed interleaved KINDS mix. Each request's parameters are
    drawn from the seed; all requests are distinct."""
    order = list(KINDS) + _block_order() * blocks
    out, seen = [], set()
    for kind, _, env, make in order:
        while True:
            body, sql = make(rng)
            text = json.dumps(body, sort_keys=True)
            if text not in seen:
                break
        seen.add(text)
        out.append({"id": len(out), "kind": kind, "env": env, "body": text, "sql": sql})
    return out
