"""Seeded inputs of the three workloads.

Every choice the seed makes is drawn here, so the program only ever receives
generated inputs and two runs with the same seed send identical traffic.
"""
import hashlib
import json
import random
from urllib.parse import quote

WORKLOADS = ("bi_serve", "catalog_batch")

# catalog_batch runs two query sets through the same serial loop; with two
# cold set-ups, the check pass and two timed passes a run is about 70 s on
# the 4-core host, so that a benchmark round of 4 + 22 x 2 runs fits in under
# an hour. With one timed pass the run-to-run spread was 26 %, with two
# about 7 %.
#
# The analyst's SQL surface, driver-floor bound: the quantile family's q128
# (8-16 jobs a query). All 57 queries of the BI modules take about 78 s a
# pass at sf0.1; the KPI query q50 runs in bi_serve's /analytics/kpi.
ANALYTICS = {
    "quantiles": ["q128_quantile_bins"],
}
# The training-data pipeline over the 5,000-document corpus, executor and
# shuffle bound: the two HNSW writes (persist, then incremental append), a
# search of the stored index, and the dedup clustering q34. The full
# 14-step pipeline takes about 41 s a pass.
CORPUS = {
    "dedup": ["q34_dedup_clusters"],
    "hnsw_write": ["q182_hnsw_persist", "q174_hnsw_incremental"],
    "hnsw_search": ["q183_hnsw_search_stored"],
}
# Steps that write stored state: they lead every pass, in lifecycle order
# (persist, then append), and the seed permutes only the steps after them.
CORPUS_WRITES = ["q182_hnsw_persist", "q174_hnsw_incremental"]
STORED_READS = ["q183_hnsw_search_stored"]  # read what the writes store

TABLES = ["lineitem", "documents", "embeddings"]  # what the set reads

PASSES = 64  # seeded pass orders; the harness cycles through them
# Measured time of one timed pass (bi_serve: one walk of the deck by every
# client) at HEAD on the 4-core host. A run makes as many passes as fit its
# --seconds, at least one, so the work of a run is fixed by its arguments
# and does not depend on how fast the program is.
PASS_S = {"catalog_batch": 13.0, "bi_serve": 22.0}
# A batch query's median needs two samples; bi_serve takes its samples from
# four clients at once.
MIN_PASSES = {"catalog_batch": 2, "bi_serve": 1}

REGIONS = ["North", "South", "East", "West"]
PRODUCTS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Data questions by the cascade stage that answers them.
TEMPLATE_ASKS = [
    "How did satisfaction change in the {region} region last quarter?",
    "Which regions have growing sales but declining satisfaction?",
    "What are the top two products for customers under 30?",
    "What month showed the highest overall sales growth?",
    "Are there any correlations between gender and average satisfaction?",
    "What was the average satisfaction by region for the last two quarters?",
]
INTENT_ASKS = [
    "What are the monthly sales trends for each product over the entire time period?",
    "Compare year-over-year sales performance by quarter.",
    "What is the correlation between transaction value and customer satisfaction?",
    "What were total sales in the {region} region by month?",
    "Show total sales by quarter for product {product}",
    "What was the average sales by week in the {region} region?",
]
DOC_ASKS = [
    "Summarize the key ideas from the Walmart PDF",
    "How can AI be a core component of value creation in a business model?",
    "What does the strategy document say about partnerships?",
    "Explain the main recommendations in the report",
    "Give an overview of the onboarding guide",
    "What are the key risks described in the policy document?",
    "Summarize the section on digital transformation",
    "What does the handbook say about governance?",
]

# JSON keys every 200 body of a route carries.
KEYS = {
    "kpi": ["total_sales", "avg_satisfaction", "top_region", "top_product"],
    "divergence": ["question", "rows", "columns", "source_table"],
    "top_products": ["question", "rows", "columns", "source_table"],
    "region_trends": ["regions", "rows", "columns", "source_table"],
    "sales_daily": ["columns", "rows", "source_table", "n"],
    "forecast": ["model", "history", "forecast"],
    "route": ["route", "route_reason", "source_used"],
    "rag_stats": ["collection", "ok", "sample_ids"],
    "inspect": ["table", "row_count", "columns", "sample_rows"],
    "ask_data": ["answer", "table", "stage", "source_used", "route_reason"],
    "ask_docs": ["answer", "citations", "source_used", "route_reason"],
}
ROUTES = list(KEYS)

# What bi_serve's set-up sends, the same for every seed: /data/inspect loads
# the sales view, and the first data ask makes the facade discover its
# domains. The ask is not in any deck.
SETUP_REQUESTS = [
    {"id": "setup:inspect", "route": "inspect", "method": "GET", "path": "/data/inspect", "body": None},
    {"id": "setup:ask", "route": "ask_data", "method": "POST", "path": "/rag/query",
     "body": json.dumps({"query": INTENT_ASKS[2]})},
]

CLIENTS = 4  # closed loop, one connection each: this host's nproc and the
# facade's fixed worker pool, so no request queues inside the facade


def _fill(rng, template):
    return template.format(region=rng.choice(REGIONS), product=rng.choice(PRODUCTS))


def _ask(route, question):
    return {"id": "ask:" + question, "route": route, "method": "POST",
            "path": "/rag/query", "body": json.dumps({"query": question})}


def _get(rid, route, path):
    return {"id": rid, "route": route, "method": "GET", "path": path, "body": None}


def serve_deck(rng):
    """The deck every client walks: 9 GETs and 7 asks, one request of each
    kind, so every seed sends the same mix. The seed draws the parameters
    (forecast algorithm, h and window, limit, regions, products, the routed
    and the doc questions) and the order. The id names a request's content,
    so the four clients' copies of a request share it."""
    fixed = {"kpi": "/analytics/kpi", "divergence": "/bi/region-divergence",
             "sales_daily": "/ts/sales-daily", "rag_stats": "/rag/stats",
             "inspect": "/data/inspect"}
    deck = [_get(r, r, p) for r, p in fixed.items()]
    n = rng.randint(1, 5)
    deck.append(_get(f"top_products:{n}", "top_products", f"/bi/top-products-under-30?limit={n}"))
    regions = ",".join(sorted(rng.sample(REGIONS, rng.randint(1, 4))))
    deck.append(_get("region_trends:" + regions, "region_trends",
                     "/bi/region-trends?regions=" + regions))
    algo = rng.choice(["ma7_baseline", "drift", "seasonal7"])
    h, w = rng.choice([7, 14, 30, 60, 90]), rng.choice([7, 14, 28])
    deck.append(_get(f"forecast:{algo}:{h}:{w}", "forecast",
                     f"/api/ts-forecast-v2?h={h}&algo={algo}&window={w}"))
    q = _fill(rng, rng.choice(TEMPLATE_ASKS + INTENT_ASKS + DOC_ASKS))
    deck.append(_get("route:" + q, "route", "/route?query=" + quote(q)))
    deck += [_ask("ask_data", _fill(rng, q)) for q in TEMPLATE_ASKS[:3] + INTENT_ASKS[:2]]
    deck += [_ask("ask_docs", q) for q in rng.sample(DOC_ASKS, 2)]
    rng.shuffle(deck)
    return deck


def flat(groups):
    return [q for qs in groups.values() for q in qs]


def passes(workload, seconds):
    return max(MIN_PASSES[workload], round(seconds / PASS_S[workload]))


def generate(workload, seed, seconds, digests=None):
    """Inputs of one run of `workload`, drawn from `seed` alone (apart from
    the committed digests, which are the expected outputs)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "bi_serve":
        deck = serve_deck(rng)
        # each client starts at its own offset, so the clients are at
        # different requests at any time
        k = len(deck) // CLIENTS
        return {"clients": [deck[i * k:] + deck[:i * k] for i in range(CLIENTS)],
                "setup": SETUP_REQUESTS, "cycles": passes(workload, seconds), "keys": KEYS}
    analytics, corpus = flat(ANALYTICS), flat(CORPUS)
    reads = [q for q in analytics + corpus if q not in CORPUS_WRITES]
    return {
        "queries": analytics + corpus,
        "passes": [CORPUS_WRITES + rng.sample(reads, len(reads)) for _ in range(PASSES)],
        "timed_passes": passes(workload, seconds),
        # the writes run while the other queries check; the index search,
        # which reads what the writes stored, after them
        "check": [{"serial": CORPUS_WRITES, "parallel": [q for q in reads if q not in STORED_READS]},
                  {"serial": [], "parallel": STORED_READS}],
        "tables": TABLES,
        "digests": digests or {},
    }


def digest(inputs):
    """Digest of the traffic a run sends: equal digests, identical inputs."""
    traffic = {k: v for k, v in inputs.items() if k != "digests"}
    return hashlib.sha256(json.dumps(traffic, sort_keys=True).encode()).hexdigest()
