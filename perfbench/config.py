"""Every input size and share the benchmark uses, in one place.

BENCHMARK.json and perfbench/NOTES.md quote these values; change them
here only, and only in a change that re-measures the baseline. Each
value is marked with its basis: a published measurement, a default of
the program itself, or "assumed" (no source; chosen for the test).
"""

# -- follow graph ---------------------------------------------------------
GRAPH_USERS = 1500           # analytics: lookups and graph jobs share this graph
GRAPH_OUT = (4, 16)          # accounts each user follows, uniform in range (assumed)
GRAPH_OUT_CAP = 3            # follow-backs stop at this many times the max (assumed)
# Popularity weight, so in-degree is heavy-tailed: Kwak et al., "What is
# Twitter, a social network or a news media?" (WWW 2010) fit the follower
# count to a power law with density exponent 2.276; a Pareto tail index
# is that exponent minus one.
GRAPH_PARETO_ALPHA = 1.276
# Share of follows that are followed back: 22.1 % of the user pairs with a
# follow relation are reciprocal in the same study.
GRAPH_RECIPROCITY = 0.221
GRAPH_HUB_SHARE = 0.01       # most popular 1% of users are the celebrity hubs (assumed)
BIO_KEYWORD_SHARE = 0.6      # bios that name a category keyword (assumed)

# -- ingest ---------------------------------------------------------------
INGEST_GRAPH_USERS = 2000    # (assumed)
INGEST_OUT = (20, 40)        # accounts each user follows (assumed)
# A scrape lands at most this many followers and following of a user: the
# scrapers' max_count. Their default, None (full lists), would make a
# round's edge count follow the in-degree tail; see NOTES.md. (assumed)
INGEST_MAX_COUNT = 20
INGEST_BASE_SHARE = 0.5      # non-hub users scraped before timing, + all hubs (assumed)
SCHEDULER_BATCH_SIZE = 10    # JobScheduler's default batch_size, used as is
JOBS_PER_USER = 3            # followers, following and profile scrape jobs
# The most users whose jobs one default tick dequeues: one tick, one round.
INGEST_USERS_PER_ROUND = SCHEDULER_BATCH_SIZE // JOBS_PER_USER
INGEST_RESCRAPES_PER_ROUND = 1   # of those, users scraped before (assumed)

# -- lookups --------------------------------------------------------------
# Zipf exponent over users ranked by popularity: the default request
# distribution of YCSB (Cooper et al., SoCC 2010), zipfian constant 0.99.
LOOKUP_ZIPF_S = 0.99
LOOKUP_MAX_INTERESTS = 3     # interests per user, uniform 0..3 (assumed)
LOOKUP_KINDS = (
    "key_lookup", "following_profiles", "edge_count",
    "mutual_edges", "interest_detail",
)

# -- graph jobs -----------------------------------------------------------
GRAPH_JOBS = ("triangle_stats", "mutual_edges")

# -- analytics -------------------------------------------------------------
ANALYTICS_LOOKUPS_PER_KIND = 8  # 40 requests: enough for a p75 with 10 beyond it

# -- curation -------------------------------------------------------------
CORPUS_DOCS = 500
DOC_WORDS = (40, 80)         # words per document, uniform in range
EXACT_DUP_SHARE = 0.1        # docs that are re-cased/re-punctuated copies
NEAR_DUP_SHARE = 0.1         # docs that are copies with a few word edits
NEAR_DUP_EDITS = 2
NEAR_DUP_THRESHOLD = 0.5     # Jaccard threshold of minhash_near_dups
NEAR_DUP_MIN_RECALL = 0.9    # planted pairs the near-dup job must find
VECTORS = 300
VECTOR_DIM = 32
VECTOR_QUERIES = 20
VECTOR_QUERY_NOISE = 0.05
TOPK = 5

# -- measurement ------------------------------------------------------------
TAIL_MIN_BEYOND = 10         # samples a reported tail percentile must leave above it
DRIVER_MEMORY = "2g"
