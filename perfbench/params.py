"""Sizes and operation parameters of the benchmark's workloads.

One place for every number that shapes a workload, so the generated
inputs, the references and the timed operations cannot disagree. The
sizes keep one run of a workload to about a minute on a 4-core host,
where a Spark session alone takes 10-13 s to start and every Spark job
costs 0.1-0.25 s of fixed overhead: a run measures one pass.
"""

# ---------------------------------------------------------------------------
# graph_iterative: sf0.1-shaped customer/order/embedding tables
# ---------------------------------------------------------------------------

N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_EMBEDDINGS = 2_000
EMB_DIM = 64
N_LABELS = 10
N_NATIONS = 25
N_REGIONS = 5  # links stay inside a region: one component per region
LINKS_PER_CUSTOMER = 5
ISOLATED_SHARE = 0.02  # customers with no links: singleton components
CROSS_NATION_SHARE = 0.1  # links leaving their nation, inside the region
HOUSEHOLD_CUSTOMERS = 2_000  # customers in the household clique graph (louvain)
HOUSEHOLD_SIZES = (3, 10)  # clique sizes drawn uniformly from [lo, hi]
CYPHER_PARAM_SETS = 24

KMEANS_K = 4
KMEANS_MAX_ITER = 2
PAGERANK_MAX_ITER = 2
LOUVAIN_MAX_SWEEPS = 1  # disjoint cliques settle in the first sweep
LOUVAIN_MAX_LEVELS = 1
CYPHER_PER_PASS = 2
ORDER_ID_OFFSET = 10_000_000  # order vertex ids live above every customer id

# the lakehouse table: LAKE_ROWS orders (key, customer, price), kept in
# Iceberg by graph_iterative and in Delta and Hudi MERGE_ON_READ by
# corpus_batch; every pass applies seeded batches
LAKE_ROWS = 4_000
LAKE_FILES = 2  # data files / Hudi file groups at creation
LAKE_PASSES = 8  # batch sets generated; pass p uses set p % LAKE_PASSES
NARROW_UPDATES = 16  # updates of recently written keys per narrow batch
NARROW_INSERTS = 4  # new keys per narrow batch
RECENT_KEYS = 500  # "recent" = among the newest RECENT_KEYS keys
WIDE_KEYS = LAKE_ROWS // 2  # a wide batch updates every key below this: half the files
DV_THRESHOLD = 0.5  # delta_merge's default: narrow batches take DVs, wide rewrite

# (Cypher query, DuckDB reference SQL); parameters come from the seed
CYPHER = [
    (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.custkey = $custkey "
        "RETURN o.orderkey AS orderkey, o.totalprice AS price ORDER BY orderkey",
        "SELECT o_orderkey AS orderkey, o_totalprice AS price FROM orders "
        "WHERE o_custkey = {custkey} ORDER BY orderkey",
    ),
    (
        "MATCH (c:Customer)-[r:PLACED]->(o:Order) "
        "WHERE c.nation = $nation AND o.totalprice > $min_price "
        "RETURN c.custkey AS custkey, count(r) AS n ORDER BY custkey",
        "SELECT o_custkey AS custkey, COUNT(*) AS n FROM orders JOIN customer "
        "ON o_custkey = c_custkey WHERE c_nationkey = {nation} "
        "AND o_totalprice > {min_price} GROUP BY o_custkey ORDER BY custkey",
    ),
    (
        "MATCH (c:Customer) WHERE c.acctbal >= $lo_bal AND c.acctbal < $lo_bal + 25.0 "
        "RETURN c.custkey AS custkey, c.name AS name ORDER BY custkey",
        "SELECT c_custkey AS custkey, c_name AS name FROM customer "
        "WHERE c_acctbal >= {lo_bal} AND c_acctbal < {lo_bal} + 25.0 ORDER BY custkey",
    ),
]

# ---------------------------------------------------------------------------
# corpus_batch: replicas of a base corpus, as bench_scale.build_scale_corpus
# ---------------------------------------------------------------------------

BASE_DOCS = 2_000
REPLICAS = 3
NEAR_DUP_SHARE = 0.10  # planted near-duplicates among the base documents
N_IMAGES = 1_500  # raw grayscale images of IMAGE_SIDE x IMAGE_SIDE pixels
IMAGE_SIDE = 32
IMAGE_RESIZE = 8  # image_features resizes to IMAGE_RESIZE x IMAGE_RESIZE
LANGS = ("en", "de", "fr", "es")

DEDUP_THRESHOLD = 0.5
# traced runs only (Workload.traced_ops): Naive Bayes on the nb_language
# split and IVF-PQ search of QUERY_VECTORS embeddings
QUERY_VECTORS = 64
IVFPQ_CELLS = 16
IVFPQ_M = 8
IVFPQ_K = 5
IVFPQ_CODES = 64  # PQ codewords per subvector

# ---------------------------------------------------------------------------
# both
# ---------------------------------------------------------------------------

# latency_tail_s is this percentile of a run's operation latencies. A pass
# has 12-18 operations, too few for a percentile with ten samples above it:
# p90 lies between the second and third slowest of graph_iterative's.
TAIL_PCT = 90
RESULT_KEY_STRIDE = 100_000_000  # results-table key = op seq * stride + row id
