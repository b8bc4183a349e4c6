"""Seeded benchmark inputs.

The benchmark may read nothing outside its checkout, so the inputs are
generated here rather than copied from a lake on disk. Each table keeps
the schema, value domains and categorical sets of the repo's sf0.1
fixture lake (TESTDATA.md): the same column names and types, the same
status/priority/flag/lang vocabularies, the same 31-word document
vocabulary, the same date and price ranges. Row counts are one tenth of
sf0.1, which keeps a fresh-process run within the benchmark's time
budget while every table still spans several Arrow batches.

Every seed gives the same row counts, so two seeds differ only in
values. Nothing here is timed: the runner generates the inputs before it
starts the measured process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one tenth of sf0.1
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000

# documents the traced monitor run's curation stages read
N_STAGE_DOCS = 200

# serve_index corpus and traffic
N_VECTORS = 1_000
DIM = 64
N_CLUSTERS = 10
INGEST_BATCH = 50
SEARCH_BATCH = 8
RERANK_BATCH = 4

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over the sf0.1 vocabulary. About 1% are
    exact copies of an earlier document, so dedup-sensitive operators
    see duplicates as they do in the fixture lake."""
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.01):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lake_tables(seed: int, variant: int) -> dict[str, pa.Table]:
    """One monitored lake: the sf0.1 order, line-item and event tables.
    Variant 1 is the same population after a shift: event values grow by
    15% and more orders are open, which is the drift the monitor's
    snapshot diff and PSI must report."""
    rng = np.random.default_rng([seed, variant])
    shift = 1.15 if variant else 1.0
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_ORDERS // 10, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(
            rng.choice(["F", "O", "P"], N_ORDERS,
                       p=[0.4, 0.5, 0.1] if variant else [0.5, 0.4, 0.1]),
            pa.string()),
        "o_totalprice": pa.array(_money(rng, 1_000, 500_000, N_ORDERS), pa.float64()),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2_405, N_ORDERS) * _US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS), pa.string()),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, N_LINEITEM)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM), pa.string()),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2_499, N_LINEITEM) * _US_PER_DAY),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))),
        "user_id": pa.array(rng.integers(0, 1_500, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0 * shift, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
                          pa.string()),
    })
    return {"events": events, "lineitem": lineitem, "orders": orders}


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


class _Clusters:
    """Unit vectors drawn around N_CLUSTERS fixed centres, the sf0.1
    embedding shape (64-d, unit norm, 10 labels) with real cluster
    structure so that an IVF probe has lists worth choosing between."""

    def __init__(self, rng):
        self.rng = rng
        self.centres = _unit(rng.normal(size=(N_CLUSTERS, DIM)))

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        labels = self.rng.integers(0, N_CLUSTERS, n)
        noise = self.rng.normal(scale=0.7 / np.sqrt(DIM), size=(n, DIM))
        return _unit(self.centres[labels] + noise), labels


def _vectors_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def write_monitor_inputs(root: str, seed: int) -> dict:
    """Two lake variants, and a small document corpus for the curation
    stages a traced run forces at its end."""
    for variant in (0, 1):
        d = os.path.join(root, f"lake{variant}")
        os.makedirs(d)
        for name, table in lake_tables(seed, variant).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    corpus = os.path.join(root, "corpus")
    os.makedirs(corpus)
    pq.write_table(_documents(np.random.default_rng([seed, 5]), N_STAGE_DOCS),
                   os.path.join(corpus, "documents.parquet"))
    return {"lakes": [os.path.join(root, f"lake{v}") for v in (0, 1)], "corpus": corpus}


def write_serve_inputs(root: str, seed: int, n_passes: int) -> dict:
    """Corpus (vectors + documents sharing one id space, as in sf0.1),
    one ingest micro-batch file per pass, per-pass query batches, and
    the one hybrid-RRF batch a traced run makes after its passes.
    Query ids sit above every corpus id: the index search skips a
    neighbour whose id equals the query's."""
    rng = np.random.default_rng([seed, 7])
    gen = _Clusters(rng)
    vecs, labels = gen.draw(N_VECTORS)
    corpus = _vectors_table(np.arange(N_VECTORS), vecs).append_column(
        "label", pa.array(labels, pa.int32()))
    pq.write_table(corpus, os.path.join(root, "embeddings.parquet"))
    pq.write_table(_documents(rng, N_VECTORS), os.path.join(root, "documents.parquet"))
    ingest = []
    for p in range(n_passes):
        ids = N_VECTORS + p * INGEST_BATCH + np.arange(INGEST_BATCH)
        ingest.append(os.path.join(root, f"arriving{p:03d}.parquet"))
        pq.write_table(_vectors_table(ids, gen.draw(INGEST_BATCH)[0]), ingest[-1])
    qid = iter(range(1_000_000, 2_000_000))

    def batch(n: int) -> dict:
        return {"ids": [next(qid) for _ in range(n)], "vecs": gen.draw(n)[0].tolist(),
                "terms": [list(rng.choice(WORDS[1:], 3, replace=False)) for _ in range(n)]}

    batches = [{"search": batch(SEARCH_BATCH), "mmr": batch(RERANK_BATCH)}
               for _p in range(n_passes)]
    return {"corpus": root, "ingest": ingest, "queries": batches, "rrf": batch(RERANK_BATCH)}
