"""Seeded input generation for the benchmark workloads.

Every input a workload reads is generated here from the run's seed and
cached on disk under ``<cache>/<workload>-<seed>-<version>/``, together
with the references its operations are checked against
(reference.prepare). ``<version>`` hashes the code that shapes inputs and
references, so an edit to it never reuses a stale cache. The same seed
always gives byte-identical inputs, and generation is never part of a
timed interval or of ``setup_s``. The package under test only ever sees
the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import zlib
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import params as P
from params import (
    BASE_DOCS, CROSS_NATION_SHARE, CYPHER_PARAM_SETS,
    EMB_DIM, ISOLATED_SHARE, LANGS, LINKS_PER_CUSTOMER, N_CUSTOMERS, N_EMBEDDINGS,
    N_LABELS, N_NATIONS, N_ORDERS, N_REGIONS, NEAR_DUP_SHARE, REPLICAS,
)

HERE = os.path.dirname(os.path.abspath(__file__))

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = {
    "en": "the a of and to in is that it for data spark graph query table stream "
    "value order scan join batch model vector cluster node edge",
    "de": "der die das und ist nicht ein zu mit den daten abfrage tabelle strom "
    "wert knoten kante modell",
    "fr": "le la les et est un une des que pour donnees requete table flux valeur "
    "noeud arete modele",
    "es": "el la los las y es un una que por datos consulta tabla flujo valor "
    "nodo arista modelo",
}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _orders(rng, n: int, n_customers: int) -> dict:
    base = datetime(1995, 1, 1)
    days = rng.integers(0, 2400, n)
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(
            [base + timedelta(days=int(d)) for d in days], pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    }


def _embeddings(rng, n: int) -> dict:
    """Unit vectors around one planted centre per label."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def _graph_iterative(rng, d: str) -> dict:
    n = N_CUSTOMERS
    nation = rng.integers(0, N_NATIONS, n).astype(np.int32)
    _write(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": nation,
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        },
        os.path.join(d, "customer.parquet"),
    )
    _write(_orders(rng, N_ORDERS, n), os.path.join(d, "orders.parquet"))
    _write(_embeddings(rng, N_EMBEDDINGS), os.path.join(d, "embeddings.parquet"))

    # customer links: mostly inside the nation, some across nations of the
    # same region, none across regions; a few customers stay isolated
    by_nation = [np.flatnonzero(nation == k) for k in range(N_NATIONS)]
    region_of = np.arange(N_NATIONS) % N_REGIONS
    linked = rng.random(n) >= ISOLATED_SHARE
    src, dst = [], []
    for c in np.flatnonzero(linked):
        for _ in range(LINKS_PER_CUSTOMER):
            nat = nation[c]
            if rng.random() < CROSS_NATION_SHARE:
                same = np.flatnonzero(region_of == region_of[nat])
                nat = same[rng.integers(0, len(same))]
            pool = by_nation[nat]
            t = pool[rng.integers(0, len(pool))]
            if t != c and linked[t]:
                src.append(c)
                dst.append(t)
    pairs = np.unique(np.array([src, dst], dtype=np.int64).T, axis=0)
    _write({"src": pairs[:, 0], "dst": pairs[:, 1]}, os.path.join(d, "links.parquet"))

    households = _households(rng)
    _write(
        {"src": households[:, 0], "dst": households[:, 1]},
        os.path.join(d, "households.parquet"),
    )

    params = [
        {
            "custkey": int(rng.integers(0, n)),
            "nation": int(rng.integers(0, N_NATIONS)),
            "min_price": float(np.round(rng.uniform(300_000, 480_000), 2)),
            "lo_bal": float(np.round(rng.uniform(0, 9000), 2)),
        }
        for _ in range(CYPHER_PARAM_SETS)
    ]
    return {
        "customers": n,
        "orders": N_ORDERS,
        "embeddings": N_EMBEDDINGS,
        "links": int(len(pairs)),
        "household_edges": int(len(households)),
        "cypher_params": params,
        **_lake(rng, d),
    }


def _households(rng) -> np.ndarray:
    """(src, dst) pairs, src < dst, of disjoint cliques over the first
    HOUSEHOLD_CUSTOMERS customers in seeded random groups."""
    ids = rng.permutation(P.HOUSEHOLD_CUSTOMERS)
    lo, hi = P.HOUSEHOLD_SIZES
    pairs, start = [], 0
    while start < len(ids):
        group = np.sort(ids[start : start + int(rng.integers(lo, hi + 1))])
        start += len(group)
        pairs += [(a, b) for i, a in enumerate(group) for b in group[i + 1 :]]
    return np.array(sorted(pairs), dtype=np.int64)


def _lake(rng, d: str) -> dict:
    """The lakehouse table's initial rows and its seeded write batches."""
    o = _orders(rng, P.LAKE_ROWS, N_CUSTOMERS)
    _write({c: o[c] for c in ("o_orderkey", "o_custkey", "o_totalprice")},
           os.path.join(d, "lake_orders.parquet"))
    _write(_lake_batches(rng), os.path.join(d, "lake_batches.parquet"))
    return {"lake_rows": P.LAKE_ROWS, "lake_batch_sets": P.LAKE_PASSES}


def _lake_batches(rng) -> dict:
    """The seeded write batches of the lakehouse table, LAKE_PASSES sets:
    per set a narrow upsert (updates of recently written keys plus new
    keys, applied to every format) and a wide update of the keys below
    WIDE_KEYS (Delta)."""
    cols = {"pass": [], "batch": [], "o_orderkey": [], "o_custkey": [], "o_totalprice": []}

    def add(p, batch, keys):
        n = len(keys)
        cols["pass"] += [p] * n
        cols["batch"] += [batch] * n
        cols["o_orderkey"] += [int(k) for k in keys]
        cols["o_custkey"] += rng.integers(0, N_CUSTOMERS, n).tolist()
        cols["o_totalprice"] += np.round(rng.uniform(900.0, 500_000.0, n), 2).tolist()

    top = P.LAKE_ROWS - 1  # newest key so far
    for p in range(P.LAKE_PASSES):
        recent = np.arange(top - P.RECENT_KEYS + 1, top + 1)
        updates = np.sort(rng.choice(recent, P.NARROW_UPDATES, replace=False))
        add(p, "narrow", [*updates, *range(top + 1, top + 1 + P.NARROW_INSERTS)])
        top += P.NARROW_INSERTS
        add(p, "wide", np.arange(P.WIDE_KEYS))
    return {
        "pass": np.array(cols["pass"], dtype=np.int32),
        "batch": cols["batch"],
        "o_orderkey": np.array(cols["o_orderkey"], dtype=np.int64),
        "o_custkey": np.array(cols["o_custkey"], dtype=np.int64),
        "o_totalprice": np.array(cols["o_totalprice"], dtype=np.float64),
    }


def _sentence(rng, lang: str, n_words: int) -> list[str]:
    """Words of one language with a sprinkle of shared technical terms."""
    own = VOCAB[lang].split()
    shared = VOCAB["en"].split()[10:]
    pick = rng.random(n_words) < 0.8
    return [
        own[rng.integers(0, len(own))] if p else shared[rng.integers(0, len(shared))]
        for p in pick
    ]


def _near_copy(rng, words: list[str], lang: str) -> list[str]:
    """Replace ~5% of the words: Jaccard over 3-shingles stays high."""
    out = list(words)
    own = VOCAB[lang].split()
    for i in rng.choice(len(out), max(1, len(out) // 20), replace=False):
        out[i] = own[rng.integers(0, len(own))] + "x"
    return out


def _corpus_batch(rng, d: str) -> dict:
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), BASE_DOCS)]
    base = [_sentence(rng, lg, int(rng.integers(40, 120))) for lg in langs]
    n_dup = int(BASE_DOCS * NEAR_DUP_SHARE)
    planted = []
    for i in sorted(rng.choice(np.arange(1, BASE_DOCS), n_dup, replace=False)):
        j = int(rng.integers(0, i))  # a copy of an earlier document
        langs[i] = langs[j]
        base[i] = _near_copy(rng, base[j], langs[j])
        planted.append([j, int(i)])
    ids, texts, doc_langs = [], [], []
    for r in range(REPLICAS):
        for i, words in enumerate(base):
            # replica r prefixes every token, so shingles never collide
            # across replicas (bench_scale.build_scale_corpus)
            ws = words if r == 0 else [f"x{r}{w}" for w in words]
            ids.append(r * 1_000_000 + i)
            texts.append(" ".join(ws))
            doc_langs.append(langs[i])
    _write(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "lang": doc_langs,
            "source": [f"src{i % 7}" for i in range(len(ids))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        os.path.join(d, "documents.parquet"),
    )

    # embeddings: replicas sign-flipped per coordinate (cosines kept inside
    # a replica, scrambled across replicas), as bench_scale does
    e = _embeddings(rng, BASE_DOCS)
    vecs = np.stack(e["embedding"].to_numpy(zero_copy_only=False))
    all_ids, all_vecs, all_labels = [], [], []
    for r in range(REPLICAS):
        sign = 1.0 - 2.0 * ((np.arange(EMB_DIM) * 7 + r * 13) % 2) if r else 1.0
        all_ids.append(np.arange(BASE_DOCS, dtype=np.int64) + r * 1_000_000)
        all_vecs.append((vecs * sign).astype(np.float32))
        all_labels.append(e["label"])
    _write(
        {
            "vec_id": np.concatenate(all_ids),
            "embedding": pa.array(list(np.concatenate(all_vecs)), pa.list_(pa.float32())),
            "label": np.concatenate(all_labels),
        },
        os.path.join(d, "embeddings.parquet"),
    )
    queries = sorted(int(q) for q in rng.choice(BASE_DOCS * REPLICAS, P.QUERY_VECTORS, replace=False))
    _write(_images(rng), os.path.join(d, "images.parquet"))
    return {
        "documents": len(ids),
        "base_documents": BASE_DOCS,
        "replicas": REPLICAS,
        "near_dup_share": NEAR_DUP_SHARE,
        "planted_pairs": [[r * 1_000_000 + a, r * 1_000_000 + b] for r in range(REPLICAS) for a, b in planted],
        "embeddings": BASE_DOCS * REPLICAS,
        "query_vector_ids": [(q // BASE_DOCS) * 1_000_000 + q % BASE_DOCS for q in queries],
        "images": P.N_IMAGES,
        **_lake(rng, d),
    }


def _images(rng) -> dict:
    """Raw 8-bit grayscale images: a seeded gradient plus noise, so the
    resized statistics differ from image to image."""
    side = P.IMAGE_SIDE
    ramp = np.add.outer(np.arange(side), np.arange(side)).astype(np.float64)
    scale = rng.uniform(0.5, 4.0, P.N_IMAGES)
    noise = rng.normal(0.0, 20.0, (P.N_IMAGES, side, side))
    imgs = np.clip(ramp[None] * scale[:, None, None] + noise, 0, 255).astype(np.uint8)
    meta = pa.StructArray.from_arrays(
        [pa.array([side] * P.N_IMAGES, pa.int32()), pa.array([side] * P.N_IMAGES, pa.int32()),
         pa.array([1] * P.N_IMAGES, pa.int32()), pa.array(["raw"] * P.N_IMAGES)],
        ["height", "width", "channels", "format"],
    )
    return {
        "image_id": np.arange(P.N_IMAGES, dtype=np.int64),
        "content": pa.array([im.tobytes() for im in imgs], pa.binary()),
        "meta": meta,
    }


GENERATORS = {
    "graph_iterative": _graph_iterative,
    "corpus_batch": _corpus_batch,
}


def version() -> str:
    """Hash of everything that shapes a cached input directory: this file,
    params.py, reference.py and the package's query modules, which hold
    the ORACLE SQL the references run."""
    queries = os.path.join(os.path.dirname(HERE), "graph_db_clustering_spark", "queries")
    paths = [os.path.join(HERE, n) for n in ("inputs.py", "params.py", "reference.py")]
    paths += sorted(os.path.join(queries, f) for f in os.listdir(queries) if f.endswith(".py"))
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_inputs(cache_dir: str, workload: str, seed: int) -> str:
    """Generate one workload's inputs and references for ``seed`` unless
    they are cached; returns their directory. A crash mid-generation
    leaves only a temp dir, which the next call replaces."""
    import reference

    d = os.path.join(cache_dir, f"{workload}-{seed}-{version()}")
    if os.path.exists(os.path.join(d, REFERENCES)):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = GENERATORS[workload](_rng(workload, seed), tmp)
    info["seed"] = seed
    # the q01 control scan of bench.py reads this table
    _write(
        {"r_regionkey": np.arange(5, dtype=np.int32),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        os.path.join(tmp, "region.parquet"),
    )
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f)
    with open(os.path.join(tmp, REFERENCES), "wb") as f:
        pickle.dump(reference.prepare(workload, tmp, info), f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def manifest(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "manifest.json")) as f:
        return json.load(f)


def references(input_dir: str) -> dict:
    # written by ensure_inputs of this benchmark, never taken from outside
    with open(os.path.join(input_dir, REFERENCES), "rb") as f:
        return pickle.load(f)


REFERENCES = "references.pkl"

if __name__ == "__main__":
    # run.py runs this to completion before it configures its session, so
    # generation and the references never share the CPU with a timed
    # interval; the last stdout line is the input directory
    import sys

    sys.path.insert(0, os.path.dirname(HERE))
    print(ensure_inputs(sys.argv[1], sys.argv[2], int(sys.argv[3])), flush=True)
