"""The benchmark's workloads, as fixed seeded sequences of operations.

Each workload has a ``build`` (the set-up: its input tables, graphs and
lakehouse tables) and ``pass_ops(p)``: the fixed operation sequence of pass ``p``. The runner
times each operation's ``run``, which calls only the package's public
functions (or a declared ``queries`` callable that wraps them) and
delivers the result to the driver, and then, outside the timed interval,
calls its ``check`` against references computed from the generated files
or against the in-memory model of the table it read.

Both workloads also keep an orders-shaped lakehouse table and apply
seeded write batches to it every pass, reading each write back:
graph_iterative in Iceberg, corpus_batch in Delta and Hudi
MERGE_ON_READ, whose reads decode deletion vectors and Avro log blocks
in Python on the executors. Those commits and reads are the write and
read operations behind ``write_p50_s``, ``read_p50_s`` and
``stored_bytes_ratio``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import params as P
import reference as ref
from graph_db_clustering_spark.cypher import CypherSession
from graph_db_clustering_spark.operators import (
    classify,
    dedup,
    graph_algos,
    kmeans,
    multimodal,
    similarity,
    text,
)
from graph_db_clustering_spark.operators.graph import Graph
from graph_db_clustering_spark.sources import delta, hudi, hudi_mor, iceberg

KIND_COMPUTE, KIND_WRITE, KIND_READ = "compute", "write", "read"
LAKE_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], object]
    check: Callable[[object], None]


def data_files(path: str, skip: tuple = ()) -> dict:
    """File -> size under ``path``, leaving out directories named in
    ``skip`` (a table format's metadata)."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            if not f.endswith(".crc"):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _summary(df, key: str, value: str) -> tuple:
    """(count, key sum, sum of value rounded to cents) in one job."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(key),
        F.sum(F.round(F.col(value) * 100).cast("long")),
    ).collect()[0]
    return tuple(row)


# per format: table directory, metadata directories, span prefix
LAKE = {
    "delta": ("lake_delta", ("_delta_log",), "sources.delta"),
    "hudi": ("lake_hudi", (".hoodie",), "sources.hudi_mor"),
    "iceberg": ("lake_iceberg", ("metadata",), "sources.iceberg"),
}


class Workload:
    name = ""
    formats: tuple = ()  # lakehouse formats the workload keeps its table in

    def __init__(self, spark, tracer, input_dir: str, manifest: dict, refs: dict, state_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.input_dir = input_dir
        self.manifest = manifest
        self.refs = refs
        self.state_dir = state_dir
        self.tables: dict = {}  # table root -> (TableModel, plain-parquet schema)

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.input_dir, f"{name}.parquet"))

    def span(self, name: str):
        return self.tracer.span(name)

    def stored_bytes_ratio(self) -> float:
        """Bytes under every table root over the bytes of the same live
        rows written once as plain parquet (from the tables' models):
        space amplification."""
        plain = os.path.join(self.state_dir, "plain.parquet")
        stored = written = 0
        for root, (model, names) in self.tables.items():
            keys = np.fromiter(model.rows, dtype=np.int64, count=len(model.rows))
            cents = np.fromiter(model.rows.values(), dtype=np.int64, count=len(keys))
            cols = {names[0]: keys, names[-1]: cents / 100.0}
            if len(names) == 3:
                cols[names[1]] = np.fromiter(
                    (model.aux.get(int(k), 0) for k in keys), dtype=np.int64, count=len(keys)
                )
            pq.write_table(pa.table({n: cols[n] for n in names}), plain)
            written += os.path.getsize(plain)
            stored += dir_bytes(root)
        os.remove(plain)
        return stored / written

    def traced_counts(self) -> None:
        """Counts only a traced run takes, after the timed loop."""

    def traced_ops(self) -> list[Op]:
        """Checked operations only a traced run makes, after the timed
        loop: their layers are measured, but they are not in the pass
        (the driver's run budget does not hold them)."""
        return []

    # -- publishing results -------------------------------------------------

    def publish_ops(self, label: str, pdf: Callable[[], pd.DataFrame], id_col: str, value: str) -> list[Op]:
        """Append one result, (id, value) rows of ``pdf()``, to the Delta
        results table with delta_append, then read that commit back
        through file pruning: keys are op seq * RESULT_KEY_STRIDE + id, so
        every commit covers its own key range."""
        root = os.path.join(self.state_dir, "results_delta")
        if root not in self.tables:
            self.tables[root] = (ref.TableModel(), ["rk", "v"])
        model = self.tables[root][0]
        seq = {}

        def write():
            src = pdf()
            rows = pd.DataFrame({
                "rk": src[id_col].astype("int64") + self.tracer.op_seq * P.RESULT_KEY_STRIDE,
                "v": np.round(src[value].astype("float64"), 2),
            })
            seq["lo"], seq["rows"] = self.tracer.op_seq * P.RESULT_KEY_STRIDE, rows
            before = data_files(root, ("_delta_log",)) if self.tracer.traced else None
            with self.span("sources.delta.commit"):
                delta.delta_append(self.spark, self.spark.createDataFrame(rows), root, stats_cols=["rk"])
            if before is not None:
                self.count_commit("delta", root, before, rows, ("_delta_log",))

        def read():
            lo, hi = seq["lo"], seq["lo"] + P.RESULT_KEY_STRIDE - 1
            with self.span("sources.delta.read_plan"):
                df, kept, skipped = delta.read_delta_pruned(self.spark, root, "rk", lo, hi)
            self.tracer.count("sources.delta.pruned_kept_frac", kept / max(1, kept + skipped))
            with self.span("sources.delta.scan"):
                return _summary(df.filter(F.col("rk").between(lo, hi)), "rk", "v")

        def check_read(got):
            lo = seq["lo"]
            ref.check_summary(got, model, f"{label} results", lo, lo + P.RESULT_KEY_STRIDE - 1)

        return [
            Op(f"{label}.publish", KIND_WRITE, write,
               lambda _: model.upsert(seq["rows"]["rk"], seq["rows"]["v"])),
            Op(f"{label}.read_back", KIND_READ, read, check_read),
        ]

    def count_commit(self, fmt: str, root: str, before: dict, user_rows: pd.DataFrame, skip: tuple):
        """files_per_commit and bytes_written_per_user_byte of one commit
        (traced runs only: listing the table is not free)."""
        new = {f: n for f, n in data_files(root, skip).items() if f not in before}
        user = int(user_rows.memory_usage(index=False).sum())
        self.tracer.count(f"sources.{fmt}.files_per_commit", len(new))
        self.tracer.count(f"sources.{fmt}.bytes_written_per_user_byte", sum(new.values()) / user)

    # -- the lakehouse table ------------------------------------------------

    def build_lake(self) -> None:
        """The orders-shaped table in each of the workload's formats, one
        creating commit each, from LAKE_FILES key ranges."""
        self.lake = {fmt: os.path.join(self.state_dir, LAKE[fmt][0]) for fmt in self.formats}
        base = self.table("lake_orders").repartitionByRange(P.LAKE_FILES, "o_orderkey")
        if "delta" in self.lake:
            delta.delta_append(self.spark, base, self.lake["delta"], stats_cols=["o_orderkey"])
        if "hudi" in self.lake:
            hudi.hudi_create(
                self.spark, base, self.lake["hudi"], "o_orderkey",
                n_file_groups=P.LAKE_FILES, table_type="MERGE_ON_READ",
            )
        if "iceberg" in self.lake:
            iceberg.write_iceberg(
                self.spark, base, self.lake["iceberg"],
                partition_by=[("okey_trunc", f"truncate[{P.LAKE_ROWS // P.LAKE_FILES}]", "o_orderkey")],
            )
        t = pd.read_parquet(os.path.join(self.input_dir, "lake_orders.parquet"))
        self.models = {}
        for fmt, root in self.lake.items():
            model = ref.TableModel(t["o_orderkey"], t["o_totalprice"])
            model.aux = dict(zip(t["o_orderkey"].tolist(), t["o_custkey"].tolist()))
            self.models[fmt] = model
            self.tables[root] = (model, LAKE_COLS)
        batches = pd.read_parquet(os.path.join(self.input_dir, "lake_batches.parquet"))
        self.batches = {
            (int(p), b): g[LAKE_COLS].reset_index(drop=True)
            for (p, b), g in batches.groupby(["pass", "batch"])
        }

    def lake_ops(self, p: int) -> list[Op]:
        """One pass of writes and reads on the lakehouse table, with batch
        set p % LAKE_PASSES. Pruned reads cover the narrow batch's key
        range (recent keys), and Iceberg's also the first file's; the
        Iceberg snapshot and the Delta change feed cover the rest. Every
        read is checked against the format's model or the batches
        written."""
        q = p % P.LAKE_PASSES
        narrow, wide = self.batches[(q, "narrow")], self.batches[(q, "wide")]
        recent = (int(narrow["o_orderkey"].min()), int(narrow["o_orderkey"].max()))
        ops = []
        if "delta" in self.lake:
            log = os.path.join(self.lake["delta"], "_delta_log")
            first_version = max(int(f[:20]) for f in os.listdir(log) if f.endswith(".json")) + 1
            ops += [
                self._merge_op("delta", narrow, "dv"),
                self._read_op("delta", recent),
                self._merge_op("delta", wide, "rewrite"),
                self._changes_op(first_version, [narrow, wide]),
                Op("delta.checkpoint", KIND_WRITE,
                   lambda: delta.delta_checkpoint(self.lake["delta"]), lambda _: None),
            ]
        if "hudi" in self.lake:
            ops += [
                self._merge_op("hudi", narrow),
                Op("hudi.log_compact", KIND_WRITE, self._hudi_log_compact, lambda _: None),
                self._read_op("hudi", recent),
            ]
        if "iceberg" in self.lake:
            ops += [
                self._merge_op("iceberg", narrow),
                self._read_op("iceberg", recent),
                self._read_op("iceberg", (0, P.LAKE_ROWS // P.LAKE_FILES - 1)),
                self._read_op("iceberg", None),
            ]
        return ops

    def _commit(self, fmt: str, rows: pd.DataFrame, write: Callable[[], object], extra_span=None):
        root = self.lake[fmt]
        skip, prefix = LAKE[fmt][1], LAKE[fmt][2]
        before = data_files(root, skip) if self.tracer.traced else None
        with self.span(f"{prefix}.commit"):
            if extra_span:
                with self.span(extra_span):
                    out = write()
            else:
                out = write()
        if before is not None:
            self.count_commit(prefix.split(".")[1], root, before, rows, skip)
            if fmt == "hudi":
                self.tracer.count("sources.hudi_mor.live_log_blocks", self.live_log_files())
        return out

    def _merge_op(self, fmt: str, rows: pd.DataFrame, strategy: str | None = None) -> Op:
        """Upsert ``rows``: delta_merge (``strategy`` is the path the
        batch must take), hudi_upsert or iceberg_merge."""
        model = self.models[fmt]
        path = self.lake[fmt]

        def run():
            src = self.spark.createDataFrame(rows)
            inserted = sum(int(k) not in model.rows for k in rows["o_orderkey"])
            if fmt == "delta":
                out = self._commit(fmt, rows, lambda: delta.delta_merge(
                    self.spark, path, src, "o_orderkey", dv_threshold=P.DV_THRESHOLD,
                ), f"sources.delta.merge_{'dv' if strategy == 'dv' else 'cow'}")
            elif fmt == "hudi":
                out = self._commit(fmt, rows, lambda: hudi.hudi_upsert(self.spark, path, src))
            else:
                out = self._commit(fmt, rows, lambda: iceberg.iceberg_merge(
                    self.spark, path, src, "o_orderkey"))
            return out, inserted

        def check(result):
            out, inserted = result
            if fmt != "hudi":
                ref.expect(out["n_inserted"] == inserted, f"{fmt} merge: {out['n_inserted']} inserted, expected {inserted}")
                ref.expect(out["n_updated"] == len(rows) - inserted, f"{fmt} merge: {out['n_updated']} updated")
            if strategy:
                ref.expect(out["strategy"] == strategy, f"delta merge took {out['strategy']}, expected {strategy}")
            model.upsert(rows["o_orderkey"], rows["o_totalprice"])
            model.aux.update(zip(rows["o_orderkey"].tolist(), rows["o_custkey"].tolist()))

        kind = f".merge_{strategy}" if strategy else ".upsert" if fmt == "hudi" else ".merge"
        return Op(f"{fmt}{kind}", KIND_WRITE, run, check)

    def _hudi_log_compact(self):
        with self.span("sources.hudi_mor.log_compact"):
            # every upserted slice has one new log file: compact those
            return hudi_mor.hudi_log_compact(self.spark, self.lake["hudi"], min_log_files=1)

    def live_log_files(self) -> int:
        """Log files in the Hudi table's latest file slices (the newest
        base file of each file group): the logs a snapshot read merges
        into its base files. The table is unpartitioned, so every file
        sits at its root."""
        names = os.listdir(self.lake["hudi"])
        latest: dict = {}  # file id -> newest base instant
        for f in names:
            if f.endswith(".parquet"):
                fid, instant = f.split("_")[0], f.rsplit("_", 1)[1].split(".")[0]
                latest[fid] = max(latest.get(fid, ""), instant)
        return sum(
            1 for f in names
            if ".log." in f and tuple(f[1:].split(".log.")[0].split("_", 1)) in latest.items()
        )

    def _read_op(self, fmt: str, rng: tuple | None) -> Op:
        """A pruned read of key range ``rng`` (a full snapshot when None),
        summarised and checked against the format's model."""
        path, prefix = self.lake[fmt], LAKE[fmt][2]

        def run():
            with self.span(f"{prefix}.read_plan"):
                if rng is None:
                    df, kept, skipped = iceberg.read_iceberg(self.spark, path), 1, 0
                elif fmt == "delta":
                    df, kept, skipped = delta.read_delta_pruned(self.spark, path, "o_orderkey", *rng)
                elif fmt == "hudi":
                    df, kept, skipped = hudi.read_hudi_pruned(self.spark, path, "o_orderkey", *rng)
                else:
                    df, kept, skipped = iceberg.read_iceberg_pruned(self.spark, path, "o_orderkey", *rng)
            if rng is not None:
                self.tracer.count(f"{prefix}.pruned_kept_frac", kept / max(1, kept + skipped))
                df = df.filter(F.col("o_orderkey").between(*rng))
            with self.span(f"{prefix}.scan"):
                return _summary(df, "o_orderkey", "o_totalprice")

        lo, hi = rng if rng else (None, None)
        return Op(f"{fmt}.read{'_pruned' if rng else ''}", KIND_READ, run,
                  lambda got: ref.check_summary(got, self.models[fmt], f"{fmt} read", lo, hi))

    def _changes_op(self, first_version: int, frames: list) -> Op:
        """The Delta change feed of this pass's merges: its inserted and
        post-update rows are exactly the batches written."""

        def run():
            with self.span("streaming.cdf_read"):
                ch = delta.delta_table_changes(self.spark, self.lake["delta"], first_version)
                return _summary(
                    ch.filter(F.col("_change_type").isin("insert", "update_postimage")),
                    "o_orderkey", "o_totalprice",
                )

        def check(got):
            exp = ref.batch_summary([(f["o_orderkey"], f["o_totalprice"]) for f in frames])
            ref.expect(tuple(int(x or 0) for x in got) == exp, f"delta change feed: read {got}, wrote {exp}")

        return Op("delta.changes", KIND_READ, run, check)


# ---------------------------------------------------------------------------
# graph_iterative
# ---------------------------------------------------------------------------

class GraphIterative(Workload):
    name = "graph_iterative"
    formats = ("iceberg",)

    def build(self) -> None:
        cust = self.table("customer")
        orders = self.table("orders")
        self.emb = self.table("embeddings")
        links = self.table("links")
        homes = self.table("households")
        self.links = Graph(cust.select(F.col("c_custkey").alias("id")), links)
        self.homes = Graph(
            homes.select(F.col("src").alias("id"))
            .union(homes.select(F.col("dst").alias("id")))
            .distinct(),
            homes,
        )
        c = cust.select(
            F.col("c_custkey").alias("id"),
            F.lit("Customer").alias("label"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
        )
        o = orders.select(
            (F.col("o_orderkey") + P.ORDER_ID_OFFSET).alias("id"),
            F.lit("Order").alias("label"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
        e = orders.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") + P.ORDER_ID_OFFSET).alias("dst"),
            F.lit("PLACED").alias("relationship"),
            F.col("o_orderkey").alias("eid"),
        )
        self.cypher = CypherSession(Graph(c.unionByName(o, allowMissingColumns=True), e))
        self.build_lake()

    def pass_ops(self, p: int) -> list[Op]:
        r = self.refs

        last = {}

        def fit():
            with self.span("operators.kmeans.fit"):
                res = kmeans.fit(self.emb, k=P.KMEANS_K, max_iter=P.KMEANS_MAX_ITER)
            self.tracer.count("operators.kmeans.iterations", res.iterations)
            purity = kmeans.purity_scores(res.assignments, self.emb, "vec_id", "label")
            last["kmeans"] = res.assignments.select("id", "cid").toPandas()
            purity.toPandas()
            return last["kmeans"]

        def pagerank():
            with self.span("operators.graph_algos.pagerank"):
                last["pagerank"] = graph_algos.pagerank(self.links, max_iter=P.PAGERANK_MAX_ITER).toPandas()
            return last["pagerank"]

        def components():
            with self.span("operators.graph_algos.connected_components"):
                last["components"] = graph_algos.connected_components(self.homes).toPandas()
            return last["components"]

        def louvain():
            with self.span("operators.graph_algos.louvain"):
                last["louvain"] = graph_algos.louvain(
                    self.homes, max_sweeps=P.LOUVAIN_MAX_SWEEPS, max_levels=P.LOUVAIN_MAX_LEVELS
                ).toPandas()
            return last["louvain"]

        ops = [
            Op("kmeans.fit", KIND_COMPUTE, fit,
               lambda pdf: ref.check_kmeans(pdf, r["kmeans_ids"], r["kmeans"])),
            *self.publish_ops("kmeans", lambda: last["kmeans"], "id", "cid"),
            Op("graph_algos.pagerank", KIND_COMPUTE, pagerank,
               lambda pdf: ref.check_pagerank(pdf, r["pagerank"])),
            *self.publish_ops("pagerank", lambda: last["pagerank"].assign(
                rank=last["pagerank"]["rank"] * 1e6), "id", "rank"),
            Op("graph_algos.connected_components", KIND_COMPUTE, components,
               lambda pdf: ref.check_labels(pdf, "component", r["households"], "components")),
            *self.publish_ops("components", lambda: last["components"], "id", "component"),
            Op("graph_algos.louvain", KIND_COMPUTE, louvain,
               lambda pdf: ref.check_labels(pdf, "community", r["households"], "louvain")),
            *self.publish_ops("louvain", lambda: last["louvain"], "id", "community"),
        ]
        n = len(self.manifest["cypher_params"])
        ops += [self._cypher_op((p * P.CYPHER_PER_PASS + j) % n) for j in range(P.CYPHER_PER_PASS)]
        return ops + self.lake_ops(p)

    def _cypher_op(self, i: int) -> Op:
        query, _ = P.CYPHER[i % len(P.CYPHER)]
        params = self.manifest["cypher_params"][i]

        def run():
            with self.span("cypher.compile"):
                df = self.cypher.run(query, **params)
            with self.span("cypher.execute"):
                return df.toPandas()

        return Op("cypher.run", KIND_COMPUTE, run,
                  lambda pdf: ref.check_rows(pdf, self.refs["cypher"][i], f"cypher[{i}]"))

# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------


class CorpusBatch(Workload):
    name = "corpus_batch"
    formats = ("delta", "hudi")

    def build(self) -> None:
        self.docs = self.table("documents")
        self.images = self.table("images")
        # near_dups_against runs on the base documents: their even ids
        # are the indexed history, built here once per set-up and held by
        # the executors (localCheckpoint) as a long-running batch service
        # holds it; their odd ids are the new batch
        base = self.docs.filter(F.col("doc_id") < 1_000_000)
        buckets, shingles = dedup.build_band_index(
            base.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", cache=True
        )
        self.band_buckets, self.band_shingles = buckets.localCheckpoint(), shingles.localCheckpoint()
        dedup.release_index_cache()
        self.batch = base.filter(F.col("doc_id") % 2 == 1)
        self.build_lake()

    def traced_counts(self) -> None:
        """Kept pairs per LSH candidate pair: the useful-to-attempted
        ratio of minhash_dedup's verify join."""
        sh = dedup.with_hashed_shingles(self.docs.select("doc_id", "text"), "text").select(
            "doc_id", "hshingles"
        )
        candidates = dedup.lsh_candidate_pairs(
            dedup.with_minhash_signature(sh, "hshingles"), "doc_id"
        ).count()
        kept = dedup.minhash_dedup(self.docs, "doc_id", "text", threshold=P.DEDUP_THRESHOLD).count()
        self.tracer.count("operators.dedup.verified_per_candidate", kept / max(1, candidates))

    def traced_ops(self) -> list[Op]:
        """Naive Bayes on the declared nb_language split, and IVF-PQ
        search against an index built here (untimed) and held by the
        executors (localCheckpoint)."""
        r = self.refs
        emb = self.table("embeddings")
        model, codes = similarity.ivfpq_build(emb, cells=P.IVFPQ_CELLS, m=P.IVFPQ_M, codes=P.IVFPQ_CODES)
        codes = codes.localCheckpoint()
        queries = emb.filter(F.col("vec_id").isin(self.manifest["query_vector_ids"]))

        def naive_bayes():
            # the split and projection of the declared nb_language query
            train = self.docs.filter(F.col("doc_id") % 2 == 0)
            test = self.docs.filter(F.col("doc_id") % 2 == 1)
            with self.span("operators.classify.nb_train"):
                tm, lm = classify.nb_train(train, "doc_id", "text", "lang")
            with self.span("operators.classify.nb_score"):
                return (
                    classify.nb_score(test, tm, lm, "doc_id", "text")
                    .select("doc_id", "label", F.round("logscore", 4).alias("logscore"))
                    .orderBy("doc_id", "label")
                    .toPandas()
                )

        def ann():
            with self.span("operators.similarity.ivfpq_search"):
                pdf = similarity.ivfpq_search(queries, model, codes, emb, k=P.IVFPQ_K).toPandas()
            return pdf.rename(columns={"qid": "query_id", "nid": "id", "cosine": "score"})

        return [
            Op("classify.nb_train_score", KIND_COMPUTE, naive_bayes,
               lambda pdf: ref.check_rows(pdf, r["oracle"]["nb_language"], "nb_language")),
            Op("similarity.ivfpq_search", KIND_COMPUTE, ann, lambda pdf: self.tracer.count(
                "operators.similarity.ivfpq_recall",
                ref.check_ivfpq(pdf, r["vec_ids"], r["unit_vecs"], P.IVFPQ_K))),
        ]

    def pass_ops(self, p: int) -> list[Op]:
        r = self.refs
        oracle = r["oracle"]

        def minhash():
            with self.span("operators.dedup.minhash_dedup"):
                rows = dedup.minhash_dedup(
                    self.docs, "doc_id", "text", threshold=P.DEDUP_THRESHOLD
                ).collect()
            return [(x.id1, x.id2, x.jaccard) for x in rows]

        def against():
            with self.span("operators.dedup.near_dups_against"):
                rows = dedup.near_dups_against(
                    self.batch, self.band_buckets, self.band_shingles, "doc_id", "text",
                    threshold=P.DEDUP_THRESHOLD,
                ).collect()
            dedup.release_signature_cache()
            return [(x.new_id, x.corpus_id, x.jaccard) for x in rows]

        def clean():
            # the declared pipeline_corpus query, on the first base documents
            base = self.docs.filter(ref.QUALITY_DOCS)
            with self.span("operators.text.clean_corpus"):
                return (
                    text.clean_corpus(base, "doc_id", "text", min_quality=0.7, lang="en")
                    .orderBy("doc_id")
                    .toPandas()
                )

        def images():
            with self.span("operators.multimodal.image_features"):
                return multimodal.image_features(
                    self.images, resize_to=(P.IMAGE_RESIZE, P.IMAGE_RESIZE)
                ).drop("features").toPandas()

        def check_minhash(pairs):
            recall = ref.check_near_dups(pairs, r["texts"], r["planted"], P.DEDUP_THRESHOLD)
            self.tracer.count("operators.dedup.planted_recall", recall)

        return [
            Op("dedup.minhash_dedup", KIND_COMPUTE, minhash, check_minhash),
            Op("dedup.near_dups_against", KIND_COMPUTE, against, lambda pairs: ref.check_near_dups_against(
                pairs, r["texts"], r["planted"], P.DEDUP_THRESHOLD)),
            Op("text.clean_corpus", KIND_COMPUTE, clean,
               lambda pdf: ref.check_rows(pdf, oracle["pipeline_corpus"], "pipeline_corpus")),
            Op("multimodal.image_features", KIND_COMPUTE, images,
               lambda pdf: ref.check_image_features(pdf, r["images"])),
            *self.lake_ops(p),
        ]


WORKLOADS = {w.name: w for w in (GraphIterative, CorpusBatch)}
