"""The four workloads: set-up, the closed-loop operation schedule, and
the check of every operation's output against the expected answers
``oracle.py`` computed in the generator's process.

Each workload is one client in a closed loop: a single thread
issues the next call when the previous one has returned, as a library
caller does. ``steps()`` yields ``(kind, op, check)`` forever, one
period of ``cycle`` steps after another; ``op`` is timed,
``check(result)`` is not.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
from datetime import timedelta

import numpy as np
import pyarrow.parquet as pq

from perfbench.oracle import FEATURES, KNN_K, canon, entity_names, rows_hash


def failing(kind: str, why: str):
    """A step whose operation raises: counted as failed by the loop."""
    def op():
        raise RuntimeError(why)
    return kind, op, None


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()  # operation kinds whose medians are gated
    cycle = 1  # period of the schedule ``steps()`` yields, in steps

    def __init__(self, spark, tracer, data_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.data = data_dir
        self.work = work_dir
        with open(os.path.join(data_dir, "manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)
        with open(os.path.join(data_dir, "expected.json"), encoding="utf-8") as fh:
            self.expected = json.load(fh)
        self.rep = 0

    @property
    def mix(self) -> dict[str, int]:
        """Calls of each kind in the gated mix: ``ops_per_s`` weighs each
        kind's median by them."""
        raise NotImplementedError

    def path(self, name: str) -> str:
        return os.path.join(self.data, name)

    def scratch(self, name: str) -> str:
        return os.path.join(self.work, f"rep{self.rep}", name)

    def setup(self) -> None:
        """Build the program-side state the loop runs against."""
        raise NotImplementedError

    def steps(self):
        raise NotImplementedError

    def report(self, lat: dict) -> dict:
        """The workload's own end-to-end metrics, from per-kind latencies."""
        return {}

    def traced_extras(self) -> None:
        """Per-layer counts measured once, outside the timed window."""


# -- online_serve ------------------------------------------------------------

def _list_column(table, name):
    """(offsets, values) of a list column, as NumPy arrays."""
    col = table.column(name).combine_chunks()
    return col.offsets.to_numpy(), col.values.to_numpy()


class OnlineServe(Workload):
    """A mixed request stream: feature gets, ANN and exact kNN, vector sets."""

    name = "online_serve"
    kinds = ("get", "ann", "knn", "set")

    def __init__(self, *a):
        super().__init__(*a)
        self.cycle = self.manifest["period"]
        dim = self.manifest["dim"]
        vec = pq.read_table(self.path("vectors.parquet"))
        n = self.manifest["entities"]
        self.keys = vec.column("key").to_pylist() + entity_names(
            range(n, n + self.manifest["sets"]))
        self.key_set = set(self.keys)
        self.base_vecs = vec.column("embedding").combine_chunks().values.to_numpy()
        self.base_vecs = self.base_vecs.reshape(-1, dim)
        req = pq.read_table(self.path("requests.parquet"))
        self.period = req.column("kind").slice(0, self.cycle).to_pylist()
        self.req_ent = req.column("entity").to_numpy()
        self.req_vec = req.column("vector").combine_chunks().flatten().to_numpy()
        self.req_vec = self.req_vec.reshape(-1, dim)
        self.req_src = req.column("src").to_numpy()
        self.topk = _list_column(req, "topk")
        self.cands = _list_column(req, "cands")
        self.recall: list[float] = []

    def setup(self):
        from embeddinghub_spark.catalog import Catalog
        from embeddinghub_spark.serving.online import OnlineStore
        from embeddinghub_spark.serving.spaces import Space

        cat = Catalog(self.spark)
        cat.register_file("events", "v1", self.path("events.parquet"), timestamp_column="ts")
        for f in FEATURES:
            cat.register_feature(f, "v1", ("events", "v1"), "entity", f, "ts")
        self.store = OnlineStore(cat)
        for f in FEATURES:
            self.store.materialize_feature(f, "v1")
        self.space = Space(self.spark, "emb", int(self.manifest["dim"]))
        self.space.load_dataframe(self.spark.read.parquet(self.path("vectors.parquet")),
                                  serving_path=self.scratch("space"), n_buckets=8)
        self.space.build_ann_index()

    @property
    def mix(self):
        return self.manifest["mix"]

    def _keys(self, col, i: int) -> set[str]:
        offsets, values = col
        return {self.keys[j] for j in values[offsets[i]:offsets[i + 1]]}

    def steps(self):
        feature_list = [(f, "v1") for f in FEATURES]
        no_value = [None] * len(FEATURES)
        for i in range(len(self.req_ent)):
            kind = self.period[i % self.cycle]
            ent = self.keys[self.req_ent[i]]
            if kind == "get":
                def op(ent=ent):
                    return (self.store.features(feature_list, {"entity": ent}),
                            self.space.get(ent))

                def check(res, ent=ent, i=i):
                    feats, emb = res
                    src = self.req_src[i]
                    want = self.req_vec[src] if src >= 0 else self.base_vecs[self.req_ent[i]]
                    return ([canon(x) for x in feats]
                            == self.expected["features"].get(ent, no_value)
                            and np.array_equal(np.asarray(emb, np.float32), want))
            elif kind in ("ann", "knn"):
                approx = kind == "ann"

                def op(ent=ent, approx=approx):
                    return self.space.nearest_neighbor(KNN_K, key=ent, approximate=approx)

                def check(got, ent=ent, i=i, approx=approx):
                    if (len(set(got)) != KNN_K or ent in got
                            or not self.key_set.issuperset(got)):
                        return False
                    if approx:
                        self.recall.append(len(set(got) & self._keys(self.topk, i)) / KNN_K)
                        return True
                    # ties with the tenth may be returned in its place
                    return self._keys(self.cands, i).issuperset(got)
            else:
                def op(ent=ent, vec=self.req_vec[i].tolist()):
                    self.space.set(ent, vec)

                check = None
            yield kind, op, check
        while True:
            yield failing(self.period[0], "request schedule exhausted: generate more periods")

    def report(self, lat):
        from perfbench.stats import median, tail_percentile

        ms = {k: [x * 1e3 for x in v] for k, v in lat.items()}
        get = ms.get("get", [])
        return {"get_p50_ms": median(get),
                "get_p90_ms": tail_percentile(get, 90),
                "get_p99_ms": tail_percentile(get, 99),
                "get_samples": len(get),
                "ann_p50_ms": median(ms.get("ann")),
                "ann_recall_at_10": (sum(self.recall) / len(self.recall)
                                     if self.recall else None),
                "knn_p50_ms": median(ms.get("knn")),
                "set_p50_ms": median(ms.get("set"))}


# -- table_upsert ------------------------------------------------------------

def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            out[p] = os.path.getsize(p)
    return out


class TableUpsert(Workload):
    """One CDC batch stream into a native Delta and a native Iceberg table."""

    name = "table_upsert"
    kinds = ("delta_commit", "iceberg_commit", "delta_read", "iceberg_read")
    READS = 2  # snapshot reads after each commit
    # one CDC batch: per format a commit and its reads, then both
    # formats' compactions
    cycle = 2 * (1 + READS) + 2

    # module, merge, delete, read module, read, compact
    FORMATS = {
        "delta": ("sources.delta_log", "merge_delta", "delete_delta",
                  "sources.delta_log", "read_delta", "compact_delta"),
        "iceberg": ("sources.iceberg_write", "merge_iceberg", "delete_iceberg",
                    "sources.iceberg_meta", "read_iceberg", "compact_iceberg"),
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.n_batches = self.manifest["batches"]
        self.deletes = [pq.read_table(self.path(f"delete_{b:03d}.parquet"))
                        .column("id").to_pylist() for b in range(self.n_batches)]
        self.written = {"delta": 0, "iceberg": 0}
        self.cdc_bytes = {"delta": 0, "iceberg": 0}

    @property
    def mix(self):
        return {**{f"{fmt}_commit": 1 for fmt in self.FORMATS},
                **{f"{fmt}_read": self.READS for fmt in self.FORMATS},
                **{f"{fmt}_compact": 1 for fmt in self.FORMATS}}

    @staticmethod
    def _mod(name: str):
        return importlib.import_module(f"embeddinghub_spark.{name}")

    def setup(self):
        base = self.spark.read.parquet(self.path("base.parquet")).repartitionByRange(8, "id")
        self.tables = {"delta": self.scratch("delta"), "iceberg": self.scratch("iceberg")}
        self._mod("sources.delta_log").write_delta(base, self.tables["delta"], mode="overwrite")
        self._mod("sources.iceberg_write").write_iceberg(
            base, self.tables["iceberg"], mode="overwrite")
        self.on_disk = {fmt: _dir_files(path) for fmt, path in self.tables.items()}
        self.live: dict[str, set[str]] = {}

    def _live_files(self, fmt: str) -> set[str]:
        root = self.tables[fmt]
        if fmt == "delta":
            snap = self._mod("sources.delta_log").delta_snapshot(root)
            return {os.path.join(root, f["path"]) for f in snap["files"]}
        snap = self._mod("sources.iceberg_meta").iceberg_snapshot(root)
        return {f.removeprefix("file:") for f in snap["files"]}

    def _account(self, fmt: str, layer: str | None = None) -> bool:
        """Charge the files that appeared since the last call to ``fmt``'s
        writes; traced, also to the ``layer`` function that wrote them."""
        now = _dir_files(self.tables[fmt])
        new = sum(size for p, size in now.items() if p not in self.on_disk[fmt])
        self.on_disk[fmt] = now
        self.written[fmt] += new
        if layer is not None:
            live = self._live_files(fmt)
            self.tracer.add(f"{layer}.bytes_written", new)
            self.tracer.add(f"{layer}.files_added", len(live - self.live[fmt]))
            self.tracer.add(f"{layer}.files_removed", len(self.live[fmt] - live))
            self.live[fmt] = live
        return True

    def _write(self, fmt: str, fn: str, *args, **kwargs) -> None:
        """One table write. Untraced, its bytes are charged by the untimed
        check; traced, right away, so merge and delete are told apart."""
        mod = self.FORMATS[fmt][0]
        if self.tracer.enabled:
            self.live[fmt] = self._live_files(fmt)
        getattr(self._mod(mod), fn)(self.spark, self.tables[fmt], *args, **kwargs)
        if self.tracer.enabled:
            self._account(fmt, f"{mod}.{fn}")

    def steps(self):
        from pyspark.sql import functions as F

        for b in range(self.n_batches):
            for fmt, (_, merge, delete, read_mod, read, _) in self.FORMATS.items():
                upsert_path = self.path(f"upsert_{b:03d}.parquet")

                def commit(fmt=fmt, b=b, merge=merge, delete=delete, upsert_path=upsert_path):
                    self._write(fmt, merge, self.spark.read.parquet(upsert_path), ["id"])
                    self._write(fmt, delete, F.col("id").isin(self.deletes[b]))

                def account(_, fmt=fmt, b=b, upsert_path=upsert_path):
                    self.cdc_bytes[fmt] += (os.path.getsize(upsert_path)
                                            + os.path.getsize(self.path(f"delete_{b:03d}.parquet")))
                    return self._account(fmt)

                yield f"{fmt}_commit", commit, account

                def snapshot(fmt=fmt, read_mod=read_mod, read=read):
                    df = getattr(self._mod(read_mod), read)(self.spark, self.tables[fmt])
                    return self.tracer.action(f"{read_mod}.{read}", df, lambda d: d.collect())

                def check_read(rows, want=self.expected["snapshots"][b]):
                    return rows_hash((r["id"], r["v"], r["seq"], r["payload"])
                                     for r in rows) == want

                for _ in range(self.READS):
                    yield f"{fmt}_read", snapshot, check_read

            for fmt, (*_, compact) in self.FORMATS.items():
                def compaction(fmt=fmt, compact=compact):
                    self._write(fmt, compact, target_file_bytes=64 << 10, sort_by=["id"])

                yield f"{fmt}_compact", compaction, lambda _, fmt=fmt: self._account(fmt)
        while True:
            yield failing("delta_commit", "CDC stream exhausted: generate more batches")

    def space_ratio(self, fmt: str) -> float:
        """Bytes on disk per byte of the live snapshot's data files."""
        live = sum(os.path.getsize(p) for p in self._live_files(fmt))
        return sum(_dir_files(self.tables[fmt]).values()) / live

    def report(self, lat):
        from perfbench.stats import median

        amp = {fmt: self.written[fmt] / max(self.cdc_bytes[fmt], 1) for fmt in self.FORMATS}
        return {"delta_commit_p50_s": median(lat.get("delta_commit")),
                "iceberg_commit_p50_s": median(lat.get("iceberg_commit")),
                "snapshot_read_p50_s": median(lat.get("delta_read", [])
                                              + lat.get("iceberg_read", [])),
                "write_amp": (amp["delta"] + amp["iceberg"]) / 2,
                "delta_write_amp": amp["delta"],
                "iceberg_write_amp": amp["iceberg"],
                "delta_space_ratio": self.space_ratio("delta"),
                "iceberg_space_ratio": self.space_ratio("iceberg")}

    def traced_extras(self):
        self.tracer.add("sources.delta_log.table.space_ratio", self.space_ratio("delta"))
        self.tracer.add("sources.iceberg_write.table.space_ratio", self.space_ratio("iceberg"))


# -- corpus_dedup ------------------------------------------------------------

class CorpusDedup(Workload):
    """Text MinHash dedup and semantic (IVF-cell) dedup of one corpus."""

    name = "corpus_dedup"
    kinds = ("dedup_corpus", "semantic_dedup")
    cycle = 2
    N_CELLS = 8

    def __init__(self, *a):
        super().__init__(*a)
        self.n_docs = self.manifest["docs"]

    @property
    def mix(self):
        return {"dedup_corpus": 1, "semantic_dedup": 1}

    def setup(self):
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.path("corpus.parquet"))
        self.text = df.select("doc_id", "text")
        self.emb = df.select(F.col("doc_id").alias("vec_id"), "embedding")

    def check(self, rows) -> bool:
        return rows_hash(rows) == self.expected["kept"]

    def text_steps(self):
        from embeddinghub_spark.functions import dedup

        def text_op():
            kept = dedup.dedup_corpus(self.text)
            return self.tracer.action("functions.dedup.dedup_corpus", kept,
                                      lambda d: d.select("doc_id").collect())

        while True:
            yield "dedup_corpus", text_op, self.check

    def semantic_steps(self):
        from pyspark.sql import functions as F

        from embeddinghub_spark.functions import dedup

        def semantic_op():
            out = dedup.semantic_dedup(self.emb, dim=int(self.manifest["dim"]),
                                       n_clusters=self.N_CELLS)
            return self.tracer.action("functions.dedup.semantic_dedup", out,
                                      lambda d: d.filter(F.col("kept")).select("vec_id").collect())

        while True:
            yield "semantic_dedup", semantic_op, self.check

    def steps(self):
        text, semantic = self.text_steps(), self.semantic_steps()
        while True:
            yield next(text)
            yield next(semantic)

    def report(self, lat):
        from perfbench.stats import median

        ops = lat.get("dedup_corpus", []) + lat.get("semantic_dedup", [])
        return {"dedup_docs_per_s": self.n_docs * len(ops) / sum(ops) if ops else None,
                "dedup_corpus_p50_s": median(lat.get("dedup_corpus")),
                "semantic_dedup_p50_s": median(lat.get("semantic_dedup"))}

    def traced_extras(self):
        """Useful-work ratio of the MinHash stage: candidate pairs (all
        same-bucket pairs over every band) that are planted duplicates."""
        from pyspark.sql import functions as F

        from embeddinghub_spark.functions import dedup

        corpus = pq.read_table(self.path("corpus.parquet"), columns=["doc_id", "cluster"])
        cluster = dict(zip(corpus.column("doc_id").to_pylist(),
                           corpus.column("cluster").to_pylist()))
        buckets = (dedup.minhash_candidates(self.text).groupBy("band", "band_hash")
                   .count().filter(F.col("count") > 1).collect())
        candidates = sum(r["count"] * (r["count"] - 1) // 2 for r in buckets)
        pairs = dedup.minhash_duplicate_pairs(self.text).collect()
        verified = sum(1 for a, b in pairs if cluster[a] >= 0 and cluster[a] == cluster[b])
        self.tracer.add("functions.dedup.minhash_candidates.pairs", candidates)
        self.tracer.add("functions.dedup.minhash_duplicate_pairs.pairs", len(pairs))
        self.tracer.add("functions.dedup.minhash_duplicate_pairs.useful_ratio",
                        verified / candidates if candidates else 0.0)


# -- offline_batch -----------------------------------------------------------

class OfflineBatch(Workload):
    """Training-set builds and latest-value materializations, plus
    ``CorpusDedup``'s two operations and one ``TableUpsert`` CDC batch
    per period: every offline batch operation in one loop, no serving."""

    name = "offline_batch"
    kinds = ("train_build", "materialize", "refresh", "dedup_corpus",
             "semantic_dedup") + TableUpsert.kinds
    # one of each offline kind, materialize again (its calls are the
    # cheapest), then the steps of one CDC batch ("cdc")
    PERIOD = kinds[:5] + ("materialize",) + ("cdc",) * TableUpsert.cycle
    cycle = len(PERIOD)

    def __init__(self, *a):
        super().__init__(*a)
        self.dedup = CorpusDedup(*a)
        self.upsert = TableUpsert(*a)
        self.n_ts = 0

    @property
    def mix(self):
        own = [k for k in self.PERIOD if k != "cdc"]
        return {**{k: own.count(k) for k in own}, **self.upsert.mix}

    def setup(self):
        from embeddinghub_spark.catalog import Catalog

        cat = Catalog(self.spark)
        cat.register_file("events", "v1", self.path("events.parquet"), timestamp_column="ts")
        cat.register_file("labels", "v1", self.path("labels.parquet"), timestamp_column="ts")
        for f in FEATURES:
            cat.register_feature(f, "v1", ("events", "v1"), "entity", f, "ts")
        cat.register_label("label", "v1", ("labels", "v1"), "entity", "label", "ts")
        self.cat = cat
        self.refresh_dir = self.scratch("refresh")
        self.dedup.setup()
        self.upsert.rep = self.rep
        self.upsert.setup()

    def steps(self):
        gens = {"train_build": self._train_steps(), "materialize": self._materialize_steps(),
                "refresh": self._refresh_steps(), "dedup_corpus": self.dedup.text_steps(),
                "semantic_dedup": self.dedup.semantic_steps(), "cdc": self.upsert.steps()}
        while True:
            for kind in self.PERIOD:
                yield next(gens[kind])

    def _train_steps(self):
        from embeddinghub_spark.catalog import FeatureLag
        from embeddinghub_spark.operators import split

        variants, pit = self.manifest["variants"], self.expected["pit"]
        for i in itertools.count():
            v = variants[i % len(variants)]
            name = f"ts{self.n_ts}"  # a fresh training set every time
            self.n_ts += 1

            def train_build(v=v, name=name, seed=i):
                self.cat.register_training_set(
                    name, "v1", ("label", "v1"), [(f, "v1") for f in v["features"]],
                    [FeatureLag(v["lag_feature"], "v1", timedelta(hours=v["lag_hours"]))])
                df = self.cat.training_set_dataframe(name, "v1")
                train, test = split.train_test_split(df, 0.2, seed=seed)
                collect = lambda d: d.collect()  # noqa: E731
                return (self.tracer.action("operators.split.train_test_split", train, collect),
                        self.tracer.action("operators.split.train_test_split", test, collect))

            def check(res, want=pit[i % len(variants)]):
                train, test = res
                return (len(test) == int((len(train) + len(test)) * 0.2)
                        and rows_hash(train + test) == want)

            yield "train_build", train_build, check

    def _materialize_steps(self):
        from embeddinghub_spark.operators import materialize as mat

        for i in itertools.count():
            f = FEATURES[i % len(FEATURES)]

            def materialize(f=f):
                df = mat.materialize(self.cat.feature_table(f, "v1"))
                return self.tracer.action("operators.materialize.materialize", df,
                                          lambda d: d.collect())

            yield ("materialize", materialize,
                   lambda rows, f=f: rows_hash(rows) == self.expected["materialize"][f])

    def _refresh_steps(self):
        from embeddinghub_spark.operators import materialize as mat
        from embeddinghub_spark.sources.sinks import read_version

        want = self.expected["refresh"]
        for i in itertools.count():
            k = i % len(want)

            def refresh(k=k):
                delta = self.spark.read.parquet(self.path(f"slice_{k:03d}.parquet"))
                return mat.materialize_refresh(self.spark, delta, self.refresh_dir)

            def check(target, want=want[min(i, len(want) - 1)]):
                return rows_hash(read_version(self.spark, target, 0).collect()) == want

            yield "refresh", refresh, check

    def report(self, lat):
        from perfbench.stats import median

        return {"train_build_p50_s": median(lat.get("train_build")),
                "materialize_p50_s": median(lat.get("materialize")),
                "refresh_p50_s": median(lat.get("refresh")),
                **self.dedup.report(lat), **self.upsert.report(lat)}

    def traced_extras(self):
        self.dedup.traced_extras()
        self.upsert.traced_extras()


WORKLOADS = {w.name: w for w in (OfflineBatch, OnlineServe, TableUpsert, CorpusDedup)}
