"""Seeded input generator for the feature-store benchmark.

Runs in its own process, so neither its time nor its memory lands in the
measured program: NumPy and PyArrow write the inputs, then ``oracle.py``
(pandas, NumPy) computes every operation's expected answer into
``expected.json`` and extra ``requests.parquet`` columns. The same
``--seed`` gives byte-identical files. Usage::

    python3 perfbench/gen.py --workload online_serve --seed 3 --seconds 5 --out DIR

Every workload's inputs are plain parquet files plus ``manifest.json``
(sizes and the request/batch schedule the benchmark replays).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle  # noqa: E402

WORKLOADS = ("offline_batch", "online_serve", "table_upsert", "corpus_dedup")

# Input sizes, fixed per workload so that only content changes with the
# seed. The event logs follow the repo's canonical F1 fixture (FIXTURES.md:
# 10,000 transactions, entity ~Zipf over 1k customers). Every other size,
# the Zipf exponent and the other parameters below are assumptions, not
# measured traffic (see README.md).
SIZES = {
    "offline_batch": dict(entities=1000, events=10000, labels=3000,
                          slices=16, slice_rows=500, variants=8),
    "online_serve": dict(entities=1000, events=10000, dim=16, centers=20),
    "table_upsert": dict(rows=9000, updates=60, inserts=20, deletes=10),
    "corpus_dedup": dict(docs=1000, vocab=5000, words=120, clusters=120,
                         dim=32),
}
# Well under the shortest loop period seen on a 4-core VM, in seconds.
# The online request schedule and the CDC stream cannot repeat (each
# answer depends on every write before it), so they are made long
# enough for a run of ``--seconds``, traced runs (which alternate two
# loops) included.
MIN_PERIOD_S = {"online_serve": 1.0, "offline_batch": 5.0, "table_upsert": 1.5}
ZIPF_S = 1.1  # assumption: F1 says "~zipf" without an exponent

# Median per-call cost (ms) of each online read kind, measured by this
# benchmark on a shared 4-core VM. The online mix gives every read kind
# about the time of one exact knn, so that none dominates the mix's time
# and each moves ``ops_per_s`` alike; the mix is a measurement design,
# not a model of real traffic.
ONLINE_COST_MS = {"knn": 1325.0, "get": 1.15, "ann": 1.97}
# Assumptions: one vector set per eight gets. A set inserts the
# embedding of a new key, and the get after it reads that key back.
SETS_PER_GET = 1 / 8
# The loop issues knn this many times as often as the mix, so that a
# run holds several knn calls; ``ops_per_s`` weighs each kind by the mix.
KNN_OVERSAMPLE = 4


def interleave(counts: dict[str, int]) -> list[str]:
    """One period holding ``counts[k]`` steps of each kind, every kind
    spread evenly over it, rotated to start with the rarest kind."""
    slots = sorted(((m + 0.5) / n, i, k) for i, (k, n) in enumerate(counts.items())
                   for m in range(n))
    out = [k for _, _, k in slots]
    first = out.index(min(counts, key=counts.get))
    return out[first:] + out[:first]


def online_mix() -> dict[str, int]:
    """Calls of each online kind per exact knn in the gated mix."""
    budget = max(ONLINE_COST_MS.values())
    counts = {k: max(1, round(budget / c)) for k, c in ONLINE_COST_MS.items()}
    counts["set"] = round(counts["get"] * SETS_PER_GET)
    return counts


def online_period() -> list[str]:
    """One period of the online schedule: the mix with knn oversampled."""
    return interleave({k: 1 if k == "knn" else max(1, round(n / KNN_OVERSAMPLE))
                       for k, n in online_mix().items()})


T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed codec: identical bytes for identical tables
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float = ZIPF_S):
    """``size`` draws of rank 0..n-1 with P(rank r) ∝ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _event_log(rng, n_entities, n_events, hot, span_us):
    """Zipf-skewed (entity, ts, features) rows, unique per (entity, ts)."""
    ent = hot[zipf_ranks(rng, n_entities, n_events)]
    ts = rng.integers(0, span_us, n_events)
    _, first = np.unique(np.stack([ent, ts]), axis=1, return_index=True)
    first.sort()
    ent, ts = ent[first], ts[first]
    n = len(ent)
    return pa.table({
        "entity": oracle.entity_names(ent),
        "ts": pa.array(T0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "spend": np.round(rng.gamma(2.0, 20.0, n), 2),
        "clicks": rng.poisson(3.0, n).astype(np.int64),
        "score": np.round(rng.normal(0.0, 1.0, n), 4),
    })


def gen_offline(rng, out, sz):
    n = sz["entities"]
    hot = rng.permutation(n)
    _write(_event_log(rng, n, sz["events"], hot, 30 * DAY_US),
           os.path.join(out, "events.parquet"))

    lab_ent = hot[zipf_ranks(rng, n, sz["labels"])]
    lab_ts = rng.integers(5 * DAY_US, 30 * DAY_US, sz["labels"])
    _, first = np.unique(np.stack([lab_ent, lab_ts]), axis=1, return_index=True)
    first.sort()
    _write(pa.table({
        "entity": oracle.entity_names(lab_ent[first]),
        "ts": pa.array(T0 + lab_ts[first].astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "label": rng.integers(0, 2, len(first)).astype(np.int64),
    }), os.path.join(out, "labels.parquet"))

    # new event slices for materialize_refresh: each later than the last,
    # with a tenth of its rows arriving late (older than the slice)
    for i in range(sz["slices"]):
        m = sz["slice_rows"]
        ent = hot[zipf_ranks(rng, n, m)]
        ts = 30 * DAY_US + i * HOUR_US + rng.integers(0, HOUR_US, m)
        late = rng.random(m) < 0.1
        ts[late] = rng.integers(0, 30 * DAY_US, int(late.sum()))
        _, first = np.unique(np.stack([ent, ts]), axis=1, return_index=True)
        first.sort()
        _write(pa.table({
            "entity": oracle.entity_names(ent[first]),
            "ts": pa.array(T0 + ts[first].astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "value": np.round(rng.normal(100.0, 30.0, len(first)), 3),
        }), os.path.join(out, f"slice_{i:03d}.parquet"))

    # one training-set variant per iteration: two of the three features,
    # a lagged feature and its lag; every variant joins as many features,
    # so a run's train_build samples cost alike whichever variants it
    # reaches and whatever the seed
    feats = ["spend", "clicks", "score"]
    variants = []
    for _ in range(sz["variants"]):
        chosen = sorted(rng.choice(3, size=2, replace=False).tolist())
        variants.append({
            "features": [feats[j] for j in chosen],
            "lag_feature": feats[int(rng.integers(0, 3))],
            "lag_hours": int(rng.integers(1, 73)),
        })
    return {"variants": variants, "slices": sz["slices"]}


def gen_online(rng, out, sz):
    n, dim = sz["entities"], sz["dim"]
    hot = rng.permutation(n)
    _write(_event_log(rng, n, sz["events"], hot, 30 * DAY_US),
           os.path.join(out, "events.parquet"))

    centers = rng.normal(0.0, 1.0, (sz["centers"], dim))
    assign = rng.integers(0, sz["centers"], n)
    vecs = (centers[assign] + 0.3 * rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    _write(pa.table({
        "key": oracle.entity_names(range(n)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), os.path.join(out, "vectors.parquet"))

    period = online_period()
    kinds = np.array(period * sz["periods"])
    ent = hot[zipf_ranks(rng, n, len(kinds))]
    # a set inserts the embedding of a new key (index n, n+1, ...), and
    # the get right after it reads that key back; all other gets read
    # loaded keys, so the share of gets served from the write overlay is
    # fixed by the schedule, not by which keys the seed draws
    sets = np.flatnonzero(kinds == "set")
    ent[sets] = n + np.arange(len(sets))
    after = sets[sets + 1 < len(kinds)] + 1
    after = after[kinds[after] == "get"]
    ent[after] = ent[after - 1]
    new = (centers[rng.integers(0, sz["centers"], len(kinds))]
           + 0.3 * rng.normal(0.0, 1.0, (len(kinds), dim))).astype(np.float32)
    _write(pa.table({
        "kind": kinds.tolist(),
        "entity": pa.array(ent, pa.int32()),  # index into vectors.parquet, then new keys
        "vector": pa.FixedSizeListArray.from_arrays(new.ravel(), dim),
    }), os.path.join(out, "requests.parquet"))
    return {"dim": dim, "period": len(period), "requests": len(kinds),
            "entities": n, "sets": len(sets), "mix": online_mix()}


def gen_upsert(rng, out, sz):
    n0 = sz["rows"]

    def rows(ids, seq):
        return pa.table({
            "id": pa.array(ids, pa.int64()),
            "v": np.round(rng.normal(0.0, 100.0, len(ids)), 3),
            "seq": pa.array(np.full(len(ids), seq), pa.int64()),
            "payload": ["".join(chr(97 + c) for c in rng.integers(0, 26, 16))
                        for _ in ids],
        })

    _write(rows(np.arange(n0), 0), os.path.join(out, "base.parquet"))
    live = list(range(n0))
    live_set = set(live)
    recent: list[int] = list(range(n0 - 200, n0))  # most recent last
    next_id = n0
    for b in range(sz["batches"]):
        # updates favour recently touched keys (Zipf over recency rank)
        picks: list[int] = []
        recent_live = [k for k in reversed(recent) if k in live_set]
        while len(picks) < sz["updates"]:
            if rng.random() < 0.8 and recent_live:
                k = recent_live[int(zipf_ranks(rng, len(recent_live), 1)[0])]
            else:
                k = live[int(rng.integers(0, len(live)))]
            if k not in picks:
                picks.append(k)
        inserts = list(range(next_id, next_id + sz["inserts"]))
        next_id += sz["inserts"]
        picked = set(picks)
        pool = [k for k in live if k not in picked]
        dels = sorted(int(x) for x in rng.choice(pool, size=sz["deletes"], replace=False))
        _write(rows(picks + inserts, b + 1), os.path.join(out, f"upsert_{b:03d}.parquet"))
        _write(pa.table({"id": pa.array(dels, pa.int64())}),
               os.path.join(out, f"delete_{b:03d}.parquet"))
        dset = set(dels)
        live = [k for k in live if k not in dset] + inserts
        live_set = set(live)
        recent = [k for k in recent if k not in dset][-400:] + picks + inserts
    return {"batches": sz["batches"]}


def gen_corpus(rng, out, sz):
    """Random-word documents with planted near-duplicate clusters.

    A cluster member is its base document with the last word replaced
    (or an exact copy), so its 3-shingle Jaccard to the base is
    ≥ (w-3)/(w-1) and banded MinHash finds the pair with probability
    1 - 1e-6; unrelated documents share no shingle. Member embeddings
    are the base embedding plus 1e-5 noise (cosine ~1), unrelated ones
    are random unit vectors (cosine ≥ 0.95 has probability < 1e-12).
    """
    vocab = np.array(["".join(chr(97 + c) for c in rng.integers(0, 26, int(k)))
                      for k in rng.integers(3, 9, sz["vocab"])])
    n, w, dim = sz["docs"], sz["words"], sz["dim"]
    cluster = -np.ones(n, dtype=np.int64)
    order = rng.permutation(n)
    pos = 0
    for c in range(sz["clusters"]):
        size = int(rng.integers(2, 5))
        cluster[order[pos:pos + size]] = c
        pos += size
    texts = [None] * n
    emb = rng.normal(0.0, 1.0, (n, dim))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    base_of: dict[int, int] = {}
    for d in range(n):
        c = int(cluster[d])
        if c >= 0 and c in base_of:
            b = base_of[c]
            words = texts[b].split(" ")
            if rng.random() < 0.75:
                words[-1] = vocab[int(rng.integers(0, len(vocab)))]
            texts[d] = " ".join(words)
            emb[d] = emb[b] + 1e-5 * rng.normal(0.0, 1.0, dim)
        else:
            texts[d] = " ".join(vocab[rng.integers(0, len(vocab), w)])
            if c >= 0:
                base_of[c] = d
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "cluster": pa.array(cluster, pa.int64()),
    }), os.path.join(out, "corpus.parquet"))
    return {"docs": n, "dim": dim}


GENERATORS = {
    "offline_batch": gen_offline,
    "online_serve": gen_online,
    "table_upsert": gen_upsert,
    "corpus_dedup": gen_corpus,
}


# offline_batch also runs corpus_dedup's and table_upsert's operations
# (see workloads.py)
PARTS = {"offline_batch": ("offline_batch", "corpus_dedup", "table_upsert")}


def sizes(workload: str, part: str, seconds: float) -> dict:
    sz = dict(SIZES[part])
    periods = 2 * (math.ceil(seconds / MIN_PERIOD_S.get(workload, 1.0)) + 1)
    if part == "online_serve":
        sz["periods"] = periods
    elif part == "table_upsert":
        sz["batches"] = periods  # one CDC batch a period
    return sz


def generate(workload: str, seed: int, out: str, seconds: float) -> dict:
    """Write ``workload``'s inputs for ``seed`` and a run of ``seconds``,
    and their expected answers, into ``out``; return the manifest."""
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed}
    for part in PARTS.get(workload, (workload,)):
        rng = np.random.default_rng([seed, WORKLOADS.index(part)])
        manifest[f"sizes_{part}"] = sz = sizes(workload, part, seconds)
        manifest.update(GENERATORS[part](rng, out, sz))
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True)
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(oracle.expected(workload, out, manifest), fh, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.seconds)


if __name__ == "__main__":
    main()
