"""Independent oracles: the expected answer of every benchmark operation,
computed with pandas and NumPy from the generated inputs.

``gen.py`` calls ``expected`` in its own process and writes the answers
beside the inputs, so the measured process holds no oracle data: it
only hashes what the program returned and compares (``canon`` and
``rows_hash`` are shared by both sides).
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np

EPOCH = datetime(1970, 1, 1)
FEATURES = ("spend", "clicks", "score")
KNN_K = 10


def entity_names(ids) -> list[str]:
    return [f"u{int(i):05d}" for i in ids]


def canon(v):
    """Hashable, engine-neutral form of one output value."""
    if v is None:
        return None
    if isinstance(v, datetime):  # pandas Timestamps included
        return (v.replace(tzinfo=None) - EPOCH) // timedelta(microseconds=1)
    if isinstance(v, (float, np.floating)):
        return None if np.isnan(v) else float(v)
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return float(v)
    return v


def rows_hash(rows) -> str:
    """Order-independent hash of an iterable of row tuples."""
    lines = sorted(json.dumps([canon(x) for x in r]) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def latest_per_entity(df, value_col: str):
    """Latest (entity, value, ts) per entity: max ts, then max value."""
    d = df.sort_values(["entity", "ts", value_col]).drop_duplicates("entity", keep="last")
    return d[["entity", value_col, "ts"]]


def _frame_hash(df) -> str:
    return rows_hash(df.itertuples(index=False))


def pit_hash(events, labels, variant) -> str:
    """Point-in-time join of the variant's features (and its lagged
    feature) onto every label row, by ``merge_asof``."""
    import pandas as pd

    lab = labels.sort_values("ts")
    out = lab[["entity", "ts", "label"]].copy()
    specs = [(f, timedelta(0)) for f in variant["features"]]
    specs.append((variant["lag_feature"], timedelta(hours=variant["lag_hours"])))
    cols = []
    for i, (f, lag) in enumerate(specs):
        ev = events[["entity", "ts", f]].rename(columns={"ts": "fts", f: f"c{i}"})
        left = lab[["entity", "ts"]].assign(cut=lab["ts"] - lag).sort_values("cut")
        m = pd.merge_asof(left, ev.sort_values("fts"), left_on="cut", right_on="fts",
                          by="entity", direction="backward", allow_exact_matches=True)
        out = out.merge(m[["entity", "ts", f"c{i}"]], on=["entity", "ts"], how="left")
        cols.append(f"c{i}")
    return _frame_hash(out[["entity", *cols, "label", "ts"]])


def expected_offline(data: str, manifest: dict) -> dict:
    import pandas as pd

    events = pd.read_parquet(os.path.join(data, "events.parquet"))
    labels = pd.read_parquet(os.path.join(data, "labels.parquet"))
    # materialize_refresh folds slice k % slices into the target at the
    # k-th refresh; folding a slice twice changes nothing, so the target
    # after refresh r holds the latest over slices 0..min(r, slices-1)
    refresh, folded = [], None
    for k in range(manifest["slices"]):
        new = pd.read_parquet(os.path.join(data, f"slice_{k:03d}.parquet"))
        new = new.rename(columns={"value": "v"})
        folded = latest_per_entity(new if folded is None else pd.concat([folded, new]), "v")
        refresh.append(_frame_hash(folded))
    return {
        "pit": [pit_hash(events, labels, v) for v in manifest["variants"]],
        "materialize": {f: _frame_hash(latest_per_entity(events, f)) for f in FEATURES},
        "refresh": refresh,
    }


def expected_corpus(data: str) -> dict:
    """Kept documents: the first of every planted cluster, and every
    document outside the clusters."""
    import pandas as pd

    c = pd.read_parquet(os.path.join(data, "corpus.parquet"), columns=["doc_id", "cluster"])
    kept = set(c.loc[c["cluster"] < 0, "doc_id"]) | set(
        c[c["cluster"] >= 0].groupby("cluster")["doc_id"].min())
    return {"kept": rows_hash((int(d),) for d in kept)}


def expected_upsert(data: str, manifest: dict) -> dict:
    """Snapshot hash after each CDC batch, the stream applied in pandas."""
    import pandas as pd

    st = pd.read_parquet(os.path.join(data, "base.parquet")).set_index("id")
    snaps = []
    for b in range(manifest["batches"]):
        up = pd.read_parquet(os.path.join(data, f"upsert_{b:03d}.parquet")).set_index("id")
        dels = pd.read_parquet(os.path.join(data, f"delete_{b:03d}.parquet"))["id"]
        st = pd.concat([st.drop(index=up.index, errors="ignore"), up]).drop(index=dels)
        snaps.append(_frame_hash(st.reset_index()[["id", "v", "seq", "payload"]]))
    return {"snapshots": snaps}


def expected_online(data: str, manifest: dict) -> dict:
    """Latest features per entity, and per request the answer under the
    fixed schedule (a ``set`` inserts a new key): a ``get`` sees the
    vector of the last ``set`` of its key (``src``, -1 for the loaded
    one), ``ann``/``knn`` the exact top ten by L2 distance over the
    current vectors (``topk``); for ``knn`` also every key tied with the
    tenth within float tolerance (``cands``). The columns are added to
    ``requests.parquet``."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pd.read_parquet(os.path.join(data, "events.parquet"))
    feats: dict[str, list] = {}
    for j, f in enumerate(FEATURES):
        for e, v, _ in latest_per_entity(events, f).itertuples(index=False):
            feats.setdefault(e, [None] * len(FEATURES))[j] = canon(v)

    vec = pq.read_table(os.path.join(data, "vectors.parquet"))
    base = np.stack(vec.column("embedding").to_numpy(zero_copy_only=False))
    req_path = os.path.join(data, "requests.parquet")
    req = pq.read_table(req_path)
    kinds = req.column("kind").to_pylist()
    ents = req.column("entity").to_numpy()
    new = req.column("vector").combine_chunks().flatten().to_numpy()
    new = new.reshape(-1, manifest["dim"])
    # loaded keys first, then the keys the sets insert, present once set
    cur = np.zeros((len(base) + manifest["sets"], manifest["dim"]))
    cur[:len(base)] = base
    present = np.arange(len(cur)) < len(base)
    last_set = np.full(len(cur), -1, dtype=np.int64)
    src, topk, cands = [], [], []
    for i, kind in enumerate(kinds):
        e = int(ents[i])
        src.append(int(last_set[e]) if kind == "get" else -1)
        top, tied = [], []
        if kind in ("ann", "knn"):
            diff = cur - cur[e]
            d = np.sqrt(np.einsum("ij,ij->i", diff, diff))
            d[e] = np.inf
            d[~present] = np.inf
            d10 = np.partition(d, KNN_K - 1)[KNN_K - 1]
            near = np.flatnonzero(d <= d10)
            top = near[np.lexsort((near, d[near]))][:KNN_K].tolist()  # ties by index
            if kind == "knn":
                tied = np.flatnonzero(d <= d10 * (1 + 1e-5) + 1e-6).tolist()
        elif kind == "set":
            cur[e] = new[i]
            present[e] = True
            last_set[e] = i
        topk.append(top)
        cands.append(tied)
    req = (req.append_column("src", pa.array(src, pa.int64()))
           .append_column("topk", pa.array(topk, pa.list_(pa.int32())))
           .append_column("cands", pa.array(cands, pa.list_(pa.int32()))))
    pq.write_table(req, req_path, compression="snappy", row_group_size=1 << 20)
    return {"features": feats}


def expected(workload: str, data: str, manifest: dict) -> dict:
    """Every expected answer of ``workload``'s operations."""
    if workload == "offline_batch":
        return {**expected_offline(data, manifest), **expected_corpus(data),
                **expected_upsert(data, manifest)}
    if workload == "corpus_dedup":
        return expected_corpus(data)
    if workload == "table_upsert":
        return expected_upsert(data, manifest)
    return expected_online(data, manifest)
