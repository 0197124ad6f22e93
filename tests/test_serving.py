from datetime import datetime

import pytest

from embeddinghub_spark.catalog import Catalog
from embeddinghub_spark.serving.dataset import Dataset, preview
from embeddinghub_spark.serving.online import OnlineStore
from embeddinghub_spark.serving.spaces import EmbeddingHub, FrozenSpaceError


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def served_catalog(spark):
    cat = Catalog(spark)
    df = spark.createDataFrame(
        [
            ("a", 1.0, _ts("2024-01-01T00:00:00")),
            ("a", 2.0, _ts("2024-01-02T00:00:00")),
            ("b", 9.0, _ts("2024-01-01T00:00:00")),
        ],
        ["entity", "value", "ts"],
    )
    df.createOrReplaceTempView("_serve_src")
    cat.df_transformation("src", "v1", lambda: spark.table("_serve_src"), [])
    cat.register_feature("f1", "v1", ("src", "v1"), "entity", "value", "ts")
    return cat


def test_online_get(served_catalog):
    store = OnlineStore(served_catalog)
    t = store.materialize_feature("f1", "v1")
    assert t.get("a") == 2.0  # latest value
    assert t.get("b") == 9.0
    with pytest.raises(KeyError):
        t.get("zz")
    assert t.multi_get(["a", "zz"]) == [2.0, None]


def test_features_serve_precomputed_and_on_demand(served_catalog):
    store = OnlineStore(served_catalog)
    store.materialize_feature("f1", "v1")

    def double_f1(store_, params, entities):
        return params * 2

    served_catalog.register_on_demand("od", "v1", double_f1)
    vals = store.features(
        [("f1", "v1"), ("od", "v1")], {"entity": "a"}, params=21
    )
    assert vals == [2.0, 42]


def test_dataset_adapters(spark):
    df = spark.createDataFrame(
        [(i, float(i), i % 2 == 0) for i in range(10)], ["id", "feat", "label"]
    )
    ds = Dataset(df, label_col="label")
    rows = list(ds)
    assert len(rows) == 10
    assert rows[0][0][0] == rows[0][0][0]  # (features, label) tuples
    assert len(list(Dataset(df, "label").repeat(1))) == 20
    batches = list(Dataset(df, "label").batch(4))
    assert [len(b) for b in batches] == [4, 4, 2]
    shuffled = list(Dataset(df, "label").shuffle(5, seed=1))
    assert len(shuffled) == 10
    assert preview(df, 3).count() == 3


def test_embedding_spaces(spark):
    hub = EmbeddingHub(spark)
    space = hub.create_space("test", dims=3)
    space.multiset({"x": [1.0, 0.0, 0.0], "y": [0.0, 1.0, 0.0], "z": [1.0, 0.1, 0.0]})
    assert space.get("x") == [1.0, 0.0, 0.0]
    space.set("x", [0.9, 0.0, 0.0])  # upsert wins
    assert space.get("x") == pytest.approx([0.9, 0.0, 0.0])
    assert space.get("missing") is None
    got = space.multiget(["x", "y"])
    assert set(got) == {"x", "y"}
    # nearest by key excludes self; z is closer to x than y is
    assert space.nearest_neighbor(1, key="x") == ["z"]
    assert space.nearest_neighbor(1, vector=[0.0, 0.9, 0.0]) == ["y"]
    with pytest.raises(ValueError):
        space.multiset({"bad": [1.0]})
    hub.freeze_space("test")
    with pytest.raises(FrozenSpaceError):
        space.set("x", [1.0, 1.0, 1.0])
    assert space.download().count() == 3


def test_on_demand_batch_equivalent(served_catalog, spark):
    # C19 applied in batch: the registry fn can also be used via UDF
    store = OnlineStore(served_catalog)
    store.materialize_feature("f1", "v1")
    vals = store.features([("f1", "v1")], {"entity": "b"})
    assert vals == [9.0]


def test_on_demand_batch_column(spark, served_catalog):
    # C19 bulk form: batch_fn applied JVM-side as a column expression
    from pyspark.sql import functions as F

    served_catalog.register_on_demand(
        "doubled", "v1",
        fn=lambda store, params, entities: params * 2,
        batch_fn=lambda df: (F.col("x") * 2).cast("double"),
    )
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], ["id", "x"])
    out = served_catalog.apply_on_demand_batch("doubled", "v1", df)
    got = {r["id"]: r["ondemand__doubled__v1"] for r in out.collect()}
    assert got == {1: 3.0, 2: 5.0}
    # per-request-only feature refuses batch application
    served_catalog.register_on_demand("req_only", "v1", fn=lambda s, p, e: 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        served_catalog.apply_on_demand_batch("req_only", "v1", df)


def test_spaces_1k_upserts_stay_cheap(spark):
    """Upserts are dict-overlay writes: no Spark job, no plan growth.
    1000 single-key upserts must complete in interactive time (the old
    unionByName-per-write design went quadratic here)."""
    import time

    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    space = hub.create_space("bulk", dims=4)
    t0 = time.time()
    for i in range(1000):
        space.set(f"k{i % 100}", [float(i), 0.0, 0.0, 1.0])
    elapsed = time.time() - t0
    assert elapsed < 2.0  # pure-python dict updates
    assert space.get("k1") == [901.0, 0.0, 0.0, 1.0]  # last write wins
    assert space.download().count() == 100


def test_spaces_distributed_base_with_overlay(spark):
    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    space = hub.create_space("based", dims=2)
    base = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["key", "embedding"]
    )
    space.load_dataframe(base)
    assert space.get("a") == [1.0, 0.0]  # served from base
    space.set("a", [0.5, 0.5])  # overlay shadows base
    assert space.get("a") == [0.5, 0.5]
    assert space.get("b") == [0.0, 1.0]
    got = space.multiget(["a", "b", "zz"])
    assert got["a"] == [0.5, 0.5] and got["b"] == [0.0, 1.0] and "zz" not in got
    assert space.download().count() == 2
    # nearest over base ∪ overlay
    assert space.nearest_neighbor(1, vector=[0.0, 0.9]) == ["b"]


def test_space_base_table_serving_index(spark):
    """A base table attached via load_dataframe serves point lookups
    through the bucketed pyarrow index: 1,000 get()s run ZERO Spark
    jobs (the only job is the index build inside load_dataframe)."""
    hub = EmbeddingHub(spark)
    space = hub.create_space("served", dims=4)
    base = spark.createDataFrame(
        [(f"k{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(1000)],
        ["key", "embedding"],
    )
    space.load_dataframe(base)
    space.set("k5", [9.0, 9.0, 9.0, 9.0])  # overlay shadows base

    def jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    before = jobs()
    for i in range(1000):
        emb = space.get(f"k{i}")
        expected = [9.0, 9.0, 9.0, 9.0] if i == 5 else [float(i), 0.0, 0.0, 1.0]
        assert emb == pytest.approx(expected)
    assert space.get("absent") is None
    got = space.multiget(["k1", "k7", "absent"])
    assert set(got) == {"k1", "k7"}
    assert jobs() == before, "point lookups must not launch Spark jobs"

    # batch plane still consistent: download = base with overlay winning
    rows = {r["key"]: r["embedding"] for r in space.download().collect()}
    assert len(rows) == 1000
    assert rows["k5"] == pytest.approx([9.0, 9.0, 9.0, 9.0])


def test_dataset_feature_cols_exact_entity_exclusion(spark):
    """Only the exact entity key columns are excluded from served
    feature vectors; a feature alias that happens to START with
    'entity' is a feature (ADVICE r2)."""
    from embeddinghub_spark.serving.dataset import Dataset

    df = spark.createDataFrame(
        [(1, "c1", 0.5, 7.0, 1.0)],
        ["entity", "entity__customer", "entity_score_lag", "f1", "label"],
    )
    ds = Dataset(df)
    feats, label = next(iter(ds))
    assert feats == [0.5, 7.0]  # entity_score_lag served, keys excluded
    assert label == 1.0


def test_arrow_export_roundtrip(spark, sf_dir):
    from embeddinghub_spark.serving.dataset import to_arrow, to_arrow_batches

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tbl = to_arrow(nation)
    assert tbl.num_rows == nation.count()
    assert set(tbl.column_names) == set(nation.columns)
    capped = to_arrow(nation, limit=3)
    assert capped.num_rows == 3
    batches = list(to_arrow_batches(nation, limit=10, batch_rows=4))
    assert sum(b.num_rows for b in batches) == 10
    assert all(b.num_rows <= 4 for b in batches)


def test_model_user_provider_registry_roundtrip(spark, tmp_path):
    """The metadata-only resource types (MODEL/USER/PROVIDER of the
    reference's §1.1 taxonomy): registration validates references,
    duplicates conflict, and the JSON manifest round-trips them."""
    import pytest

    from embeddinghub_spark.catalog import (
        Catalog,
        ResourceExists,
        ResourceNotFound,
        load_manifest,
        save_manifest,
    )

    cat = Catalog(spark)
    cat.register_file("src", "v1", "/root/testdata/sf0.001/events.parquet")
    cat.register_feature("f", "v1", ("src", "v1"), "user_id", "value", "ts")
    cat.register_user("alice")
    cat.register_provider("local_spark", "SPARK_OFFLINE", "in-process")
    cat.register_model("clickmodel", "ctr model", features=[("f", "v1")])

    with pytest.raises(ResourceNotFound):
        cat.register_model("bad", features=[("nope", "v1")])
    with pytest.raises(ResourceExists):
        cat.register_model("clickmodel", "different description")
    assert [m.name for m in cat.models_using(("f", "v1"))] == ["clickmodel"]

    path = save_manifest(cat, str(tmp_path / "m.json"))
    cat2 = load_manifest(spark, path)
    assert cat2.model("clickmodel").features == (("f", "v1"),)
    assert "alice" in cat2._users
    assert cat2._providers["local_spark"].provider_type == "SPARK_OFFLINE"


def test_features_model_attribution(served_catalog):
    import pytest

    from embeddinghub_spark.catalog import ResourceNotFound

    cat = served_catalog
    store = OnlineStore(cat)
    store.materialize_feature("f1", "v1")
    fkey = ("f1", "v1")
    cat.register_model("attrib_model", features=[fkey])
    store.features([fkey], {"entity": "a"}, model="attrib_model")
    store.features([fkey], {"entity": "b"}, model="attrib_model")
    assert store.model_usage[("attrib_model", fkey)] == 2
    with pytest.raises(ResourceNotFound):
        store.features([fkey], {"entity": "a"}, model="ghost")


def test_online_get_freshness_guard(spark):
    """A freshness-budgeted GET serves within budget, raises
    StaleValue past it, and refuses to certify freshness for values
    with no timestamp — plain GETs are unchanged."""
    import datetime as dt

    import pytest

    from embeddinghub_spark.serving.online import OnlineTable, StaleValue

    t = OnlineTable("f", "v1")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    t.set("a", 1.0, ts=ts)
    t.set("b", 2.0)  # no timestamp

    now = ts + dt.timedelta(seconds=30)
    assert t.get("a") == 1.0
    assert t.get("a", max_staleness_seconds=60, now=now) == 1.0
    with pytest.raises(StaleValue, match="30s old"):
        t.get("a", max_staleness_seconds=10, now=now)
    with pytest.raises(StaleValue, match="no.*timestamp"):
        t.get("b", max_staleness_seconds=60, now=now)
    assert t.get("b") == 2.0
    with pytest.raises(KeyError):
        t.get("missing")

    # ADVICE r6 pin: a ts-less OVERWRITE clears the previous value's
    # timestamp — otherwise a freshness-guarded get would certify the
    # new value with the old value's age
    t.set("a", 9.0)  # overwrite without a timestamp
    assert t.get("a") == 9.0
    with pytest.raises(StaleValue, match="no.*timestamp"):
        t.get("a", max_staleness_seconds=3600, now=now)


def test_nearest_via_disk_index_matches_bruteforce(spark, tmp_path):
    """An index-registered nearest answers through partition-pruned
    probes and (with full probe coverage) matches the brute-force
    neighbor list exactly."""
    import random

    from embeddinghub_spark.catalog import Catalog
    from embeddinghub_spark.functions.ann_index import ivf_index_build
    from embeddinghub_spark.serving.online import OnlineStore

    rng = random.Random(5)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    idx = str(tmp_path / "ivf")
    ivf_index_build(df, idx, n_cells=4, dim=8)

    store = OnlineStore(Catalog(spark))
    store.register_vector_table("emb", "v1", df)
    q = vecs[17][1]
    brute = store.nearest("emb", "v1", q, 5)

    store.register_vector_index("emb", "v1", idx, nprobe=4)  # all cells
    indexed = store.nearest("emb", "v1", q, 5)
    assert indexed == brute
    assert indexed[0] == 17  # self is its own nearest neighbor


def test_features_serve_with_freshness_budget(spark, tmp_path):
    """The V3 serve path honors max_staleness_seconds end-to-end:
    within budget serves, past budget raises StaleValue, missing
    entities still serve None (the C6 NULL convention)."""
    import datetime as dt

    import pytest

    from embeddinghub_spark.catalog import Catalog
    from embeddinghub_spark.serving.online import OnlineStore, StaleValue

    cat = Catalog(spark)
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    p = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(42, 7.0, ts)], ["user_id", "value", "ts"]
    ).write.parquet(p)
    cat.register_file("src", "v1", p, timestamp_column="ts")
    cat.register_feature("f", "v1", ("src", "v1"), "user_id", "value", "ts")

    store = OnlineStore(cat)
    store.materialize_feature("f", "v1")
    now = ts + dt.timedelta(seconds=120)
    ok = store.features(
        [("f", "v1")], {"entity": 42},
        max_staleness_seconds=300, now=now,
    )
    assert ok == [7.0]
    with pytest.raises(StaleValue):
        store.features(
            [("f", "v1")], {"entity": 42},
            max_staleness_seconds=60, now=now,
        )
    # missing entity: None, not a freshness error
    assert store.features(
        [("f", "v1")], {"entity": 999},
        max_staleness_seconds=60, now=now,
    ) == [None]


def _space_rows(n: int, dim: int, seed: int) -> dict[str, list[float]]:
    """``n`` seeded float32 vectors keyed k0000…, plus planted exact
    ties: permutations of one coordinate multiset (the same distance
    from the origin, summed in any order) and copies of one vector."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = {f"k{i:04d}": rng.normal(0.0, 1.0, dim).astype(np.float32).tolist()
            for i in range(n)}
    for name, head in (("tie_c", [1.0, 2.0]), ("tie_a", [2.0, 1.0]),
                       ("tie_b", [0.0, 1.0, 2.0])):
        rows[name] = (head + [0.0] * dim)[:dim]
    for name in ("dup_z", "dup_m", "dup_a"):
        rows[name] = list(rows["k0007"])
    return rows


def _base_df(spark, rows):
    from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

    schema = StructType([StructField("key", StringType()),
                         StructField("embedding", ArrayType(FloatType()))])
    return spark.createDataFrame(sorted(rows.items()), schema)


def test_space_exact_nn_driver_path_matches_spark(spark, tmp_path):
    """The exact kNN answers from driver-resident vectors exactly as the
    Spark ``knn_bruteforce`` job does. The same space state is held
    three ways: an index-less base + overlay (forced onto Spark), the
    same plus ``build_ann_index`` and a later ``set`` (driver, HNSW
    vectors), and the whole state as an overlay with no base (driver,
    overlay vectors). Covers an overlay key shadowing a base key,
    planted exact-distance ties, key and vector queries and k larger
    than the space; lists must be identical, ties ordered by key."""
    from embeddinghub_spark.observability import last_branch

    dim = 16
    base = _space_rows(60, dim, seed=11)
    writes = {"k0003": [1.0] * dim, "new_1": [1.25] * dim, "dup_q": list(base["k0007"])}
    late = {"late": [0.75] * dim, "k0010": [-1.0] * dim}
    hub = EmbeddingHub(spark)
    on_spark = hub.create_space("nn_spark", dims=dim)
    on_spark.load_dataframe(_base_df(spark, base), serving_index=False)
    indexed = hub.create_space("nn_indexed", dims=dim)
    indexed.load_dataframe(_base_df(spark, base), serving_path=str(tmp_path / "idx"),
                           n_buckets=4)
    for sp in (on_spark, indexed):
        sp.multiset(writes)
    indexed.build_ann_index(m=8, ef_construction=40)
    for sp in (on_spark, indexed):
        sp.multiset(late)  # after the build: the index must track it
    overlay_only = hub.create_space("nn_overlay", dims=dim)
    overlay_only.multiset({**base, **writes, **late})

    n = len({**base, **writes, **late})
    queries = [
        dict(k=3, vector=[0.0] * dim),        # three planted ties at sqrt(5)
        dict(k=5, key="k0007"),               # four copies at distance 0
        dict(k=4, key="k0003"),               # overlay shadows the base
        dict(k=6, key="late"),                # set after the build
        dict(k=n + 5, vector=base["k0001"]),  # k larger than the space
    ]
    for q in queries:
        want = on_spark.nearest_neighbor(**q)
        assert last_branch("space_nearest_exact") == "spark_bruteforce"
        for sp in (indexed, overlay_only):
            assert sp.nearest_neighbor(**q) == want, (sp.name, q)
            assert last_branch("space_nearest_exact") == "driver_resident"
    assert on_spark.nearest_neighbor(**queries[0]) == ["tie_a", "tie_b", "tie_c"]
    assert indexed.nearest_neighbor(**queries[1])[:4] == ["dup_a", "dup_m", "dup_q", "dup_z"]
    assert len(overlay_only.nearest_neighbor(**queries[-1])) == n
    assert "k0001" in overlay_only.nearest_neighbor(**queries[-1])  # vector query keeps it


def test_space_exact_nn_on_indexed_space_runs_no_spark_job(spark, tmp_path):
    """A bench-sized space (1,000 loaded + 252 written keys, 16 dims,
    8 buckets, ANN index built) answers exact kNN with zero Spark jobs;
    dropping the index (a reload) puts the query back on Spark, which
    the job tracker sees."""
    import numpy as np

    from embeddinghub_spark.observability import last_branch

    dim = 16
    rows = _space_rows(1000, dim, seed=5)
    sp = EmbeddingHub(spark).create_space("nn_bench", dims=dim)
    base = _base_df(spark, rows)
    sp.load_dataframe(base, serving_path=str(tmp_path / "a"), n_buckets=8)
    sp.build_ann_index()
    rng = np.random.default_rng(6)
    for i in range(252):
        sp.set(f"w{i:03d}", rng.normal(0.0, 1.0, dim).tolist())
    tracker = spark.sparkContext.statusTracker()

    before = set(tracker.getJobIdsForGroup())
    by_key = sp.nearest_neighbor(10, key="k0042")
    by_vec = sp.nearest_neighbor(10, vector=rows["k0042"])
    assert set(tracker.getJobIdsForGroup()) == before
    assert last_branch("space_nearest_exact") == "driver_resident"
    assert by_vec[0] == "k0042" and by_key[:9] == by_vec[1:]

    sp.load_dataframe(base, serving_path=str(tmp_path / "b"), n_buckets=8)
    before = set(tracker.getJobIdsForGroup())
    sp.nearest_neighbor(10, key="k0042")
    assert set(tracker.getJobIdsForGroup()) - before
    assert last_branch("space_nearest_exact") == "spark_bruteforce"


def test_space_values_are_float32(spark):
    """Writes round to float32 once, so get, multiget, download and the
    ANN index all see the same value; None/NaN/inf components raise a
    ValueError naming the key and stage nothing."""
    from array import array

    sp = EmbeddingHub(spark).create_space("f32", dims=2)
    sp.set("x", [0.1, 0.2])
    want = array("f", [0.1, 0.2]).tolist()
    assert want != [0.1, 0.2]
    assert sp.get("x") == want
    assert sp.multiget(["x"]) == {"x": want}
    assert [list(r["embedding"]) for r in sp.download().collect()] == [want]
    sp.build_ann_index()
    sp.set("y", [0.3, 0.4])  # after the build, as before it
    assert sp._ann.vectors()["y"] == tuple(sp.get("y"))
    assert sp._ann.vectors()["x"] == tuple(want)
    for bad in ([None, 1.0], [float("nan"), 1.0], [float("inf"), 1.0], [1e39, 1.0]):
        with pytest.raises(ValueError, match="'bad'"):
            sp.multiset({"ok": [1.0, 1.0], "bad": bad})
    assert sp.get("ok") is None


def test_space_nn_validates_query(spark):
    """A query vector of the wrong dimension or with a NaN raises on the
    exact path (driver and Spark) as on the approximate one, and so
    does k < 1."""
    hub = EmbeddingHub(spark)
    driver = hub.create_space("q_driver", dims=2)
    driver.multiset({"x": [0.0, 1.0], "y": [1.0, 0.0]})
    on_spark = hub.create_space("q_spark", dims=2)
    on_spark.load_dataframe(_base_df(spark, {"x": [0.0, 1.0]}), serving_index=False)
    driver.build_ann_index()
    for sp, approx in ((driver, False), (driver, True), (on_spark, False)):
        with pytest.raises(ValueError, match="dim 1, space expects 2"):
            sp.nearest_neighbor(1, vector=[0.0], approximate=approx)
        with pytest.raises(ValueError, match="query vector"):
            sp.nearest_neighbor(1, vector=[float("nan"), 0.0], approximate=approx)
        with pytest.raises(ValueError, match="k must be >= 1"):
            sp.nearest_neighbor(0, vector=[0.0, 0.0], approximate=approx)


def test_space_reload_drops_stale_ann_index(spark):
    """``load_dataframe`` after ``build_ann_index`` drops the index:
    approximate queries ask for a rebuild instead of answering from the
    old graph, and exact ones run on Spark over the new base."""
    from embeddinghub_spark.observability import last_branch

    sp = EmbeddingHub(spark).create_space("reload", dims=2)
    sp.load_dataframe(_base_df(spark, {"a": [0.0, 0.0], "b": [9.0, 9.0]}),
                      serving_index=False)
    sp.build_ann_index()
    assert sp.nearest_neighbor(1, vector=[0.0, 0.1], approximate=True) == ["a"]
    sp.load_dataframe(_base_df(spark, {"b": [0.0, 0.2], "c": [0.0, 0.3]}),
                      serving_index=False)
    with pytest.raises(RuntimeError, match="build_ann_index"):
        sp.nearest_neighbor(1, vector=[0.0, 0.1], approximate=True)
    assert sp.nearest_neighbor(2, vector=[0.0, 0.1]) == ["b", "c"]
    assert last_branch("space_nearest_exact") == "spark_bruteforce"
    sp.build_ann_index()
    assert sp.nearest_neighbor(1, vector=[0.0, 0.1], approximate=True) == ["b"]
    assert sp.nearest_neighbor(2, vector=[0.0, 0.1]) == ["b", "c"]
    assert last_branch("space_nearest_exact") == "driver_resident"
