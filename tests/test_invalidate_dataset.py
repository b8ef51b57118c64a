"""io.dataset_memo and io.invalidate_dataset: the one per-dataset
memo and its only eviction point. Without eviction, rewriting a
dataset dir mid-session leaves Spark training against the old corpus
(e.g. the `_k_cells` count) while the SQL oracle recomputes from the
new one."""

import ast
import pathlib
import shutil

import pytest
from conftest import SF_SMOKE


@pytest.fixture()
def tmp_dataset(tmp_path):
    """A writable copy of the sf0.001 embeddings table (testdata is
    read-only; invalidation is only observable after a rewrite)."""
    d = tmp_path / "ds"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                d / "embeddings.parquet")
    return str(d)


def test_k_cells_rewrite_needs_invalidate(spark, tmp_dataset):
    from pro_etl_spark import io as pio
    from pro_etl_spark.ops import similarity as sim

    k1 = sim._k_cells(spark, tmp_dataset)
    n1 = pio.load(spark, tmp_dataset, "embeddings").count()

    # rewrite the dir with half the rows — the memo must go stale
    # (documented), and invalidate_dataset must bring it current
    half = pio.load(spark, tmp_dataset, "embeddings").limit(max(n1 // 2, 1))
    pdf = half.toPandas()
    shutil.rmtree(tmp_dataset)
    import os

    os.makedirs(tmp_dataset)
    pdf.to_parquet(f"{tmp_dataset}/embeddings.parquet")

    assert sim._k_cells(spark, tmp_dataset) == k1, (
        "memo is per-(app, dataset) by design — stale until invalidated"
    )
    pio.invalidate_dataset(spark, tmp_dataset)
    k2 = sim._k_cells(spark, tmp_dataset)
    import math

    n2 = pio.load(spark, tmp_dataset, "embeddings").count()
    assert n2 == max(n1 // 2, 1)
    assert k2 == max(sim.K_CELLS, math.ceil(math.sqrt(n2)))


def test_invalidate_evicts_all_registered_memos(spark, tmp_dataset):
    """Every memo entry keyed on the dataset is evicted, whatever its
    tag or application, and entries for OTHER datasets survive."""
    from pro_etl_spark import io as pio

    (memo,) = pio.DATASET_MEMOS
    other = "/some/other/ds"
    pio.dataset_memo(spark, tmp_dataset, "t", lambda: "stale")
    pio.dataset_memo(spark, tmp_dataset, ("t", 3), lambda: "stale")
    memo[("appX", tmp_dataset, "t")] = "stale"
    pio.dataset_memo(spark, other, "t", lambda: "keep")
    pio.invalidate_dataset(spark, tmp_dataset)
    assert not [k for k in memo if k[1] == tmp_dataset]
    assert pio.dataset_memo(spark, tmp_dataset, "t", lambda: "new") == "new"
    assert pio.dataset_memo(spark, other, "t", lambda: "rebuilt") == "keep"
    app = spark.sparkContext.applicationId
    assert memo.pop((app, other, "t")) == "keep"
    memo.pop((app, tmp_dataset, "t"))


def test_dataset_memo_hits_on_falsy_values_and_nests(spark, tmp_dataset):
    """A hit is key presence: a falsy value (a 0-row corpus count) is
    built once. ``build`` may itself call ``dataset_memo``."""
    from pro_etl_spark import io as pio

    calls = []

    def count():
        calls.append("count")
        return 0

    def outer():
        calls.append("outer")
        return pio.dataset_memo(spark, tmp_dataset, "inner", count) + 1

    assert pio.dataset_memo(spark, tmp_dataset, "outer", outer) == 1
    assert pio.dataset_memo(spark, tmp_dataset, "outer", outer) == 1
    assert pio.dataset_memo(spark, tmp_dataset, "inner", count) == 0
    assert calls == ["outer", "count"]
    pio.invalidate_dataset(spark, tmp_dataset)


def test_memo_registry_covers_model_state_dicts(spark, tmp_dataset):
    """The similarity model state (corpus count, k-means centroids, PQ
    codebooks, PCA axes) lives in the one memo, keyed on its dataset,
    and invalidate_dataset drops all of it."""
    from pro_etl_spark import io as pio
    from pro_etl_spark.ops import similarity as sim

    sim._km_centroid_rows(spark, tmp_dataset)
    sim._pq_codebook_rows(spark, tmp_dataset, 0)
    sim._pca_model(spark, tmp_dataset)
    (memo,) = pio.DATASET_MEMOS
    tags = {k[2] for k in memo if k[1] == tmp_dataset}
    assert {"n_vec", "km_centroids", "pq_codebooks", "pca_model"} <= tags
    pio.invalidate_dataset(spark, tmp_dataset)
    assert not [k for k in memo if k[1] == tmp_dataset]


def test_view_memo_is_session_scoped(spark):
    """Temp views are SparkSession-scoped, so the register_views memo
    must track each session independently (ADVICE r10: an
    applicationId-keyed memo tracked only the LAST (app, sf_dir) pair,
    so invalidate could re-register views into the wrong session or
    skip a session whose views were stale)."""
    from pro_etl_spark import io as pio

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    s2 = spark.newSession()
    pio.register_views(spark, sf_a)
    pio.register_views(s2, sf_b)
    # both sessions tracked, each with its own dataset (the app-keyed
    # memo kept only s2's later registration)
    assert pio._REGISTERED_VIEWS[spark] == sf_a
    assert pio._REGISTERED_VIEWS[s2] == sf_b
    # each session's views resolve against ITS dataset
    n_a = spark.sql("SELECT count(*) AS n FROM events").collect()[0].n
    n_b = s2.sql("SELECT count(*) AS n FROM events").collect()[0].n
    assert (n_a, n_b) == (1000, 10000)
    # invalidating session 1's dataset re-registers session 1's views
    # (skipped under the app-keyed memo, which said sf_b) and leaves
    # session 2's registration untouched
    pio.invalidate_dataset(spark, sf_a)
    assert pio._REGISTERED_VIEWS[spark] == sf_a
    assert pio._REGISTERED_VIEWS[s2] == sf_b
    assert spark.sql("SELECT count(*) AS n FROM events").collect()[0].n == 1000


def test_substr_probe_memo_registered_for_eviction(spark, tmp_path):
    """The decontaminate_substring probe list is dataset state like
    the similarity models: a rewritten dataset dir must not keep
    serving stale probes after invalidate_dataset."""
    import pro_etl_spark
    from pro_etl_spark import io as pio

    d = str(tmp_path / "docs")
    pathlib.Path(d).mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{d}/documents.parquet")
    pro_etl_spark.get_queries()["decontaminate_substring"](spark, d)
    (memo,) = pio.DATASET_MEMOS
    key = (spark.sparkContext.applicationId, d, "substr_probes")
    assert memo[key]
    pio.invalidate_dataset(spark, d)
    assert key not in memo


def test_no_module_level_memo_dicts_outside_io():
    """One per-dataset memo: no module under pro_etl_spark/ except
    io.py binds a module-level ``*_MEMO`` name; per-dataset state goes
    through ``io.dataset_memo`` so it has one key layout and one
    eviction point."""
    import pro_etl_spark

    root = pathlib.Path(pro_etl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "io.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            found += [
                f"{path.relative_to(root)}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_MEMO")
            ]
    assert not found, found
