"""Write-path parity: a batch given as Python lists (built driver-side as
one Arrow table) stores exactly the rows the same vectors store when
given as a DataFrame (engine columns computed by Spark expressions and
kernels) — on every store layout that adds engine-computed columns."""

from __future__ import annotations

import numpy as np
import pytest

from mlx_vector_db_spark.store import VectorStoreCatalog

DIM = 8
N_BASE = 300
N_NEW = 40
PROMOTED = {"category": "string", "priority": "int", "weight": "double"}
DF_SCHEMA = (
    "id long, embedding array<double>, category string, priority int, "
    "weight double, meta map<string,string>"
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return VectorStoreCatalog(spark, tmp_path / "stores")


def _build(st, kind: str) -> None:
    """``ivf128`` is past ``ASSIGN_ARROW_MIN_K`` (DataFrame writes take
    the Arrow assign path), ``ivf_cells`` is a 16-cell index with the
    cell-partitioned layout, and ``pq`` sits on a 16-cell IVF (DataFrame
    writes take the expression assign path)."""
    if kind.startswith("ivf"):
        nlist = 128 if kind == "ivf128" else 16
        st.build_index(nlist=nlist, seed=3, partition_by_cell=kind == "ivf_cells")
    elif kind == "lsh":
        st.build_index(kind="lsh", n_planes=4)
    elif kind == "pq":
        st.build_index(nlist=16, seed=3)
        st.build_pq(m=4, nbits=4, seed=3)
    elif kind == "int8_bq":
        st.build_bq(seed=3)


def _batch(rng, n: int) -> np.ndarray:
    """float64 rows that are NOT float32-exact, so both paths round;
    plus a zero row, a float32-subnormal row and a huge-magnitude row."""
    x = rng.standard_normal((n, DIM)) * rng.uniform(0.01, 100.0, (n, 1))
    x[0] = 0.0
    x[1] = rng.standard_normal(DIM) * 1e-41
    x[2] = rng.standard_normal(DIM) * 1e37
    return x


def _meta(i: int) -> dict:
    md = {"category": "AB"[i % 2], "note": f"n{i}", "score": i / 7}
    if i % 3:
        md["priority"] = i % 5
    if i % 4 == 0:
        md["weight"] = i / 3
    return md


def _as_df(spark, x: np.ndarray, ids: list[int], metas: list[dict]):
    rows = []
    for i, vec, md in zip(ids, x, metas):
        rest = {k: str(v) for k, v in md.items() if k not in PROMOTED}
        # promoted columns in PROMOTED order, as DF_SCHEMA lists them
        rows.append((i, vec.tolist(), *(md.get(k) for k in PROMOTED), rest))
    return spark.createDataFrame(rows, DF_SCHEMA)


def _assert_same_rows(st, list_ids: list[int], df_ids: list[int]) -> int:
    """Compares every stored column; returns the store's row count."""
    got = {r["id"]: r.asDict() for r in st.to_df().collect()}
    fields = [f.name for f in st.schema.fields if f.name != "id"]
    for a, b in zip(list_ids, df_ids):
        ra, rb = got[a], got[b]
        for name in fields:
            if name == "norm":
                # bit-equal, not approximately equal
                assert np.float64(ra[name]).view(np.int64) == np.float64(rb[name]).view(
                    np.int64
                ), (a, name)
            else:
                assert ra[name] == rb[name], (a, name, ra[name], rb[name])
    return len(got)


@pytest.mark.parametrize(
    "kind", ["plain", "ivf128", "ivf_cells", "lsh", "pq", "int8_bq"]
)
def test_list_and_dataframe_writes_store_identical_rows(catalog, spark, kind):
    st = catalog.create_store(
        "wp", kind, dimension=DIM, promoted_keys=PROMOTED, quantize=kind == "int8_bq"
    )
    rng = np.random.default_rng(11)
    st.add_vectors(rng.standard_normal((N_BASE, DIM)).tolist(), ids=list(range(N_BASE)))
    _build(st, kind)

    x = _batch(rng, N_NEW)
    metas = [_meta(i) for i in range(N_NEW)]
    list_ids = [1000 + i for i in range(N_NEW)]
    df_ids = [2000 + i for i in range(N_NEW)]
    assert st.add_vectors(x.tolist(), metas, ids=list_ids) == N_NEW
    assert st.add_vectors(_as_df(spark, x, df_ids, metas)) == N_NEW
    assert _assert_same_rows(st, list_ids, df_ids) == N_BASE + 2 * N_NEW

    # upsert: list input skips the validation job, same stored rows
    y = _batch(rng, 6)
    up_metas = [_meta(i + 1) for i in range(6)]
    assert st.upsert_vectors(y.tolist(), up_metas, ids=list_ids[:6]) == (6, 0)
    assert st.upsert_vectors(_as_df(spark, y, df_ids[:6], up_metas)) == (6, 0)
    assert _assert_same_rows(st, list_ids, df_ids) == N_BASE + 2 * N_NEW


def test_list_input_errors_unchanged(catalog):
    """Ragged rows, None/NaN/Inf components (float32 overflow included)
    and misaligned metadata or ids fail before anything is written."""
    st = catalog.create_store("err", "m", dimension=3, promoted_keys={"p": "int"})
    st.add_vectors([[1.0, 2.0, 3.0]], ids=[0])
    good = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    dim_msg = "embedding dimension mismatch: store expects 3"
    finite_msg = "embedding rows with null/NaN/Inf components"
    for write in (
        lambda v, m=None, i=(5, 6): st.add_vectors(v, m, ids=list(i)),
        lambda v, m=None, i=(5, 6): st.upsert_vectors(v, m, ids=list(i)),
    ):
        with pytest.raises(ValueError, match=dim_msg):
            write([[1.0, 0.0, 0.0], [1.0, 0.0]])
        with pytest.raises(ValueError, match=dim_msg):
            write([[1.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]])
        for bad in (None, float("nan"), float("inf"), float("-inf"), 1e39):
            with pytest.raises(ValueError, match=finite_msg):
                write([[1.0, 0.0, 0.0], [0.0, bad, 0.0]])
        with pytest.raises(ValueError, match=r"\(2\) and metadata \(1\) lengths differ"):
            write(good, [{}])
        with pytest.raises(ValueError, match=r"\(2\) and ids \(1\) lengths differ"):
            write(good, None, (5,))
        # a promoted value of the wrong type is refused, not coerced
        with pytest.raises((TypeError, ValueError)):
            write(good, [{"p": 1.5}, {}])
    with pytest.raises(ValueError, match="upsert requires explicit ids"):
        st.upsert_vectors(good)
    with pytest.raises(ValueError, match="duplicate ids"):
        st.upsert_vectors(good, ids=[7, 7])
    assert st.count() == 1
    assert st.upsert_vectors([], ids=[]) == (0, 0)
