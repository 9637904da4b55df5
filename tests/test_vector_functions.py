"""Vector scalar functions vs a NumPy float64 oracle.

Mirrors the reference's semantic golden assertions
(tests/test_integration.py:133-137 self-similarity; demo.py:300-320
numpy parity) without copying its code.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions import vector as V

RNG = np.random.default_rng(7)


def _df(spark, rows, dim=8):
    data = [(i, [float(x) for x in row]) for i, row in enumerate(rows)]
    return spark.createDataFrame(data, f"id long, a array<float>")


def test_dot_norm_cosine_euclidean_match_numpy(spark):
    a = RNG.random((20, 16)).astype(np.float32)
    b = RNG.random((20, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(20)],
        "id long, a array<float>, b array<float>",
    )
    out = df.select(
        "id",
        V.dot_product("a", "b").alias("dot"),
        V.l2_norm("a").alias("norm"),
        V.cosine_similarity("a", "b").alias("cos"),
        V.euclidean_distance("a", "b").alias("l2"),
    ).collect()
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    for r in out:
        i = r["id"]
        assert r["dot"] == pytest.approx(float(a64[i] @ b64[i]), abs=1e-9)
        assert r["norm"] == pytest.approx(float(np.linalg.norm(a64[i])), abs=1e-9)
        exp_cos = float(
            (a64[i] @ b64[i])
            / (
                max(np.linalg.norm(a64[i]), V.NORM_EPS)
                * max(np.linalg.norm(b64[i]), V.NORM_EPS)
            )
        )
        assert r["cos"] == pytest.approx(exp_cos, abs=1e-9)
        assert r["l2"] == pytest.approx(float(np.linalg.norm(a64[i] - b64[i])), abs=1e-9)


def test_zero_vector_cosine_is_zero_not_nan(spark):
    """eps=1e-8 norm floor: reference service/optimized_vector_store.py:36-38."""
    df = spark.createDataFrame(
        [(0, [0.0] * 4, [1.0, 2.0, 3.0, 4.0])], "id long, a array<float>, b array<float>"
    )
    r = df.select(V.cosine_similarity("a", "b").alias("c")).first()
    assert r["c"] == 0.0 and not math.isnan(r["c"])


def test_l2_normalize_unit_norm(spark):
    df = _df(spark, RNG.random((5, 8)).astype(np.float32))
    out = df.select(V.l2_norm(V.l2_normalize("a")).alias("n")).collect()
    for r in out:
        assert r["n"] == pytest.approx(1.0, abs=1e-9)


def test_self_cosine_is_one(spark):
    df = _df(spark, RNG.random((5, 8)).astype(np.float32))
    out = df.select(V.cosine_similarity("a", "a").alias("c")).collect()
    for r in out:
        assert r["c"] == pytest.approx(1.0, abs=1e-9)


def test_score_conversions(spark):
    df = spark.range(1)
    row = df.select(
        V.similarity_for_metric("euclidean", F.lit(3.0)).alias("sim_e"),
        V.distance_for_metric("cosine", F.lit(0.25)).alias("dist_c"),
        V.distance_for_metric("dot_product", F.lit(2.5)).alias("dist_d"),
    ).first()
    assert row["sim_e"] == pytest.approx(0.25)
    assert row["dist_c"] == pytest.approx(0.75)
    assert row["dist_d"] == pytest.approx(-2.5)


def test_sql_registered_functions(spark):
    V.register_sql_functions(spark)
    row = spark.sql(
        "SELECT vec_cosine(array(1.0D,0.0D), array(1.0D,0.0D)) AS c, "
        "vec_l2(array(0.0D,0.0D), array(3.0D,4.0D)) AS d, "
        "vec_dot(array(1.0D,2.0D), array(3.0D,4.0D)) AS p"
    ).first()
    assert row["c"] == pytest.approx(1.0, abs=1e-8)
    assert row["d"] == pytest.approx(5.0)
    assert row["p"] == pytest.approx(11.0)


def test_int8_quantization_roundtrip_and_scoring(spark):
    """Quantized cosine tracks float cosine within quantization error,
    and top-k over real embeddings is stable under int8 first-pass."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.select(
        "vec_id",
        "embedding",
        V.quantize_int8("embedding").alias("q8"),
    )
    deq = q.select(
        "vec_id",
        V.cosine_similarity("embedding", "embedding").alias("self_f"),
        V.cosine_similarity(
            V.dequantize_int8("q8"), V.dequantize_int8("q8")
        ).alias("self_q"),
        V.euclidean_distance("embedding", V.dequantize_int8("q8")).alias("err"),
        V.l2_norm("embedding").alias("norm"),
    )
    rows = deq.collect()
    for r in rows:
        assert r["self_q"] == pytest.approx(1.0, abs=1e-9)
        # per-component error <= scale/2 => vector error <= scale*sqrt(d)/2
        assert r["err"] < r["norm"] * 0.01 + 1e-6

    # top-10 by quantized scores vs float scores: strong overlap
    target = emb.where("vec_id = 0").first()["embedding"]
    fl = spark.createDataFrame([(list(target),)], "t array<float>")
    base = q.crossJoin(fl)
    both = base.select(
        "vec_id",
        V.cosine_similarity("embedding", "t").alias("s_float"),
        V.cosine_similarity(V.dequantize_int8("q8"), "t").alias("s_q8"),
    ).collect()
    top_f = [r["vec_id"] for r in sorted(both, key=lambda r: (-r["s_float"], r["vec_id"]))[:10]]
    top_q = [r["vec_id"] for r in sorted(both, key=lambda r: (-r["s_q8"], r["vec_id"]))[:10]]
    assert len(set(top_f) & set(top_q)) >= 8
    assert top_f[0] == top_q[0] == 0


def test_vector_literal_round_trip_bit_exact(spark):
    """One folded literal carries every double bit-exactly: NaN, ±Inf,
    -0.0, subnormals, the smallest normal and shortest-repr values."""
    vals = [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
        5e-324, -2.5e-320, 2.2250738585072014e-308, 1 / 3, -1e308, 0.1,
        float(np.float32(0.1)),
    ]
    got = spark.range(1).select(V.vector_literal(vals).alias("v")).first()["v"]
    want = np.asarray(vals, dtype=np.float64)
    assert np.array_equal(
        np.asarray(got, dtype=np.float64).view(np.int64)[~np.isnan(want)],
        want.view(np.int64)[~np.isnan(want)],
    )
    assert math.isnan(got[0])

    m = RNG.standard_normal((5, 7))
    m[2, 3] = -0.0
    got_m = spark.range(1).select(V.vector_literal(m).alias("m")).first()["m"]
    assert np.array_equal(np.asarray(got_m).view(np.int64), m.view(np.int64))
    # numpy vectors, float32 rows and python ints convert like float()
    got_i = spark.range(1).select(
        V.vector_literal(np.float32([0.1, 2])).alias("v"),
        V.vector_literal([1, 2]).alias("w"),
    ).first()
    assert got_i["v"] == [float(np.float32(0.1)), 2.0]
    assert got_i["w"] == [1.0, 2.0]
    with pytest.raises(TypeError):
        V.vector_literal([1.0, None])
    with pytest.raises(ValueError):
        V.vector_literal(np.zeros((2, 2, 2)))


def test_vector_literal_folds_to_one_literal(spark):
    """The optimized plan holds ONE array literal — the JSON parse is
    constant-folded away — both bare and under a scoring expression."""
    q = RNG.standard_normal(16)
    df = spark.range(3).select(V.vector_literal(q).alias("q"))
    opt = df._jdf.queryExecution().optimizedPlan()
    lit = opt.projectList().apply(0).child()
    assert lit.getClass().getSimpleName() == "Literal"
    assert np.array_equal(np.asarray(df.first()["q"]), q)

    a = RNG.random((4, 16)).astype(np.float32)
    vecs = _df(spark, a)
    scored = vecs.select("id", V.dot_product("a", V.vector_literal(q)).alias("s"))
    plan = scored._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan
    got = [r["s"] for r in scored.orderBy("id").collect()]
    want = a.astype(np.float64) @ q
    assert np.allclose(got, want, rtol=1e-12, atol=1e-12)
