"""Frozen matrices (centroids, PQ codebooks, LSH planes) reach Spark
as ONE ``from_json`` literal each (llm/vectors.py::_json_lit).  The
literal must carry every double bit-for-bit, and the expressions that
walk it must accumulate in the same left-to-right order as the plain
Python reference below — exact equality, not a tolerance.  The
matrices mix 17-significant-digit doubles, subnormals, ``-0.0`` and
``1e300``.  Several PQ-family gate entries are rows-only, so this is
the exactness check of the ADC table, the PQ codes and the cell
scores they start from.
"""

import math

import numpy as np
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec

DIM, SUB = 8, 4
SPECIAL = [
    0.30000000000000004,
    1 / 3,
    -7.000000000000001,
    123456789.12345679,
    5e-324,
    -5e-324,
    2.2250738585072014e-308,
    -0.0,
    1e-300,
]


def _mixed(rng, n, huge=False):
    """Seeded rows of 17-digit doubles with the special values spliced
    in (``1e300`` only in frozen matrices, where it cannot meet another
    huge value and turn a sum into inf - inf)."""
    pool = SPECIAL + ([1e300] if huge else [])
    rows = []
    for i in range(n):
        row = [float(x) for x in rng.standard_normal(DIM) / 3]
        row[i % DIM] = pool[i % len(pool)]
        row[(i * 5 + 3) % DIM] = pool[(i * 7 + 2) % len(pool)]
        rows.append(row)
    return rows


_rng = np.random.default_rng(11)
VECS = _mixed(_rng, 24)
CENTS = [(cid, c) for cid, c in enumerate(_mixed(_rng, 5, huge=True))]
BY_SUB = {
    j: [(code, c[:SUB]) for code, c in enumerate(_mixed(_rng, 6, huge=True))]
    for j in range(DIM // SUB)
}
PLANES = _mixed(_rng, 8, huge=True)


def _fold(xs):
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _dot(a, b):
    return _fold(x * y for x, y in zip(a, b))


def _norm(a):
    return math.sqrt(_fold(x * x for x in a))


def _bits(xs):
    # repr tells -0.0 from 0.0 and prints every double exactly
    return [repr(float(x)) for x in xs]


def _frame(spark):
    return spark.createDataFrame(
        list(enumerate(VECS)), "query_id int, query_vec array<double>"
    )


def test_literals_round_trip_bit_exact(spark):
    lit = lvec._json_lit([v for _c, v in CENTS], "array<array<double>>")
    got = spark.range(1).select(F.expr(lit).alias("m")).first()["m"]
    assert [_bits(r) for r in got] == [_bits(v) for _c, v in CENTS]


def test_cell_scores_and_probe_cells_match_python_reference(spark):
    rows = (
        _frame(spark)
        .select("query_id", "query_vec", lvec.norm("query_vec").alias("n"))
        .select(
            "query_id",
            "n",
            F.expr(lvec._cell_scores("query_vec", "n", CENTS)).alias("s"),
        )
        .collect()
    )
    assert len(rows) == len(VECS)
    for r in rows:
        v = VECS[r["query_id"]]
        assert _bits([r["n"]]) == _bits([_norm(v)])
        want = [
            (_dot(v, c) / (_norm(v) * _norm(c)), -cid) for cid, c in CENTS
        ]
        assert [_bits([s["s"]]) + [s["nc"]] for s in r["s"]] == [
            _bits([s]) + [nc] for s, nc in want
        ]
    probes = lvec._probe_frame(_frame(spark), CENTS, 2, "query_id", "query_vec")
    got = {}
    for r in probes.collect():
        got.setdefault(r["query_id"], []).append(r["cell_id"])
    for qid, v in enumerate(VECS):
        ranked = sorted(
            ((_dot(v, c) / (_norm(v) * _norm(c)), -cid) for cid, c in CENTS),
            reverse=True,
        )
        assert sorted(got[qid]) == sorted(-nc for _s, nc in ranked[:2]), qid


def test_adc_table_and_base_dot_match_python_reference(spark):
    rows = lvec._adc_probes(
        _frame(spark), CENTS, BY_SUB, 2, "query_id", "query_vec"
    ).collect()
    assert len(rows) == 2 * len(VECS)
    cents = dict(CENTS)
    for r in rows:
        q = VECS[r["query_id"]]
        assert _bits([r["__bd"]]) == _bits([_dot(q, cents[r["cell_id"]])])
        want = [
            [_dot(q[j * SUB : (j + 1) * SUB], c) for _code, c in BY_SUB[j]]
            for j in sorted(BY_SUB)
        ]
        assert [_bits(t) for t in r["__tab"]] == [_bits(t) for t in want]


def test_pq_codes_match_python_reference(spark):
    rows = (
        _frame(spark)
        .select("query_id", lvec._pq_codes_expr("query_vec", BY_SUB).alias("c"))
        .collect()
    )
    for r in rows:
        v = VECS[r["query_id"]]
        want = []
        for j in sorted(BY_SUB):
            s = v[j * SUB : (j + 1) * SUB]
            dists = [
                (_fold((x - y) * (x - y) for x, y in zip(s, c)), code)
                for code, c in BY_SUB[j]
            ]
            want.append(min(dists)[1])  # ties → smallest code
        assert list(r["c"]) == want, r["query_id"]


def test_sign_buckets_match_python_reference(spark):
    rows = (
        _frame(spark)
        .select("query_id", lvec.sign_bucket("query_vec", PLANES).alias("b"))
        .collect()
    )
    for r in rows:
        v = VECS[r["query_id"]]
        want = sum(2**i for i, p in enumerate(PLANES) if _dot(v, p) >= 0)
        assert r["b"] == want, r["query_id"]
