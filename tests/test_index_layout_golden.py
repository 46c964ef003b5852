"""Golden on-disk layout of both persisted vector indexes.

One fixed seeded frame runs the whole maintenance lifecycle —
build → delta merge → erasure → compaction — through the raw IVF
index and the IVF-PQ index.  For every stored relation the test pins
the SHA-256 of its sorted rows, its set of ``cell_id=`` directories
and the number of data files per cell, so a refactor of the index
code cannot change what lands on disk without failing here.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec

N_CELLS = 4
CELLS = tuple(f"cell_id={c}" for c in range(N_CELLS))

#: per codec: relation -> (sha256 of its sorted rows, its cell
#: directories, files in each cell — None for unpartitioned relations,
#: whose file count follows the session's parallelism).  Captured on
#: the code before the index lifecycle was unified.
GOLDEN = {
    "raw": {
        "cells": (
            "a348f7aa50b9bda576524a1084495c70fba8f549108f2994f2ec94eff99dc73b",
            CELLS,
            1,
        ),
        "centroids": (
            "73c4ebb3eaa245289dfd48981ceb10561196b08c550fccadfec551f3ceaa98b5",
            (),
            None,
        ),
    },
    "pq": {
        "codes": (
            "27592e29c99473c9f83d4dcc60dfeacc858ee30f7b19c1db8459488943962a0b",
            CELLS,
            1,
        ),
        "vectors": (
            "f73736c44abdad3c2872eb8920423ca7bf63f006223de636c3a7868a959d2674",
            (),
            None,
        ),
        "centroids": (
            "73c4ebb3eaa245289dfd48981ceb10561196b08c550fccadfec551f3ceaa98b5",
            (),
            None,
        ),
        "codebooks": (
            "5ec8bd0d16fe3c36dd1981ebd0caeba1c6ecbe996bde13c20e350d88b93670df",
            (),
            None,
        ),
    },
}


def _emb(spark, n=40, dim=8):
    rows = [
        (
            i,
            [float((i * 11 + d * 7) % 13 - 6) + 0.5 * d for d in range(dim)],
            i % 3,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _lifecycle(spark, emb, path, codec):
    """build on ids < 32, merge a delta, forget two ids, compact."""
    base = emb.filter(F.col("vec_id") < 32)
    if codec == "raw":
        lvec.build_ivf_index(base, path, n_cells=N_CELLS, meta_cols=["label"])
        # a new id plus an UPDATED id whose vector moves
        updated = emb.filter(F.col("vec_id") == 5).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
            "label",
        )
        delta = emb.filter(F.col("vec_id") == 32).unionByName(updated)
        lvec.add_to_ivf_index(delta, path)
    else:
        lvec.build_ivfpq_index(
            base, path, n_cells=N_CELLS, m=4, k_codes=8, meta_cols=["label"]
        )
        # a new id plus a byte-identical replay of a stored id
        delta = emb.filter(F.col("vec_id").isin(5, 32))
        lvec.add_to_ivfpq_index(delta, path)
    lvec.delete_from_ivf_index(
        spark.createDataFrame([(3,), (17,)], "vec_id long"), path
    )
    lvec.compact_ivf_index(spark, path)


def _relation_layout(spark, rel_path):
    rows = sorted(repr(tuple(r)) for r in spark.read.parquet(rel_path).collect())
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    cells = sorted(d for d in os.listdir(rel_path) if d.startswith("cell_id="))
    files = {
        sum(1 for f in os.listdir(os.path.join(rel_path, d)) if f.endswith(".parquet"))
        for d in cells
    }
    return digest, tuple(cells), (files.pop() if len(files) == 1 else files or None)


def index_layout(spark, path):
    return {
        rel: _relation_layout(spark, os.path.join(path, rel))
        for rel in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, rel))
    }


@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_index_lifecycle_golden_layout(spark, tmp_path_factory, codec):
    path = str(tmp_path_factory.mktemp(f"golden_{codec}") / "idx")
    _lifecycle(spark, _emb(spark), path, codec)
    layout = index_layout(spark, path)
    assert set(layout) == set(GOLDEN[codec])
    for rel, (digest, cells, files) in GOLDEN[codec].items():
        got_digest, got_cells, got_files = layout[rel]
        assert (got_cells, got_files) == (cells, files), rel
        assert got_digest == digest, rel
