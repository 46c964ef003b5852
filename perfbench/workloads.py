"""The benchmark's workloads.

Three workloads replay ``__spark_entry__.queries()`` entries; each op
is one entry call forced with the ``noop`` sink.  ``vector_serving``
drives the public index functions of ``llm.vectors`` with seeded
single-query requests and returns the top-k rows to the caller.

Every workload runs its op types in seeded rounds (see
:func:`seqstats.rounds`); ``min_rounds`` is sized so that one run
always holds enough samples for the workload's tail percentile.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

import seqstats


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    min_rounds: int
    tail_pct: int
    #: tables whose parquet bytes are the workload's input bytes
    inputs: tuple[str, ...]
    why: str

    @property
    def min_samples(self) -> int:
        return self.min_rounds * len(self.ops)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dashboard_etl",
            (
                "master_table",
                "flagship_category_distribution",
                "dashboard_share_by_flag",
                "dashboard_yearly_trend",
                "dashboard_engagement",
                "dashboard_top_nations",
                "dashboard_rollup_slicers",
                "window_trend_panel",
                "sql_revenue_by_nation",
                "join_inner_chain",
                "dedup_keyed_deterministic",
            ),
            min_rounds=2,
            tail_pct=54,
            inputs=("lineitem", "orders", "customer", "part", "supplier", "nation", "region"),
            why="the reference job's short scan/join/aggregate queries; Catalyst and the sources scan path carry most of each op",
        ),
        Workload(
            "vector_serving",
            ("ivf", "ivf_filtered", "ivfpq", "bruteforce"),
            min_rounds=3,
            tail_pct=16,
            inputs=("embeddings",),
            why="driver-bound single-query top-k requests on prebuilt IVF and IVF-PQ indexes; Python plan building and Py4J dominate",
        ),
        Workload(
            "corpus_dedup",
            (
                "doc_exact_dedup",
                "doc_near_dup_banded",
                "doc_ngram_jaccard_auto",
                "doc_simhash_near_dup",
                "vec_cosine_near_dup",
                "doc_dup_clusters_panel",
                "corpus_clean_pipeline",
                "corpus_training_freeze",
            ),
            min_rounds=2,
            tail_pct=37,
            inputs=("documents", "embeddings"),
            why="execution-bound LLM corpus prep: heavy shuffles and staging through llm.staging",
        ),
        Workload(
            "ingest_maintain",
            (
                "stream_dedup_ingest",
                "stream_line_dedup_ingest",
                "stream_ann_index_ingest",
                "vec_ivf_index_compacted",
                "table_maintenance_roundtrip",
                "orders_retention_delete",
                "master_table_partitioned_roundtrip",
            ),
            min_rounds=2,
            tail_pct=28,
            inputs=("documents", "embeddings", "orders", "lineitem", "customer", "part"),
            why="the write path: streaming ingest, index merges and compaction, table maintenance",
        ),
    )
}


# --------------------------------------------------------------------------
# entry-replay workloads
# --------------------------------------------------------------------------


def verify_query(ctx, name: str) -> list[str]:
    """Collect one entry and compare it with its DuckDB twin."""
    return ctx.compare(
        name, ctx.spark, ctx.con, ctx.data_dir, ctx.queries[name], ctx.oracles.get(name)
    )


def run_query(ctx, name: str, params) -> None:
    with ctx.tracer.span("entry"):
        df = ctx.queries[name](ctx.spark, ctx.data_dir)
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# vector serving
# --------------------------------------------------------------------------

K = 5
N_CELLS = 8
N_PROBE = 2
RERANK = 4
#: size of the seeded perturbation added to a corpus row, relative to
#: its unit norm, before the query is re-normalised
NOISE = 0.35
SCORE_TOL = 2e-6
FILTERED = "ivf_filtered"
EXACT = "bruteforce"


def vector_requests(seed: int, corpus: np.ndarray, n_labels: int, op_names=WORKLOADS["vector_serving"].ops):
    """Endless seeded requests ``(op, query_vec, label)``: the op order
    comes from :func:`seqstats.rounds`, each query is a seeded corpus
    row plus seeded noise, re-normalised, and each request carries a
    seeded ``label`` filter value (used by the filtered op)."""
    rng = np.random.default_rng(seed)
    for rnd in seqstats.rounds(seed, op_names):
        for op in rnd:
            base = corpus[rng.integers(len(corpus))]
            noise = rng.standard_normal(corpus.shape[1])
            q = base / np.linalg.norm(base) + NOISE * noise / np.linalg.norm(noise)
            q = q / np.linalg.norm(q)
            yield op, [float(x) for x in q], int(rng.integers(n_labels))


class VectorServing:
    """Builds both indexes in set-up and answers one query per op."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.ivf_path = f"{ctx.run_dir}/tmp/ivf"
        self.pq_path = f"{ctx.run_dir}/tmp/ivfpq"
        self.next_qid = 0

    def setup(self) -> None:
        from yelp_review_data_analysis_using_big_data_technologies_spark.llm import vectors as lvec
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import load_table

        ctx = self.ctx
        self.lvec = lvec
        self.emb = load_table(ctx.spark, ctx.data_dir, "embeddings").filter(
            lvec.finite_vec("embedding", lvec.EMBEDDING_DIM)
        )
        self.cent = lvec.build_ivf_index(self.emb, self.ivf_path, n_cells=N_CELLS, meta_cols=["label"])
        self.cent_pq, self.by_sub = lvec.build_ivfpq_index(self.emb, self.pq_path, n_cells=N_CELLS)
        ctx.con.execute(
            "CREATE OR REPLACE VIEW bench_vectors AS SELECT vec_id, label, "
            f"embedding::DOUBLE[] AS v FROM embeddings WHERE {lvec.vec_ok_sql()}"
        )
        rows = ctx.con.execute("SELECT v, label FROM bench_vectors ORDER BY vec_id").fetchall()
        self.corpus = np.array([r[0] for r in rows], dtype=np.float64)
        self.n_labels = max(r[1] for r in rows if r[1] is not None) + 1

    def requests(self, seed: int):
        for op, qvec, label in vector_requests(seed, self.corpus, self.n_labels):
            self.next_qid += 1
            yield op, {"qid": self.next_qid, "qvec": qvec, "label": label}

    def run(self, op: str, p: dict):
        ctx, lvec = self.ctx, self.lvec
        q = ctx.spark.createDataFrame([(p["qid"], p["qvec"])], "query_id bigint, query_vec array<double>")
        if op == "ivf":
            df = lvec.search_ivf_index(ctx.spark, self.ivf_path, q, k=K, n_probe=N_PROBE, cent_rows=self.cent)
        elif op == FILTERED:
            df = lvec.search_ivf_index_filtered(
                ctx.spark, self.ivf_path, q, where=f"label = {p['label']}",
                k=K, n_probe=N_PROBE, cent_rows=self.cent,
            )
        elif op == "ivfpq":
            df = lvec.search_ivfpq_index(
                ctx.spark, self.pq_path, q, k=K, n_probe=N_PROBE, rerank=RERANK,
                cent_rows=self.cent_pq, by_sub=self.by_sub,
            )
        else:
            df = lvec.top_k_bruteforce(self.emb, q, k=K)
        return [(r["vec_id"], r["cos_sim"], r["rk"]) for r in df.collect()]

    def check(self, op: str, p: dict, rows) -> tuple[list[str], float | None]:
        """Compare each returned ``(id, score)`` with the exact cosine
        DuckDB computes; returns the problems and, for the approximate
        ops, recall@k against DuckDB's exact top-k."""
        exact = self.ctx.con.execute(
            "SELECT vec_id, label, list_cosine_similarity(v, ?::DOUBLE[]) FROM bench_vectors",
            [p["qvec"]],
        ).fetchall()
        cand = {i: c for i, lab, c in exact if op != FILTERED or lab == p["label"]}
        top = sorted(cand, key=lambda i: (-cand[i], i))[:K]
        tag = f"[{op} q{p['qid']}]"
        problems = []
        rows = sorted(rows, key=lambda r: r[2])
        if [r[2] for r in rows] != list(range(1, len(top) + 1)):
            problems.append(f"{tag} ranks {[r[2] for r in rows]}, expected 1..{len(top)}")
        for vid, score, _ in rows:
            if vid not in cand:
                problems.append(f"{tag} id {vid} is not an admissible corpus row")
            elif abs(score - round(cand[vid], 6)) > SCORE_TOL:
                problems.append(f"{tag} id {vid} score {score} != exact {cand[vid]:.6f}")
        scores = [r[1] for r in rows]
        if scores != sorted(scores, reverse=True):
            problems.append(f"{tag} scores not in rank order")
        if op == EXACT:
            want = [round(cand[i], 6) for i in top]
            if len(scores) != len(want) or any(abs(a - b) > SCORE_TOL for a, b in zip(scores, want)):
                problems.append(f"{tag} top-k scores {scores} != exact {want}")
            return problems, None
        return problems, len({r[0] for r in rows} & set(top)) / len(top)
