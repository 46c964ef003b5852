"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload dashboard_etl --seed 1 --seconds 10 --trace 0

A run starts the program's own Spark session (``local[nproc]``, no conf
overrides), runs the workload's set-up and a warm/verify pass (every op
type once, its result collected and checked against DuckDB), then a
timed closed loop of seeded ops with one client thread.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run of the same
workload and seed.  Everything the run writes stays under
``perfbench/.run/`` and is removed at exit.
"""

from __future__ import annotations

import os
import time

T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE0 = _process_age()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import seqstats  # noqa: E402
import tracer as tracing  # noqa: E402
import workloads  # noqa: E402

#: the read-only seed-42 sf0.001 tables, bundled so a run reads nothing
#: outside its checkout
DATA = os.path.join(HERE, "data", "sf0.001")
#: a run is killed, without a result, after --max-seconds (default
#: 175); it starts no new timed op in the last DEADLINE_MARGIN_S
DEADLINE_MARGIN_S = 25.0

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
)

#: module layers whose calls/self_s/job_s are printed one by one; every
#: module's figures are in the ``--trace-out`` file
MODULES = (
    "plans.master_table", "plans.analytics", "plans.llm_queries",
    "llm.vectors", "llm.dedup", "llm.terms", "llm.staging",
    "operators.relational", "sources.readers", "sources.writers",
    "streaming.ingest",
)
PACKAGES = ("entry",) + tracing.TRACED_PACKAGES


def _per_layer() -> list[tuple[str, str]]:
    out = [("harness.self_s", "s"), ("harness.job_s", "s")]
    for layer in PACKAGES + MODULES:
        out += [(f"{layer}.calls", "count"), (f"{layer}.self_s", "s"), (f"{layer}.job_s", "s")]
    out += [("py4j.calls", "count"), ("py4j.s", "s")]
    out += [(f"catalyst.{p}_s", "s") for p in tracing.CATALYST_PHASES]
    out += [
        ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.job_wall_s", "s"), ("exec.idle_s", "s"), ("exec.task_s", "s"),
        ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.input_bytes", "B"),
        ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
        ("exec.spill_bytes", "B"), ("exec.output_bytes", "B"), ("exec.slot_util", "ratio"),
    ]
    out += [("streaming.triggers", "count"), ("streaming.trigger_p50_s", "s")]
    out += [(f"streaming.{p}_s", "s") for p in tracing.STREAM_PHASES]
    out += [
        ("llm.vectors.cells_probed", "count"), ("llm.vectors.files_per_cell", "count"),
        ("llm.vectors.index_bytes", "B"), ("llm.vectors.recall_at_k", "ratio"),
        ("llm.staging.cached_bytes_peak", "B"), ("llm.staging.release_s", "s"),
        ("sources.files_written", "count"), ("sources.bytes_written", "B"),
        ("sources.stored_bytes_per_input_byte", "ratio"),
        ("session.start_s", "s"), ("session.warm_s", "s"), ("setup.llm.job_s", "s"),
        ("process.peak_rss_mb", "MB"),
        ("error_rate", "ratio"),
        ("trace.python_cpu_s", "s"), ("trace.gap_s", "s"), ("trace.reconciled_share", "ratio"),
    ]
    return out


PER_LAYER = _per_layer()


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period, self.peak, self.stop = period, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
                children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children.get(pid, [])
        return out

    def run(self) -> None:
        pids, refreshed = [os.getpid()], 0.0
        while not self.stop.is_set():
            now = time.monotonic()
            if now - refreshed > 1.0:
                pids, refreshed = self.tree(os.getpid()), now
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except (OSError, ValueError, IndexError):
                    pass
            self.peak = max(self.peak, total)
            self.stop.wait(self.period)


class Ctx:
    """What the workloads need: the session, the DuckDB connection over
    the same tables, the entry points and the oracle comparer."""

    def __init__(self, spark, data_dir: str, run_dir: str, tracer) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        import check_oracle

        import __spark_entry__ as entry
        from yelp_review_data_analysis_using_big_data_technologies_spark.sources.readers import TABLES

        self.spark, self.data_dir, self.run_dir, self.tracer = spark, data_dir, run_dir, tracer
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.compare = check_oracle.compare


def _check_data() -> None:
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise SystemExit(f"input table {name} does not match SHA256SUMS")


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _index_layout(tmp: str) -> tuple[float, int]:
    """(parquet files per cell directory, bytes) over every index the
    run left under ``tmp``: a directory holding ``cells`` or ``codes``."""
    files = cells = size = 0
    for dirpath, dirnames, _ in os.walk(tmp):
        if "cells" in dirnames or "codes" in dirnames:
            size += _du(dirpath)
            for part in ("cells", "codes"):
                for cdir, _, names in os.walk(os.path.join(dirpath, part)):
                    if os.path.basename(cdir).startswith("cell_id="):
                        cells += 1
                        files += sum(n.endswith(".parquet") for n in names)
            dirnames[:] = []
    return (files / cells if cells else 0.0), size


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _reap(deadline: float = 20.0) -> None:
    """Kill whatever descendants are left (e.g. Python workers the JVM
    forked) and wait until they are gone."""
    import signal

    end = time.monotonic() + deadline
    while time.monotonic() < end:
        rest = [p for p in RssSampler.tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        for pid in rest:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        for pid in rest:
            with contextlib.suppress(OSError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.1)


def run_workload(args, wl: workloads.Workload, run_dir: str, rss: RssSampler) -> dict:
    tr = tracing.TRACER
    if args.trace:
        tr.install_import_hook()
    from yelp_review_data_analysis_using_big_data_technologies_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t
    if args.trace:
        tr.attach(spark)
    ctx = Ctx(spark, DATA, run_dir, tr)
    from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging

    vector = workloads.VectorServing(ctx) if wl.name == "vector_serving" else None
    traced_ops: list[dict] = []
    problems: list[str] = []
    attempted = failed = 0
    recalls: list[float] = []

    def finish(ok: bool, phase: str) -> None:
        rec = tr.end(ok)
        if rec is not None:
            rec["phase"] = phase
            traced_ops.append(rec)

    # ---- set-up + warm/verify pass (untimed; counts toward setup_s) ----
    t = time.perf_counter()
    if vector is not None:
        tr.begin("setup")
        vector.setup()
        finish(True, "setup")
    for name in wl.ops:
        attempted += 1
        tr.begin(name)
        try:
            if vector is not None:
                p = {"qid": 0, "qvec": [float(x) for x in vector.corpus[0]], "label": 0}
                found, recall = vector.check(name, p, vector.run(name, p))
                if recall is not None:
                    recalls.append(recall)
            else:
                found = workloads.verify_query(ctx, name)
        except Exception as exc:  # noqa: BLE001 - a failing op is a counted failure
            found = [f"[{name}] {type(exc).__name__}: {exc}"]
        release_staging(blocking=True)
        finish(not found, "warm")
        if found:
            failed += 1
            problems += found
    warm_s = time.perf_counter() - t
    setup_s = AGE0 + time.perf_counter() - T0

    # ---- timed closed loop ----
    if vector is not None:
        stream = vector.requests(args.seed)
    else:
        stream = ((name, None) for rnd in seqstats.rounds(args.seed, wl.ops) for name in rnd)
    latencies: list[float] = []
    release_s: list[float] = []
    pending = []
    bookkeeping = 0.0
    phase0 = time.perf_counter()
    n_rounds = 0
    while True:
        for _ in wl.ops:
            op, params = next(stream)
            attempted += 1
            tr.begin(op)
            t0 = time.perf_counter()
            try:
                result = vector.run(op, params) if vector is not None else workloads.run_query(ctx, op, params)
                ok = True
            except Exception as exc:  # noqa: BLE001
                result, ok = None, False
                failed += 1
                problems.append(f"[{op}] {type(exc).__name__}: {exc}")
            t1 = time.perf_counter()
            tr.sample_storage()
            t2 = time.perf_counter()
            release_staging(blocking=True)
            t3 = time.perf_counter()
            latencies.append((t1 - t0) + (t3 - t2))
            release_s.append(t3 - t2)
            finish(ok, "timed")
            bookkeeping += (t2 - t1) + (time.perf_counter() - t3)
            if ok and vector is not None:
                pending.append((op, params, result))
        n_rounds += 1
        elapsed = time.perf_counter() - phase0
        if AGE0 + time.perf_counter() - T0 > args.max_seconds - DEADLINE_MARGIN_S:
            break
        # stop at the round boundary closest to --seconds, after at
        # least min_rounds, so every run holds whole rounds
        if n_rounds >= wl.min_rounds and elapsed + elapsed / n_rounds / 2 >= args.seconds:
            break
    phase_s = time.perf_counter() - phase0 - bookkeeping

    for op, params, rows in pending:
        found, recall = vector.check(op, params, rows)
        if recall is not None:
            recalls.append(recall)
        if found:
            failed += 1
            problems += found

    tmp = os.path.join(run_dir, "tmp")
    files_per_cell, index_bytes = _index_layout(tmp)
    input_bytes = sum(os.path.getsize(os.path.join(DATA, f"{t}.parquet")) for t in wl.inputs)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(latencies) / phase_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": seqstats.percentile(latencies, wl.tail_pct),
    }
    quality = {
        "error_rate": failed / attempted,
        "llm.vectors.recall_at_k": statistics.fmean(recalls) if recalls else 0.0,
        "llm.vectors.files_per_cell": files_per_cell,
        "llm.vectors.index_bytes": float(index_bytes),
        "sources.stored_bytes_per_input_byte": _du(tmp) / input_bytes,
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        # the JVM's heap growth under the program's 16g driver-memory
        # default makes this vary by a quarter between identical runs,
        # so it is reported, not bounded
        "process.peak_rss_mb": rss.peak / 1e6,
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "e2e": e2e,
        "quality": quality,
        "latencies": latencies,
        "release_s": release_s,
        "rounds": n_rounds,
        "traced_ops": traced_ops,
        "cores": spark.sparkContext.defaultParallelism,
    }


def layer_metrics(res: dict) -> dict[str, float]:
    """Per-layer figures: per-op means over the timed phase, plus the
    run-level quality, session and set-up figures."""
    cores = res["cores"]
    timed = [op for op in res["traced_ops"] if op["phase"] == "timed"]
    per_op = [tracing.op_layers(op, cores) for op in timed]
    n = max(len(per_op), 1)
    means: dict[str, float] = {}
    for layers in per_op:
        for key, val in layers.items():
            means[key] = means.get(key, 0.0) + val / n
    # a package's figures are the sums over its modules
    means.update({
        pkg + suffix: sum(
            v for k, v in means.items()
            if k.endswith(suffix) and (k == pkg + suffix or k.startswith(pkg + "."))
        )
        for pkg in tracing.TRACED_PACKAGES
        for suffix in (".calls", ".self_s", ".job_s")
    })
    trig = [d for op in timed for d in tracing.trigger_durations(op)]
    means["streaming.trigger_p50_s"] = statistics.median(trig) if trig else 0.0
    means["llm.staging.cached_bytes_peak"] = max(
        (layers.get("llm.staging.cached_bytes", 0.0) for layers in per_op), default=0.0
    )
    means["llm.staging.release_s"] = statistics.fmean(res["release_s"])
    setup = [tracing.op_layers(op, cores) for op in res["traced_ops"] if op["phase"] == "setup"]
    means["setup.llm.job_s"] = sum(v for s in setup for k, v in s.items() if k.startswith("llm.") and k.endswith(".job_s"))
    means["trace.reconciled_share"] = (
        sum(abs(layers["trace.reconcile"] - 1.0) <= tracing.RECONCILE_TOL for layers in per_op) / n
    )
    means.update(res["quality"])
    return means


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the traced run's per-op layer JSON here")
    ap.add_argument("--max-seconds", type=float, default=175.0,
                    help="kill the run, without a result, after this long")
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no program found next to {HERE} (missing __spark_entry__.py)", file=sys.stderr)
        return 2
    _check_data()
    wl = workloads.WORKLOADS[args.workload]

    run_dir = os.path.join(HERE, ".run", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "jvmtmp"):
        os.makedirs(os.path.join(run_dir, sub))
    import tempfile

    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={run_dir}/jvmtmp -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    os.chdir(run_dir)

    def _watchdog() -> None:
        time.sleep(max(1.0, args.max_seconds - AGE0 - (time.perf_counter() - T0)))
        print("run exceeded its deadline; no result", file=sys.stderr)
        _reap(5.0)
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    threading.Thread(target=_watchdog, daemon=True).start()
    rss = RssSampler()
    rss.start()
    stdout = sys.stdout
    try:
        with contextlib.redirect_stdout(sys.stderr):
            res = run_workload(args, wl, run_dir, rss)
    except Exception:  # noqa: BLE001 - report the harness failure without a result
        traceback.print_exc()
        return 1
    finally:
        rss.stop.set()
        _stop_spark()
        _reap()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layers = layer_metrics(res)
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit} for name, unit in PER_LAYER}
        if args.trace_out:
            detail = {
                "workload": wl.name, "seed": args.seed, "e2e": res["e2e"], "layers": layers,
                "ops": [
                    {"name": op["name"], "phase": op["phase"], "ok": op["ok"],
                     "wall_s": op["end"] - op["start"],
                     "layers": tracing.op_layers(op, res["cores"])}
                    for op in res["traced_ops"]
                ],
            }
            with open(args.trace_out, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
    else:
        metrics = {name: {"value": res["e2e"][name], "unit": unit} for name, unit in END_TO_END}
    for p in res["problems"][:20]:
        print(f"problem: {p}", file=sys.stderr)
    summary = [f"{name}={res['e2e'][name]:.6g} {unit}" for name, unit in END_TO_END]
    summary.append(f"error_rate={res['quality']['error_rate']:.6g} ratio")
    summary.append(f"peak_rss_mb={res['quality']['process.peak_rss_mb']:.6g} MB")
    summary.append(f"({res['rounds']} rounds, {len(res['latencies'])} timed ops)")
    print(f"{wl.name} seed {args.seed}: " + ", ".join(summary), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        file=stdout,
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
