"""pystreams-spark benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --record      # re-record perfbench/reference.json

Run from the repository root. Each run generates its inputs
(``perfbench/inputs.py``), starts one local Spark session sized from the
machine, and drives the program only through its public entry points:
``QUERIES[name](spark, data_dir)`` followed by a noop sink, and
``NeardupIngest.process_batch`` for ingest epochs.

A run has three phases:

1. set-up: inputs written, session started, then an untimed check pass
   that runs every op once, fingerprints its output and compares it
   with ``reference.json`` (or, for ingest epochs, with the generator's
   ground truth). The check pass is also the JIT warm-up. An op that
   raises or mismatches counts as failed.
2. measurement: a fixed number of whole passes over the workload's ops
   (``WORKLOADS[...]["passes"]``), in an order permuted by ``--seed``.
   The count does not depend on speed, so every commit is compared on
   the same number of samples; ``--seconds`` is the measuring time the
   counts are sized for.
3. report: the last stdout line is one JSON object. ``--trace 0`` gives
   the end-to-end metrics; ``--trace 1`` gives the per-layer metrics
   and writes one JSON record per op to ``.perfbench/traces/``.

A traced run measures the same passes with the probes on. Tracing
overhead is its ``trace.wall_s`` minus the ``wall_s`` of a timed run
with the same seed; ``trace.read_s`` is the part spent reading the
status stores.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import probes  # noqa: E402

REFERENCE = os.path.join(HERE, "reference.json")
# Metric names and units: the end_to_end and per_layer lists.
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Share of the sf0.1 fixture sizes the relational tables are generated at.
# Chosen so that a run (JVM start, cold check pass, timed passes) fits the
# time a run may take.
SCALE = 0.02
# Documents, as in the smallest fixtures (sf0.001 and sf0.01). Ingest cuts
# the whole table into epochs.
DOCUMENTS = 500

# Each workload's reason is its "why" in BENCHMARK.json.
WORKLOADS = {
    "relational": {
        "queries": [
            "pricing_summary", "local_supplier_volume", "min_cost_supplier",
            "events_sessionized", "asof_join_last_order",
            "range_join_premium_items", "facade_fluent_pipeline",
            "take_drop_while_orders",
        ],
        "epochs": 0,
        "passes": 3,
    },
    "dedup": {
        "queries": [
            "minhash_deterministic_candidates", "count_min_deterministic",
            "split_leakage_report",
        ],
        # the ingest stream is cut into this many epochs; a timed pass
        # ingests the last one over the store the others left
        "epochs": 2,
        "passes": 3,
    },
}
# Candidate-generate-then-verify kernels: their output rows over their
# largest join's output rows is operators.verify_yield.
CANDIDATE_VERIFY = {"minhash_deterministic_candidates"}


# ---------------------------------------------------------------- outputs


def _norm_val(v):
    """Value normalisation of tests/test_oracle_parity.py's _norm_rows."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    if isinstance(v, np.floating):
        return _norm_val(float(v))
    if isinstance(v, (bool, int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a",) + tuple(_norm_val(x) for x in v)
    return ("s", str(v))


def fingerprint(pdf) -> dict:
    """Row count plus an order-insensitive hash of a pandas result."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_norm_val(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": digest}


def load_reference() -> dict:
    with open(REFERENCE) as f:
        ref = json.load(f)
    got = (ref["scale"], ref["documents"], ref["data_seed"])
    if got != (SCALE, DOCUMENTS, inputs.DATA_SEED):
        raise SystemExit(
            f"{REFERENCE} was recorded for (scale, documents, data_seed) = "
            f"{got}; re-record it with --record"
        )
    return ref["ops"]


# ---------------------------------------------------------------- session


def configure_env(work: str) -> dict:
    """Fit the session to this machine and keep its files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    driver_mb = max(1024, min(2048, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the program by module path, whatever the cwd
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONFS": "spark.ui.showConsoleProgress=false",
    })
    return {"cpus": cpus, "driver_mb": driver_mb}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = probes.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    probes.wait_exited(pids, timeout_s=60)


# ---------------------------------------------------------------- ops


class Workload:
    """The ops of one workload over one session; ``run_pass`` runs them
    all once in the given order and returns one record per op.

    Ingest: the check pass ingests every epoch into a fresh state dir and
    checks each. Before its last epoch it copies the state aside, so each
    timed pass can start from that copy and ingest the last epoch, the
    one that reads the largest store. Timed passes thus do the same work.
    """

    def __init__(self, name: str, spark, work: str, seed: int, data_dir: str,
                 cluster: np.ndarray, reference: dict | None):
        from pystreams_spark.queries import QUERIES

        spec = WORKLOADS[name]
        self.spark = spark
        self.work = work
        self.data_dir = data_dir
        self.queries = {q: QUERIES[q] for q in spec["queries"]}
        self.reference = reference
        self.rng = np.random.default_rng(seed)
        self.epoch_paths: list[str] = []
        self.expected: list[set[int]] = []
        self.base_state = os.path.join(work, "ingest_state", "base")
        self.n_docs = len(cluster)
        if spec["epochs"]:
            batches = inputs.epoch_plan(seed, self.n_docs, spec["epochs"])
            self.expected = inputs.expected_survivors(batches, cluster)
            docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
            ids = docs.column("doc_id").to_numpy()
            for e, batch in enumerate(batches):
                path = os.path.join(work, "ingest_in", f"epoch={e}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(docs.filter(np.isin(ids, batch)), path)
                self.epoch_paths.append(path)
        self.n_passes = 0

    def order(self, check: bool) -> list[tuple[str, object]]:
        """Seeded op order; ingest epochs keep their relative order."""
        n = len(self.epoch_paths)
        epochs = list(range(n)) if check else [n - 1] if n else []
        items = [("query", q) for q in self.queries] + [("epoch", None)] * len(epochs)
        out, pending = [], iter(epochs)
        for i in self.rng.permutation(len(items)):
            kind, name = items[i]
            out.append((kind, next(pending) if kind == "epoch" else name))
        return out

    def run_pass(self, check: bool, tracer=None, shim=None, cpus: int = 1) -> list[dict]:
        from pystreams_spark.streaming.neardup_ingest import NeardupIngest

        sc = self.spark.sparkContext
        state = os.path.join(self.work, "ingest_state", f"pass{self.n_passes}")
        if not check and os.path.isdir(self.base_state):  # absent if its epoch failed
            shutil.copytree(self.base_state, state)
        ingest = NeardupIngest(state)
        tag = f"p{self.n_passes}"
        self.n_passes += 1
        records = []
        for kind, name in self.order(check):
            op = f"epoch{name}" if kind == "epoch" else name
            rec = {"op": op, "kind": kind, "ok": True}
            groups = [f"{tag}:{op}:construct", f"{tag}:{op}:sink"]
            if tracer:
                r0 = time.perf_counter()
                tracer.begin()
                shim.take()
                state_bytes = du(state)
                read_s = time.perf_counter() - r0
            t0, t1 = time.perf_counter(), None
            try:
                sc.setJobGroup(groups[0], op)
                if kind == "query":
                    df = self.queries[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    sc.setJobGroup(groups[1], op)
                    if check:
                        got = fingerprint(df.toPandas())
                        want = self.reference[name]
                        rec["ok"] = got == {k: want[k] for k in got}
                        rec["rows"] = got["rows"]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                else:
                    if check and name == len(self.epoch_paths) - 1:
                        shutil.copytree(state, self.base_state)
                    batch = self.spark.read.parquet(self.epoch_paths[name])
                    ingest.process_batch(batch, name)
                    t1 = time.perf_counter()
                    if check:
                        out = self.spark.read.parquet(f"{state}/out/epoch={name}")
                        got = {r[0] for r in out.select("doc_id").collect()}
                        rec["ok"] = got == self.expected[name]
                        rec["rows"] = len(got)
            except Exception as exc:  # an op that raises is a failed op; keep going
                rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc)[:500]}")
            t2 = time.perf_counter()
            t1 = t1 or t2  # raised while constructing: no sink time
            sc.setJobGroup("perfbench", "between ops")
            rec.update(construct_s=t1 - t0, sink_s=t2 - t1, op_s=t2 - t0)
            if tracer:
                rec.update(tracer.collect(groups, cpus, t2 - t0))
                rec["materialize_calls"], rec["materialize_s"] = shim.take()
                rec["trace_read_s"] = read_s + time.perf_counter() - t2
                rec["construct_jobs"] = rec["jobs_by_group"][groups[0]]
                if kind == "epoch":
                    rec["store_bytes"] = du(os.path.join(state, "sigs"))
                    rec["write_bytes"] = du(state) - state_bytes
            records.append(rec)
        shutil.rmtree(state, ignore_errors=True)
        return records


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- metrics


def tail(passes: list[list[dict]]) -> tuple[float, str]:
    """(value, op): the slowest op, by its median time over the passes.
    The rule does not depend on the number of samples, and one slow
    sample of an op does not move it."""
    times: dict[str, list[float]] = {}
    for recs in passes:
        for r in recs:
            times.setdefault(r["op"], []).append(r["op_s"])
    return max((statistics.median(t), op) for op, t in times.items())


def layer_metrics(passes: list[list[dict]], workload: Workload, cpus: int) -> dict:
    """Per-layer totals of each traced pass, medians over passes."""
    per_pass = []
    for recs in passes:
        q = [r for r in recs if r["kind"] == "query"]
        ep = [r for r in recs if r["kind"] == "epoch"]
        s = lambda key, rs=recs: sum(r[key] for r in rs)  # noqa: E731
        cv = [r for r in q if r["op"] in CANDIDATE_VERIFY]
        cand = sum(r["max_join_rows"] for r in cv)
        wall = s("op_s")
        m = {
            "queries.construct_s": s("construct_s", q),
            "queries.construct_jobs": s("construct_jobs", q),
            "queries.sink_s": s("sink_s", q),
            "io.materialize_calls": s("materialize_calls"),
            "io.materialize_s": s("materialize_s"),
            "io.scan_bytes": s("scan_bytes"),
            "io.scan_rows": s("scan_rows"),
            "functions.python_s": s("python_s"),
            "functions.python_boot_s": s("python_boot_s"),
            "functions.python_bytes": s("python_bytes"),
            "functions.python_rows": s("python_rows"),
            "operators.candidate_pairs": cand,
            "operators.verify_yield": (
                sum(workload.reference[r["op"]]["rows"] for r in cv) / cand if cand else 0.0
            ),
            "streaming.store_bytes_per_doc": (
                ep[-1]["store_bytes"] / workload.n_docs if ep else 0.0
            ),
            "streaming.write_bytes": s("write_bytes", ep),
        }
        for key in ("jobs", "stages", "tasks", "failed_tasks", "plan_s", "task_run_s",
                    "task_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                    "fetch_wait_s", "spill_bytes", "exchanges"):
            m[f"engine.{key}"] = s(key)
        m["engine.core_util"] = s("task_run_s") / (wall * cpus)
        m["trace.read_s"] = s("trace_read_s")
        m["engine.task_skew"] = max(r["task_skew"] for r in recs)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def with_units(values: dict, kind: str) -> dict:
    """``values`` as the contract's metrics, units from BENCHMARK.json's
    ``kind`` list, which must name exactly the metrics computed."""
    with open(SPEC) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if units.keys() != values.keys():
        raise SystemExit(f"BENCHMARK.json {kind} does not match the metrics computed: "
                         f"{sorted(units.keys() ^ values.keys())}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


# ---------------------------------------------------------------- main


def record(work: str) -> None:
    """Fingerprint every query op on the generated inputs and check it
    against the DuckDB oracle where one exists; write reference.json."""
    import duckdb
    import threading

    from pystreams_spark.queries import ORACLE, QUERIES
    from pystreams_spark.session import get_spark

    data_dir = os.path.join(work, "data")
    inputs.write_tables(data_dir, SCALE, DOCUMENTS)
    spark = get_spark(app_name="perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in inputs.SF01_ROWS.keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    ops = {}
    for w in WORKLOADS.values():
        for name in w["queries"]:
            got = fingerprint(QUERIES[name](spark, data_dir).toPandas())
            oracle = "none"
            if name in ORACLE:
                timer = threading.Timer(600, con.interrupt)
                timer.start()
                try:
                    want = fingerprint(con.execute(ORACLE[name]).df())
                    oracle = "duckdb"
                    if want != got:
                        raise SystemExit(f"{name}: Spark {got} != DuckDB {want}")
                except duckdb.InterruptException:
                    oracle = "timeout"
                finally:
                    timer.cancel()
            ops[name] = {**got, "oracle": oracle}
            print(name, ops[name], file=sys.stderr, flush=True)
    stop_spark(spark)
    with open(REFERENCE, "w") as f:
        json.dump({"scale": SCALE, "documents": DOCUMENTS, "data_seed": inputs.DATA_SEED,
                   "ops": ops}, f, indent=1)
        f.write("\n")


def run(args, work: str, rss: probes.RssSampler) -> dict:
    from pystreams_spark.session import get_spark

    host0 = probes.host_sample()
    reference = load_reference()
    env = configure_env(work)
    cpus = env["cpus"]
    data_dir = os.path.join(work, "data")
    cluster = inputs.write_tables(data_dir, SCALE, DOCUMENTS)

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        wl = Workload(args.workload, spark, work, args.seed, data_dir, cluster, reference)
        t0 = time.perf_counter()
        checked = wl.run_pass(check=True)
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        tracer = shim = None
        if args.trace:
            tracer, shim = probes.Tracer(spark), probes.MaterializeShim()
            shim.install()
        passes, walls = [], []
        for _ in range(WORKLOADS[args.workload]["passes"]):
            t0 = time.perf_counter()
            passes.append(wl.run_pass(check=False, tracer=tracer, shim=shim, cpus=cpus))
            walls.append(time.perf_counter() - t0)
        if shim:
            shim.remove()
    finally:
        stop_spark(spark)
    host1 = probes.host_sample()

    for p in [checked] + passes:
        print(" ".join(f"{r['op']}={r['op_s']:.2f}" for r in p), file=sys.stderr)
    all_recs = checked + [r for p in passes for r in p]
    failed = [r for r in all_recs if not r["ok"]]
    out = {
        "correct": not failed, "attempted": len(all_recs), "failed": len(failed),
        "host": {
            "load1_start": host0["load1"], "load1_end": host1["load1"],
            "steal_share": (host1["steal"] - host0["steal"])
            / max(1, host1["jiffies"] - host0["jiffies"]),
        },
        "env": env, "passes": len(passes),
        "failures": [(r["op"], r.get("error", "output mismatch")) for r in failed],
    }
    if args.trace:
        out["layers"] = {
            "session.start_s": start_s, "session.warmup_s": warmup_s,
            **layer_metrics(passes, wl, cpus),
            "trace.wall_s": statistics.median(walls),
            "host.load1": host1["load1"], "host.steal_share": out["host"]["steal_share"],
        }
        out["records"] = passes
    else:
        tail_s, tail_op = tail(passes)
        out["e2e"] = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(r["op_s"] for p in passes for r in p),
            "op_tail_s": tail_s,
            "peak_rss_mb": rss.peak_mb,
        }
        out["tail_op"] = tail_op
        out["measured_s"] = sum(walls)
        out["error_rate"] = len(failed) / len(all_recs)
    return out


def report(args, out: dict) -> None:
    h = out["host"]
    print(
        f"# workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cpus={out['env']['cpus']} driver_mb={out['env']['driver_mb']} "
        f"load1={h['load1_start']:.2f}->{h['load1_end']:.2f} "
        f"steal={100 * h['steal_share']:.2f}%"
    )
    for op, err in out["failures"]:
        print(f"# FAILED {op}: {err}")
    if args.trace:
        path = os.path.join(ROOT, ".perfbench", "traces",
                            f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, recs in enumerate(out["records"]):
                for r in recs:
                    f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                        "pass": i, **r}) + "\n")
        print(f"# per-op records: {os.path.relpath(path, ROOT)}")
        metrics = with_units(out["layers"], "per_layer")
        for k, m in metrics.items():
            print(f"{k:32s} {m['value']:.6g} {m['unit']}")
    else:
        metrics = with_units(out["e2e"], "end_to_end")
        for k, m in metrics.items():
            note = f"  ({out['tail_op']}, median of {out['passes']})" if k == "op_tail_s" else ""
            print(f"{k:12s} {m['value']:12.4f} {m['unit']}{note}")
        print(f"{'error_rate':12s} {out['error_rate']:12.4f} ratio  "
              f"({out['failed']}/{out['attempted']} ops failed; passes={out['passes']}, "
              f"{out['measured_s']:.1f} s measured for --seconds {args.seconds:g})")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="re-record reference.json instead of running a workload")
    args = p.parse_args()
    if not args.record and not args.workload:
        p.error("--workload is required")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.record:
            configure_env(work)
            record(work)
            return 0
        with probes.RssSampler() as rss:
            out = run(args, work, rss)
        report(args, out)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
