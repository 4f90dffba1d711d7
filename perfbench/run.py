#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload spread_batch --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark
session on ``local[<cores>]``, does the set-up (including one unmeasured
warm-up operation), then runs operations for ``--seconds`` seconds and
checks every output. ``--seconds`` defaults to ``run_seconds`` in
BENCHMARK.json. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Run records and span files go to ``.perfbench/records``.

``--selftest`` runs every workload at tiny scale, traced and untraced,
in one session and checks the printed metrics against BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run measures at least this many operations, so that its median is
#: the middle one and neither a slow first operation nor one stall sets it
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "1/s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "gc_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "cpu_util": "ratio",
    "bytes_per_row": "bytes/row",
}
_E1_SPANS = (
    "plans.e1_pipeline.daily_bars",
    "operators.cleaning.ffill_bfill_long",
    "plans.e1_pipeline.spreads",
    "plans.e1_pipeline.future_spreads",
    "plans.queries_timeseries.e2_training_matrix",
)
_REF_SPANS = (
    "operators.cleaning.drop_any_null_rows",
    "operators.cleaning.sparse_columns",
    "operators.cleaning.ffill_bfill_wide",
    "plans.reference_pipeline.check_invariants",
)
_FIT_SPANS = (
    "ml.ensemble.fit.linear",
    "ml.ensemble.fit.ridge",
    "ml.ensemble.fit.random_forest",
    "functions.stats.regression_metrics",
)
#: (span, counters) -> per-layer metrics named "<span>.<counter>"
PER_LAYER = (
    [
        ("session.get_spark", ("wall_s",)),
        ("sources.load_table", ("wall_s", "cpu_util", "bytes_per_row")),
        ("plans.e1_pipeline.e1_flagship", ("wall_s", "self_s")),
    ]
    + [(s, ("wall_s", "shuffle_bytes", "spill_bytes", "cpu_util", "gc_s")) for s in _E1_SPANS]
    + [("plans.reference_pipeline.run_e1", ("wall_s", "self_s", "jobs", "cpu_util"))]
    + [(s, ("wall_s", "jobs", "cpu_util")) for s in _REF_SPANS]
    + [
        ("api.load_data", ("wall_s", "jobs")),
        ("ml.ensemble.run_ensemble", ("wall_s", "self_s", "jobs", "cpu_util", "gc_s")),
    ]
    + [(s, ("wall_s", "jobs", "cpu_util", "gc_s")) for s in _FIT_SPANS]
    + [
        ("api.trade_suggestion", ("wall_s", "self_s", "jobs", "tasks")),
        ("ml.serving.predict_signal", ("wall_s", "jobs", "tasks")),
    ]
)


def per_layer_names() -> dict[str, str]:
    from perfbench.workloads import MIX_QUERIES

    spans = PER_LAYER + [(f"{m}.{q}", ("wall_s", "jobs", "tasks")) for q, m in MIX_QUERIES.items()]
    spans += [("workload.op", ("wall_s",)), ("workload", ("failed_tasks", "spill_bytes", "gc_s"))]
    out = {}
    for span, counters in spans:
        for c in counters:
            out[f"{span}.{c}"] = UNITS[c]
    return out


# --- process hygiene ------------------------------------------------------------


def make_work_dir(tag: str) -> dict[str, str]:
    """Fresh per-run directories inside the checkout; TMPDIR, Spark's
    local dirs, checkpoints and the JVM temp dir all point here, so no
    on-disk memo survives from one run to the next."""
    base = os.path.join(ROOT, ".perfbench", f"{tag}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ("tmp", "data", "local", "ckpt", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["base"] = base
    dirs["records"] = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(dirs["records"], exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = dirs["ckpt"]
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return dirs


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: dict[str, str]):
    from commodity_price_forecasting_spark.session import ensure_package_shipped, get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": work["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    ensure_package_shipped(spark)
    return spark, session_s


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it and every
    other child process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and its
    descendants: the driver JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# --- one workload run -------------------------------------------------------------


def _generate(wl, data_dir: str, seed: int) -> tuple[float, str]:
    """Generate the inputs once. Returns (generation seconds, content
    hash). perfbench/tests checks that generation is byte-deterministic."""
    from perfbench.inputs import content_hash

    shutil.rmtree(data_dir, ignore_errors=True)
    t0 = time.perf_counter()
    wl.generate(data_dir, seed)
    return time.perf_counter() - t0, content_hash(data_dir)


def _load_table_patches(tracer):
    """Span every ``load_table`` reference the engine's modules hold."""
    from commodity_price_forecasting_spark.sources import readers
    from perfbench.trace import traced

    orig = readers.load_table
    wrapped = traced(tracer, "sources.load_table", orig, "noop")
    mods = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("commodity_price_forecasting_spark") and getattr(m, "load_table", None) is orig
    ]
    return [(m, "load_table", wrapped) for m in mods]


def _measure(spark, wl, seconds: float, tracer) -> list[dict]:
    """Closed loop: ``wl.clients`` clients each start their next
    operation when the previous one (and its check) is done, until the
    deadline has passed and at least MIN_OPS operations have started.
    Returns one record per operation: its client, its time,
    its end (seconds since the loop started) and its outcome."""
    from perfbench.workloads import assert_nothing_cached

    ids = itertools.count(1)
    lock = threading.Lock()
    ops: list[dict] = []
    errors: list[BaseException] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client(k: int) -> None:
        try:
            loop(k)
        except BaseException as ex:  # re-raised in the main thread after join
            errors.append(ex)

    def loop(k: int) -> None:
        while True:
            with lock:
                i = next(ids)
            if i > MIN_OPS and time.perf_counter() >= deadline:
                return
            assert_nothing_cached(spark)
            err = None
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.set_op(f"op{i}")
                    with tracer.span("workload.op"):
                        result = wl.op(i)
                else:
                    result = wl.op(i)
            except Exception as ex:  # noqa: BLE001 - a failed operation is counted, not fatal
                err = f"{type(ex).__name__}: {ex}"
            t1 = time.perf_counter()
            if err is None:
                try:
                    outcome = wl.check(i, result)
                    ok, detail = outcome.ok, outcome.detail
                except Exception as ex:  # noqa: BLE001
                    ok, detail = False, f"check raised {type(ex).__name__}: {ex}"
            else:
                ok, detail = False, err
            with lock:
                ops.append({"i": i, "client": k, "s": t1 - t0, "end": t1 - start, "ok": ok, "detail": detail})

    threads = [threading.Thread(target=client, args=(k,), name=f"client{k}") for k in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return sorted(ops, key=lambda o: o["i"])


def end_to_end(wl, ops: list[dict], setup_s: float) -> dict[str, float]:
    job_s = statistics.median(o["s"] for o in ops)
    if wl.rows_per_op is None:
        # closed loop: each client's correct completions over its busy
        # span (loop start to its own last completion), summed over
        # clients, so a client idle after its last request does not count
        rate = 0.0
        for k in {o["client"] for o in ops}:
            mine = [o for o in ops if o["client"] == k]
            rate += sum(o["ok"] for o in mine) / max(o["end"] for o in mine)
    else:
        rate = wl.rows_per_op / job_s
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": rate,
        "ok_frac": sum(o["ok"] for o in ops) / len(ops),
        "peak_rss_mb": peak_rss_mb(),
    }


def per_layer(tracer, wl_spans) -> dict[str, float]:
    """Median over measured operations of each span counter (set-up
    value for spans that only occur in set-up; 0 for spans the workload
    never enters)."""
    by_span = tracer.per_op()
    missing = [s for s in wl_spans if s not in by_span]
    if missing:
        raise RuntimeError(f"traced run produced no span for {missing}")

    def pick(per_op: dict[str, float]) -> float:
        measured = [v for op, v in per_op.items() if op != "setup"]
        if measured:
            return statistics.median(measured)
        return per_op.get("setup", 0.0)

    out = {}
    for name in per_layer_names():
        span, counter = name.rsplit(".", 1)
        if span == "workload":
            ops = by_span.get("workload.op", {})
            out[name] = pick({op: c[counter] for op, c in ops.items()})
        elif counter == "bytes_per_row":
            out[name] = pick(_bytes_per_row(tracer))
        else:
            ops = by_span.get(span, {})
            out[name] = pick({op: c[counter] for op, c in ops.items()})
    return out


def _bytes_per_row(tracer) -> dict[str, float]:
    """Scan bytes per input row as the engine's own plans read the
    sources (the load_table spans' full-row scans excluded): a pruning
    ratio."""
    acc: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.name == "sources.load_table" or not s.own:
            continue
        a = acc.setdefault(s.op, [0.0, 0.0])
        a[0] += s.own["input_bytes"]
        a[1] += s.own["input_rows"]
    return {op: b / r for op, (b, r) in acc.items() if r}


def run_workload(spark, session_s: float, work: dict, name: str, scale: str, seed: int,
                 seconds: float, trace: bool) -> tuple[dict, dict]:
    """Set up and measure one workload on a running session. Returns
    (result line, run record)."""
    from perfbench.trace import Tracer, install
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](scale)
    data_dir = os.path.join(work["data"], name)
    gen_s, digest = _generate(wl, data_dir, seed)
    tracer = Tracer(spark, cores()) if trace else None
    if tracer is not None:
        tracer.record("session.get_spark", session_s)
    wl.bind(spark, data_dir, seed)
    patches = wl.patches(tracer) + _load_table_patches(tracer) if tracer is not None else []
    with install(patches):
        t0 = time.perf_counter()
        wl.prepare()
        setup_s = session_s + gen_s + (time.perf_counter() - t0)
        wl.expect()
        ops = _measure(spark, wl, seconds, tracer)
    failed = [o for o in ops if not o["ok"]]
    metrics = per_layer(tracer, wl.spans) if tracer else end_to_end(wl, ops, setup_s)
    units = per_layer_names() if tracer else END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    tag = f"{name}-{scale}-seed{seed}-trace{int(trace)}"
    record = {
        "workload": name,
        "scale": scale,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cores": cores(),
        "input_sha256": digest,
        "setup": {
            "session_s": session_s,
            "generate_s": gen_s,
            "setup_s": setup_s,
            "phases": getattr(wl, "phases", {}),
        },
        "ops": ops,
        "failures": [o["detail"] for o in failed][:10],
        "notes": sorted({o["detail"] for o in ops if o["ok"] and o["detail"]}),
        "result": result,
    }
    if getattr(wl, "order", None):
        record["order"] = wl.order
    if tracer is not None:
        record["spans_file"] = os.path.join(work["records"], f"{tag}-spans.jsonl")
        tracer.dump(record["spans_file"])
    with open(os.path.join(work["records"], f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return result, record


# --- entry points -----------------------------------------------------------------


def selftest(seed: int) -> int:
    """Tiny-scale run of every workload, untraced and traced, in one
    session; checks metric names and units against BENCHMARK.json and
    that each span file holds the workload's spans."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if want_e2e != END_TO_END or want_layer != per_layer_names():
        print("selftest: BENCHMARK.json metrics differ from run.py", file=sys.stderr)
        return 1
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        print("selftest: BENCHMARK.json workloads differ from run.py", file=sys.stderr)
        return 1
    work = make_work_dir("selftest")
    bad = 0
    try:
        spark, session_s = start_spark(work)
        try:
            for name in WORKLOADS:
                for trace in (False, True):
                    result, record = run_workload(spark, session_s, work, name, "tiny", seed, 1.0, trace)
                    want = want_layer if trace else want_e2e
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    ok = result["correct"] and got == want
                    if trace:
                        with open(record["spans_file"]) as f:
                            names = {json.loads(line)["name"] for line in f}
                        ok = ok and set(WORKLOADS[name].spans) <= names
                    print(f"selftest {name} trace={int(trace)}: {'ok' if ok else 'FAIL'} {json.dumps(result)[:300]}")
                    bad += not ok
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work["base"], ignore_errors=True)
    return 1 if bad else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import commodity_price_forecasting_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: engine package not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.selftest:
        return selftest(args.seed)
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = float(json.load(f)["run_seconds"])
    work = make_work_dir(f"{args.workload}-seed{args.seed}")
    try:
        spark, session_s = start_spark(work)
        try:
            result, record = run_workload(
                spark, session_s, work, args.workload, "full", args.seed, args.seconds, bool(args.trace)
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work["base"], ignore_errors=True)
    print(f"perfbench: inputs sha256 {record['input_sha256']}", file=sys.stderr)
    for d in record["failures"]:
        print(f"perfbench: failed operation: {d}", file=sys.stderr)
    for d in record["notes"]:
        print(f"perfbench: note: {d}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
