"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Runs from any working directory: the repository root is this file's
parent's parent. Before the first Spark session starts, the run sets the
environment the JVM and Spark's Python workers inherit: the root on
PYTHONPATH (workers import the package) and every file Spark, the JVM
and Python write under ``<root>/.perfbench_work``. Everything but the
result goes to standard error; the result JSON is the last line of
standard output. The run stops the JVM and waits for every process it
started before it exits.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` prints every
per-layer metric from an event-log-attributed traced phase, which
follows an untraced reference phase of the same work from the same
starting state (its query median gives the tracing overhead). README.md defines every
metric.
``--smoke`` runs every workload at tiny size in both modes, checks every
declared metric is printed with its unit, and proves that every
correctness gate fires on a corrupted result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
#: a run that is still going after this long stops with an error; the
#: whole run, JVM shutdown included, must end within 180 s
RUN_TIMEOUT_S = 160
#: set-ups per run; setup_s reports their median
SETUPS = 3


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def set_environment(work: Path) -> None:
    """The environment the JVM and Spark's Python workers inherit: they
    are launched by the first ``get_spark``, after this."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def stop_jvm() -> None:
    """End the JVM this process launched (closing its stdin makes it exit)
    and wait for it and every other process started under this one."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    left = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.time() + 10
    while (left := [p for p in left if os.path.exists(f"/proc/{p}")]) and time.time() < end:
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S}s")


def run_one(args) -> int:
    if not (ROOT / "mlx_vector_db_spark" / "__init__.py").is_file():
        print(f"perfbench: no mlx_vector_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    # stdout carries the result line only: everything else this process,
    # the JVM and the Python workers print goes to stderr
    sys.stdout.flush()
    out_fd = os.dup(1)
    os.dup2(2, 1)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_TIMEOUT_S)
    try:
        set_environment(work)
        result, detail = measure(str(work), args.workload, args.seed, args.seconds,
                                 bool(args.trace), args.smoke_size)
    finally:
        signal.alarm(0)
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    lines = json.dumps({"detail": detail}, default=float) + "\n" + json.dumps(result) + "\n"
    os.write(out_fd, lines.encode())
    return 0


# -- the measured program ----------------------------------------------------

def measure(work: str, workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool) -> tuple[dict, dict]:
    """One run; returns (result line, detail)."""
    from mlx_vector_db_spark.session import get_spark
    from perfbench import harness as H, tracing as T
    from perfbench.workloads import SIZES, WORKLOADS

    weather = H.Weather()
    spec = _spec()
    sizes = SIZES[workload]["smoke" if smoke else "full"]
    wl = WORKLOADS[workload](sizes, seed)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    # set-up runs several times, each from scratch and from the seed; the
    # last one is used. setup_s is the session start plus their median.
    setups = []
    for i in range(SETUPS):
        t1 = time.perf_counter()
        wl.setup(spark, os.path.join(work, f"setup{i}"))
        setups.append(time.perf_counter() - t1)
    setup_s = session_s + H.median(setups)

    rec = H.Recorder(T.Tracer(spark), smoke=smoke)

    # fixed work per run, sized from --seconds: both sides of a comparison
    # run the same operations. A traced run runs half of it twice from the
    # same saved state, untraced (the reference) and traced, each after
    # the same warm-up; a first warm-up warms the JVM for both.
    cycles = wl.cycles_for(seconds / 2 if trace else seconds)
    state = wl.save_state() if trace else None
    t2 = time.perf_counter()
    rec.timing = False
    wl.warmup(rec)
    rec.timing = True
    warmup_s = time.perf_counter() - t2
    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                    "cycles": cycles, "session_s": session_s,
                    "setups_s": setups, "warmup_s": warmup_s}
    if not trace:
        detail["measured_s"] = H.run_cycles(cycles, lambda i: wl.cycle(rec, i), rec)
        out = wl.finish(rec)
        rss_mb = H.peak_rss_mb()
        spark.stop()
        q = rec.latency.get("query", [])
        qt, qpct, qn = H.tail(q)
        w = rec.latency.get("write", [])
        wt, wpct, wn = H.tail(w)
        values = {
            "setup_s": setup_s,
            "query_p50_ms": H.median(q),
            "recall_at_10": sum(wl.recall) / len(wl.recall) if wl.recall else float("nan"),
            "write_p50_ms": out.pop("write_p50_ms"),
            "ingest_vps": out.pop("ingest_vps"),
            "throughput": out.pop("throughput"),
            "space_amp": out.pop("space_amp"),
        }
        # measured and printed every run, but too unsteady here for a bound
        # (see README.md): the tail needs more samples than a run has, and
        # the JVM's heap growth moves peak RSS by up to a fifth run to run
        detail["unbounded_metrics"] = {
            "query_tail_ms": {"value": qt, "unit": "ms", "percentile": qpct, "samples": qn},
            "write_tail_ms": {"value": wt, "unit": "ms", "percentile": wpct, "samples": wn},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
        detail.update(out)
        detail["op_ms"] = {k: [round(x, 1) for x in v] for k, v in rec.by_name.items()}
        declared = spec["end_to_end"]
    else:
        wl.restore_state(state)
        wl.bind(spark)
        ref = H.Recorder(T.Tracer(spark), smoke=smoke)
        ref.timing = False
        wl.warmup(ref)
        ref.timing = True
        detail["reference_s"] = H.run_cycles(cycles, lambda i: wl.cycle(ref, i), ref)
        untraced_p50 = H.median(ref.latency.get("query", []))
        spark.stop()
        wl.restore_state(state)
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = get_spark(f"perfbench-{workload}-traced", extra_conf=T.event_log_conf(log_dir))
        wl.bind(spark)
        trec = H.Recorder(T.Tracer(spark), smoke=smoke)
        trec.timing = False
        wl.warmup(trec)
        trec.tracer.enabled = True
        trec.timing = True
        detail["traced_s"] = H.run_cycles(cycles, lambda i: wl.cycle(trec, i), trec)
        out = wl.finish(trec)
        spark.stop()
        T.attribute(trec.tracer.spans, log_dir)
        roles = T.per_op_means(trec.tracer.spans, "role")
        detail["spans_by_name"] = T.per_op_means(trec.tracer.spans, "name")
        with open(os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-{seed}.json"), "w") as fh:
            json.dump(trec.tracer.spans, fh)
        values = {}
        for role in ("query", "bulk"):
            for c in T.COUNTERS:
                values[f"{role}.{c}"] = roles.get(role, {}).get(c, 0.0)
        values["query.scan_frac"] = values["query.input_records"] / max(out["rows"], 1)
        values["store.live_files"] = out["live_files"]
        values["store.live_bytes"] = out["live_bytes"]
        values["store.retained_bytes"] = out["retained_bytes"]
        traced_p50 = H.median(trec.latency.get("query", []))
        values["trace.overhead_frac"] = traced_p50 / untraced_p50 - 1.0
        for r in (ref, trec):
            rec.attempted += r.attempted
            rec.failed += r.failed
            rec.failures += r.failures
            for g, fired in r.gate_fired.items():
                rec.gate_fired[g] = rec.gate_fired.get(g, True) and fired
        declared = spec["per_layer"]
    detail["host"] = weather.report()
    detail["ops_failed_frac"] = rec.failed / max(rec.attempted, 1)
    detail["failures"] = rec.failures[:20]
    detail["gates"] = wl.GATES
    detail["gate_fired"] = rec.gate_fired
    # a metric left without samples by failed operations prints as null,
    # keeping the line valid JSON; the run is already marked incorrect
    metrics = {m["name"]: {"value": values[m["name"]] if _finite(values[m["name"]]) else None,
                           "unit": m["unit"]} for m in declared}
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    return result, detail


# -- smoke ------------------------------------------------------------------

def smoke() -> int:
    """Every workload at tiny size, both modes: each declared metric is
    printed with its unit and a finite value, and each gate fired on its
    corrupted input."""
    spec = _spec()
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            argv = ["--workload", wl, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--smoke-size"]
            r = subprocess.run([sys.executable, str(HERE / "run.py"), *argv],
                               capture_output=True, text=True, timeout=RUN_TIMEOUT_S + 30)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or len(lines) < 2:
                problems.append(f"{wl} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            detail, res = json.loads(lines[-2])["detail"], json.loads(lines[-1])
            want = spec["per_layer" if trace else "end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not _finite(got.get("value")):
                    problems.append(f"{wl} trace={trace}: metric {m['name']} = {got}")
            if res["failed"]:
                # a wrong result at HEAD is the benchmark doing its job, not
                # a plumbing fault: report it, do not fail the self-test
                print(f"smoke {wl} trace={trace}: {res['failed']} failed operations: "
                      f"{detail['failures']}", file=sys.stderr)
            unfired = [g for g in detail["gates"] if not detail["gate_fired"].get(g)]
            if unfired:
                problems.append(f"{wl} trace={trace}: gates did not fire: {unfired}")
            print(f"smoke {wl} trace={trace}: {len(res['metrics'])} metrics, "
                  f"gates fired: {sorted(detail['gate_fired'])}", flush=True)
    for p in problems:
        print("SMOKE PROBLEM:", p, file=sys.stderr)
    return 1 if problems else 0


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and v == v and abs(v) != float("inf")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="self-test every workload at tiny size")
    ap.add_argument("--smoke-size", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if not (ROOT / "BENCHMARK.json").is_file():
        print("perfbench: BENCHMARK.json missing", file=sys.stderr)
        return 2
    names = [w["name"] for w in _spec()["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
