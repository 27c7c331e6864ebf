"""Closed-loop benchmark of the engine's query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the input tables from ``--seed``
(``perfbench/datagen.py``) into ``.perfbench_work/`` under the root, runs one
sample of the workload in a fresh process on ``local[<cores>]``, prints each
metric with its unit, and prints as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the sample
with Spark's event log and a streaming listener on, records layer spans on
every second pass of the timed window, and reports the per-layer metrics of
those passes plus ``trace.overhead_frac``, their wall against the passes
without spans.

Every first-pass result is checked against its DuckDB oracle; an exception or
a mismatch counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.workloads import SCALE, WORKLOADS  # noqa: E402

#: the whole run ends within this
DEADLINE_S = 170.0
#: environment variable that marks every process of a sample
SAMPLE_ENV = "PERFBENCH_SAMPLE"


class SampleError(RuntimeError):
    pass


def _sample_pids(token: str) -> list[int]:
    """Live (non-zombie) processes whose environment carries ``token``: the
    sample process and everything it started (JVM, Python workers), whatever
    process group they moved to."""
    needle = f"{SAMPLE_ENV}={token}".encode() + b"\0"
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle not in f.read():
                    continue
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rfind(")") + 2] != "Z":
            pids.append(int(entry))
    return pids


def _stop_sample(token: str, timeout_s: float = 15.0) -> None:
    """Kill what is left of a sample and wait until it is gone."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        pids = _sample_pids(token)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise SampleError(f"processes of sample {token} did not exit")


def _cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time per state (user ... steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def run_sample(work: str, argv: list[str], trace: bool, deadline: float) -> dict:
    """Run ``perfbench.child`` in a fresh process with its own temp dirs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d)
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, os.path.join(ROOT, "tools")]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
        PERFBENCH_EVENT_DIR=events,
    )
    env[SAMPLE_ENV] = token = work
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "child.log")
    cmd = [sys.executable, "-m", "perfbench.child", *argv, "--out", out, "--trace", str(int(trace))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_sample(token)
            proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exited {code}"
        raise SampleError(f"sample {why}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def end_to_end(res: dict, passes: int) -> tuple[dict[str, float], tuple[float | None, int, int]]:
    """The end-to-end metrics of one sample, the latency figures over the
    window's first ``passes`` passes, and the tail's
    ``(percentile, executions beyond it, executions it is taken over)``."""
    fixed = [r for r in res["window"] if r["pass"] <= passes]
    by_query: dict[str, list[float]] = {}
    for r in fixed:
        if r["ok"]:
            by_query.setdefault(r["name"], []).append(r["wall_s"])
    lat = [v for vals in by_query.values() for v in vals]
    pct, tail_v, beyond = stats.tail(by_query)
    metrics = {
        "setup_s": res["setup_s"],
        "first_pass_s": sum(r["wall_s"] for r in res["first_pass"]),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
        "queries_per_min": len(lat) * 60.0 / (max(r["end"] for r in fixed)
                                              - min(r["start"] for r in fixed)),
        "jvm_retained_mb": res["jvm_heap_mb"] + res["jvm_nonheap_mb"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, (pct, beyond, len(lat))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    missing = [p for p in ("yfinance_etl_spark", "tools/compare_oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {missing})", file=sys.stderr)
        return 2

    t_run = time.monotonic()
    ticks0 = _cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sf_dir = datagen.write_tables(os.path.join(work, f"sf{SCALE}"), args.seed, SCALE)
        datagen_s = time.monotonic() - t_run
        base = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--sf-dir", sf_dir]
        res = run_sample(work, base, bool(args.trace), deadline)
    except SampleError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    phases = " ".join(f"{k} {v:.1f}" for k, v in res["phases_s"].items())
    print(f"run_wall_s {time.monotonic() - t_run:.1f} (datagen {datagen_s:.1f} {phases})")
    # CPU time a virtual machine's host gave to others while this run waited
    # for it: timings of runs with a high share are not comparable
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    print(f"host_steal_frac {ticks[7] / max(1, sum(ticks)):.3f}")
    attempted, failed = stats.count_outcomes(res["first_pass"] + res["window"])
    for r in res["first_pass"] + res["window"]:
        if r["error"]:
            print(f"FAILED {r['name']}: {r['error']}")
    wl = WORKLOADS[args.workload]
    for name in wl.mix:
        first = [r["wall_s"] for r in res["first_pass"] if r["name"] == name]
        warm = [r["wall_s"] for r in res["window"] if r["name"] == name and r["ok"]]
        print(f"query {name} first_pass_s {first[0]:.3f} window_median_s "
              f"{statistics.median(warm) if warm else float('nan'):.3f} executions {len(warm)} "
              f"walls {' '.join(f'{w:.3f}' for w in warm)}")
    if not any(r["ok"] and r["pass"] <= wl.passes for r in res["window"]):
        print("perfbench: no query of the mix completed in the timed window", file=sys.stderr)
        return 1
    e2e, (pct, beyond, n) = end_to_end(res, wl.passes)
    print(f"workload {args.workload} seed {args.seed} scale {SCALE} "
          f"passes {res['passes']} window_s {res['window_s']:.3f}")
    if args.trace:
        metrics = res["layers"]
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
        for name, m in out.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(f"trace.reconcile_max_s {metrics['trace.reconcile_max_s']:.3g} s")
    else:
        out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
        for name, m in out.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        if pct is None:
            print(f"latency_tail: slowest query median ({n} executions in the first "
                  f"{wl.passes} passes, fewer than {stats.MIN_EXECUTIONS} for a percentile)")
        else:
            print(f"latency_tail_pct {pct:g} ({beyond} executions beyond, {n} in the first "
                  f"{wl.passes} passes)")
        print(f"peak_rss_mb {e2e['peak_rss_mb']:.6g} MB (jvm_retained_mb: heap "
              f"{res['jvm_heap_mb']:.6g} + non-heap {res['jvm_nonheap_mb']:.6g} MB)")
    print(f"failed_frac {stats.failed_frac(attempted, failed):.6g} frac")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
