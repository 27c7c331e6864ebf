"""One benchmark sample, run in a fresh process by ``perfbench/run.py``.

Set-up (engine import, ``session.get_spark``, a first job, and
``cache.cache_shared_stages`` where the workload uses it), then a first pass
through the workload's mix that collects every result, then a closed-loop
timed window of whole passes, each query materialized through the ``noop``
writer. Each first-pass result is compared against the query's DuckDB oracle,
and after the window the memory the session holds is read, both outside the
timed region. With ``--trace 1`` a streaming listener, Spark's
event log (enabled by the parent through ``PYSPARK_SUBMIT_ARGS``) and layer
spans on every second pass give the per-layer figures of the window.

Writes one JSON document to ``--out``.
"""

import time

T0 = time.perf_counter()  # set-up is timed from process start, imports included

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402

from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def pass_order(mix: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The mix in the order of one pass. The first pass (0) runs it as listed:
    a query's cold cost depends on which queries ran before it in the fresh
    session, so a fixed order makes the first pass comparable across runs.
    Each pass of the timed window runs it in a seeded order."""
    order = list(mix)
    if pass_no:
        random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident sizes (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def jvm_memory_mb(spark) -> tuple[float, float]:
    """``(heap, non-heap)`` the JVM has in use once full collections stop
    freeing memory, in MB: what the session holds (cached blocks, broadcasts,
    stream state, loaded and generated classes), without the garbage that the
    collector's timing leaves in the heap."""
    import gc

    gc.collect()  # drops the driver's references to JVM objects of finished queries
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark's cleaner releases a finished query's broadcasts only after a
    # collection has found them unreachable, and the heap can read the same
    # twice before that happens, so at least four rounds run
    readings = []
    while len(readings) < 12:
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        readings.append(mem.getHeapMemoryUsage().getUsed())
        if len(readings) >= 4 and abs(readings[-1] - readings[-2]) <= 0.01 * readings[-2]:
            break
    used = readings[-1]
    return used / 2**20, mem.getNonHeapMemoryUsage().getUsed() / 2**20


def check_result(con, query, rows, cols, dtypes) -> tuple[bool, str]:
    """Compare a collected result against the query's DuckDB oracle; a query
    without an oracle must return rows."""
    from compare_oracle import compare, dtype_mismatches

    if query.oracle is None:
        return (len(rows) > 0, "" if rows else "no rows")
    rel = con.sql(query.oracle)
    duck_cols = list(rel.columns)
    ok = compare("", rows, cols, rel.fetchall(), duck_cols)
    bad = dtype_mismatches(dtypes, duck_cols, list(rel.types))
    if bad:
        return False, f"dtype {bad}"
    return ok, "" if ok else "oracle mismatch"


def first_pass(spark, registry, mix, seed, sf_dir) -> list[dict]:
    """Collect every query of the mix once (timed) and check it (untimed)."""
    from compare_oracle import duck_connect

    con = duck_connect(sf_dir)
    out = []
    for name in pass_order(mix, seed, 0):
        rec = {"name": name, "ok": True, "error": ""}
        t0 = time.perf_counter()
        try:
            df = registry[name].fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            rec["wall_s"] = time.perf_counter() - t0
            rec["ok"], rec["error"] = check_result(con, registry[name], rows, df.columns, df.dtypes)
        except Exception as e:  # noqa: BLE001 — a failing query is a counted outcome
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:300], wall_s=time.perf_counter() - t0)
        out.append(rec)
    return out


def timed_window(spark, registry, wl, seed, sf_dir, seconds: float,
                 recorder=None) -> tuple[list[dict], float, int]:
    """Whole passes until ``seconds`` have elapsed and the workload's
    ``passes`` have run (the latency figures are taken over those). Returns
    per-execution records, the window's wall time and the number of passes.

    With a ``recorder`` (traced run) spans are recorded on even passes only and
    at least three passes run, so the untraced passes on both sides of a traced
    one measure the same mix without spans."""
    mix = wl.mix
    min_passes = max(wl.passes, 3) if recorder is not None else wl.passes
    records = []
    w0 = time.perf_counter()
    passes = 0
    while time.perf_counter() - w0 < seconds or passes < min_passes:
        passes += 1
        traced = recorder is not None and passes % 2 == 0
        tracing.activate(recorder if traced else None)
        for name in pass_order(mix, seed, passes):
            rec = {"name": name, "pass": passes, "traced": traced, "start": time.time(),
                   "ok": True, "error": ""}
            t0 = time.perf_counter()
            try:
                with tracing.span("plans.build"):
                    df = registry[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with tracing.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
            except Exception as e:  # noqa: BLE001 — a failing query is a counted outcome
                rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:300])
            rec["end"] = time.time()
            records.append(rec)
    tracing.activate(None)
    return records, time.perf_counter() - w0, passes


def cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _in_any(t: float, recs: list[dict]) -> bool:
    return any(r["start"] <= t <= r["end"] for r in recs)


def layer_figures(rec, progress, log, window, setup) -> dict[str, float]:
    """Per-layer figures of the traced passes of the window, per pass (set-up
    figures per run), and ``trace.overhead_frac``: the traced passes' mean
    wall against the untraced passes' mean wall."""
    from perfbench import eventlog

    recs = [r for r in window if r["traced"]]
    ok = [r for r in recs if r["ok"]]
    passes = len({r["pass"] for r in recs})
    untraced = [r for r in window if not r["traced"] and r["ok"]]
    out: dict[str, float] = dict(setup)
    out["trace.overhead_frac"] = (
        sum(r["wall_s"] for r in ok) / passes
        / (sum(r["wall_s"] for r in untraced) / len({r["pass"] for r in untraced}))
        - 1.0
    )
    layers: dict[str, dict[str, float]] = {}
    spark_tot: dict[str, float] = {}
    for r in recs:
        for layer, t in tracing.layer_totals(rec.spans, r["start"], r["end"]).items():
            acc = layers.setdefault(layer, {"calls": 0, "self_s": 0.0})
            acc["calls"] += t["calls"]
            acc["self_s"] += t["self_s"]
        for k, v in eventlog.window_stats(log, r["start"], r["end"]).items():
            spark_tot[k] = spark_tot.get(k, 0) + v
    out["cache.scan_hits"] = spark_tot.pop("scan_hits") / passes
    for k, v in spark_tot.items():
        out[f"spark.{k}"] = v / passes
    out["plans.build_s"] = sum(r["build_s"] for r in ok) / passes
    out["plans.exec_s"] = sum(r["exec_s"] for r in ok) / passes
    jobs_by_layer: dict[str, int] = {}
    for job in log.jobs.values():
        if _in_any(job.submit_s, recs):
            layer = tracing.innermost_layer(rec.spans, job.submit_s)
            jobs_by_layer[layer] = jobs_by_layer.get(layer, 0) + 1
    for layer in ("catalog", "streaming", "sources.sink") + tuple(
        f"operators.{m}" for m in ("windows", "metrics", "dedup", "pq", "similarity", "clustering")
    ):
        t = layers.get(layer, {"calls": 0, "self_s": 0.0})
        out[f"{layer}.calls"] = t["calls"] / passes
        out[f"{layer}.self_s"] = t["self_s"] / passes
        if layer.startswith("operators."):
            out[f"{layer}.jobs"] = jobs_by_layer.get(layer, 0) / passes
    batches = [e for e in progress.events if _in_any(e["t"], recs)]
    out["streaming.batches"] = len(batches) / passes
    out["streaming.batch_s"] = sum(e["batch_s"] for e in batches) / passes
    out["streaming.state_rows"] = sum(e["state_rows"] for e in batches) / passes
    # every traced query wall should be its recorded build span plus exec span
    out["trace.reconcile_max_s"] = max(
        (
            abs(r["wall_s"] - sum(
                s.wall_s for s in rec.spans
                if s.layer in ("plans.build", "plans.exec") and r["start"] <= s.start <= r["end"]
            ))
            for r in ok
        ),
        default=0.0,
    )
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    rec = None
    if args.trace:
        rec = tracing.Recorder()
        tracing.install(rec)
    from yfinance_etl_spark import cache, session
    from yfinance_etl_spark.plans.queries import REGISTRY

    t_sess = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t_sess
    t_cache = time.perf_counter()
    cached = cache.cache_shared_stages(spark, args.sf_dir) if wl.shared_cache else []
    cache_s = time.perf_counter() - t_cache
    setup_s = time.perf_counter() - T0
    setup = {
        "session.start_s": session_s,
        "cache.setup_s": cache_s,
        "cache.entries": len(cached),
        "cache.bytes": cache_bytes(spark) if rec is not None else 0,
    }

    progress = None
    if rec is not None:
        progress = tracing.StreamProgress()
        spark.streams.addListener(progress.listener())
        tracing.activate(None)  # the first pass is not traced
    t_first = time.perf_counter()
    first = first_pass(spark, REGISTRY, wl.mix, args.seed, args.sf_dir)
    t_window = time.perf_counter()
    window, window_s, passes = timed_window(
        spark, REGISTRY, wl, args.seed, args.sf_dir, args.seconds, rec
    )
    t_mem = time.perf_counter()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    heap_mb, nonheap_mb = jvm_memory_mb(spark)
    t_stop = time.perf_counter()
    result = {
        "setup_s": setup_s,
        "first_pass": first,
        "window": window,
        "window_s": window_s,
        "passes": passes,
        "peak_rss_mb": peak_rss_mb([os.getpid(), jvm_pid]),
        "jvm_heap_mb": heap_mb,
        "jvm_nonheap_mb": nonheap_mb,
    }
    if rec is not None:
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        spark.stop()  # closes the event log file
        from perfbench import eventlog

        log = eventlog.read(os.environ["PERFBENCH_EVENT_DIR"])
        result["layers"] = layer_figures(rec, progress, log, window, setup)
    else:
        spark.stop()
    # where the run's wall time goes (first pass includes its oracle check)
    result["phases_s"] = {
        "setup": setup_s,
        "first_pass": t_window - t_first,
        "window": t_mem - t_window,
        "memory": t_stop - t_mem,
        "stop": time.perf_counter() - t_stop,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
