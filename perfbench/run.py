#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Makes the workload's inputs from the
seed, sets the engine up several times (the median is ``setup_s``), warms
up while checking outputs against their oracles, measures a fixed number
of passes set by ``--seconds`` (about that long at 4 cores) and prints one
JSON line last on stdout: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  The traced run
measures untraced first, then again with spans and the Spark event log on,
and reports the difference as ``trace.overhead_pct``.  Everything it writes
goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 3

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
    "driver_mem_mib": "MiB",
}

PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.execute_s": "s",
    "session.pinned_rdds_end": "count",
    "session.storage_mem_mib_end": "MiB",
    "session.residue_ops": "count",
    "llm_ops.task_s": "s",
    "llm_ops.shuffle_mib": "MiB",
    "llm_ops.spill_mib": "MiB",
    "llm_ops.max_task_ratio": "ratio",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.queue_wait_s": "s",
    "streaming.backlog_files_max": "count",
    "streaming.index_files": "count",
    "streaming.index_mib": "MiB",
    "streaming.write_amp": "ratio",
    "control.switch_us": "us",
    "control.plan_ms": "ms",
    "control.evaluate_s": "s",
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "driver.jvm_rss_mib": "MiB",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every scratch path at ``work`` and make the package importable
    by this process and by Spark's Python workers (they inherit the env)."""
    from session import cpu_count

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def layer_metrics(spans, result: dict, by_desc: dict) -> dict:
    """Per-layer values of one traced measurement from its spans and the
    event log of the traced session, aggregated per job description."""
    top = {}
    for s in spans:  # span id -> its top-level ancestor
        top[s["id"]] = s["id"] if s["parent"] is None else top[s["parent"]]
    per_top: dict[int, list] = {}
    for desc, rec in by_desc.items():
        if desc.startswith("pb#"):
            sid = int(desc[3:])
            per_top.setdefault(top[sid], []).append((spans[sid]["name"], rec))
    n = max(len(result["pass_s"]), 1)
    out = {k: 0.0 for k in PER_LAYER}
    out.update(result["layers"])
    llm_ratio = []
    for tid, recs in per_top.items():
        name = spans[tid]["name"]
        out["queries.build_jobs"] += sum(r["jobs"] for nm, r in recs if nm == "queries.build") / n
        if spans[tid].get("llm_ops"):
            out["llm_ops.task_s"] += sum(r["task_s"] for _, r in recs) / n
            out["llm_ops.shuffle_mib"] += sum(r["shuffle_mib"] for _, r in recs) / n
            out["llm_ops.spill_mib"] += sum(r["spill_mib"] for _, r in recs) / n
            llm_ratio.append(max(r["max_task_ratio"] for _, r in recs))
        if name == "control.tune":
            out["control.evaluate_s"] += sum(r["task_s"] for _, r in recs)
    out["llm_ops.max_task_ratio"] = max(llm_ratio, default=0.0)
    return out


def span_table(spans, by_desc: dict) -> dict:
    """Per span name: count, total and self time, and the Spark work of the
    jobs the spans of that name started (task time, shuffle, spill, the
    worst max/median task ratio).  Also stores each span's own figures in
    the span record, so the written trace carries them."""
    from measure import self_times

    st = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        s["self_s"] = st[s["id"]]
        s.update(by_desc.get(f"pb#{s['id']}", {}))
        row = table.setdefault(s["name"], dict.fromkeys(
            ("n", "total_s", "self_s", "jobs", "task_s", "shuffle_mib", "spill_mib", "max_task_ratio"), 0))
        row["n"] += 1
        row["total_s"] += s["end"] - s["start"]
        for k in ("self_s", "jobs", "task_s", "shuffle_mib", "spill_mib"):
            row[k] += s.get(k, 0)
        row["max_task_ratio"] = max(row["max_task_ratio"], s.get("max_task_ratio", 0))
    return table


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    configure_env(work)
    try:
        import bench  # noqa: F401  the headline list lives there
        from video_etl_spark import registry
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from measure import event_log_by_description, median
    from session import Session, log, rss_peak_mib
    from workloads import PHASES, WORKLOADS, _new_result

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed, work)
    ses = Session(work)
    try:
        wl.make_inputs()
        setups = []
        for i in range(N_SETUPS):
            if i:
                ses.stop()
            t0 = time.perf_counter()
            ses.start()
            registry.load_all()
            wl.prepare(ses)
            setups.append(time.perf_counter() - t0)
        log(f"setup_s samples: {[round(s, 3) for s in setups]}")
        result = _new_result()
        wl.warm(ses, result)
        log(f"warm-up done at {time.perf_counter() - T0:.1f} s")
        wl.measure(ses, args.seconds, result)
        metrics = {
            "pass_s": result["median_pass_s"],
            "setup_s": median(setups),
        }
        attempted, failed = result["attempted"], result["failed"]
        failures = list(result["failures"])
        log(f"untraced: {len(result['pass_s'])} passes, pass_s={result['pass_s']}")
        if args.trace:
            ses.stop()
            ses.start(trace=True)
            wl.prepare(ses)
            gc0 = ses.jvm_gc_s()
            traced = _new_result()
            wl.measure(ses, args.seconds, traced)
            for phase in PHASES:
                phase(args.seed, work).run(ses, traced)
            gc_s = ses.jvm_gc_s() - gc0
            pinned = ses.residue()[0]
            storage = ses.storage_mem_mib()
            jvm_rss = rss_peak_mib(ses.jvm_pid())
            ses.stop()  # flushes the event log
            by_desc = event_log_by_description(ses.event_log_lines())
            spans = ses.tracer.spans
            layers = layer_metrics(spans, traced, by_desc)
            layers.update({
                "session.pinned_rdds_end": len(pinned),
                "session.storage_mem_mib_end": storage,
                "session.start_s": ses.cold_start_s,
                "jvm.gc_s": gc_s,
                "driver.jvm_rss_mib": jvm_rss,
                "trace.overhead_pct": 100.0 * (traced["median_pass_s"] / metrics["pass_s"] - 1.0),
            })
            attempted += traced["attempted"]
            failed += traced["failed"]
            failures += traced["failures"]
            log("spans of the traced run (s, MiB): name, count, total, self, jobs, task, shuffle, "
                "spill, max task ratio")
            for name, r in sorted(span_table(spans, by_desc).items(), key=lambda kv: -kv[1]["self_s"]):
                log(f"  {name:36s} {r['n']:5d} {r['total_s']:8.3f} {r['self_s']:8.3f} {r['jobs']:5d} "
                    f"{r['task_s']:8.3f} {r['shuffle_mib']:7.2f} {r['spill_mib']:7.2f} "
                    f"{r['max_task_ratio']:6.2f}")
            log("per-layer: " + json.dumps({k: layers[k] for k in PER_LAYER}))
            extra = {k: v for k, v in layers.items() if k not in PER_LAYER}
            if extra:
                log("per-layer extras: " + json.dumps(extra))
            ses.tracer.write(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
            out = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            py_mib, jvm_mib = rss_peak_mib(), ses.jvm_live_mib()
            log(f"driver memory: python peak {py_mib:.1f} MiB, jvm live {jvm_mib:.1f} MiB")
            metrics["driver_mem_mib"] = py_mib + jvm_mib
            out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    finally:
        ses.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - T0:.1f} s")
    if failures:
        log(f"failed operations: {sorted(set(failures))}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
