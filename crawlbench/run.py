"""Crawl-engine benchmark runner.

    python3 crawlbench/run.py --workload frontier_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. Starts one local Spark session with a task
slot for every second core the process may use, generates the workload's
seeded inputs, sets up, runs closed-loop rounds for ``--seconds``, checks
outputs against the engine's pure-Python oracles, and prints one JSON
object as the last stdout line: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything the run writes
(inputs, stores, Spark scratch, event logs) lives under ``.crawlbench_work/``
in the repository root and is removed at exit, SIGTERM included. See
crawlbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: rounds always measured, however long they take (in traced runs the
#: first is untraced and the second traced)
MIN_ROUNDS = 2
#: set-up repetitions whose median enters setup_s
SETUP_REPS = 3
#: store tables a discover round with outlink expansion appends to
STORE_TABLES = ["lineage", "versions", "metrics", "ops_log", "fetched", "bloom", "discovered"]
#: every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "scheduler.canonical_candidates_s": "s",
    "scheduler.dedup_in": "rows",
    "scheduler.dedup_out": "rows",
    "scheduler.filter_unseen_s": "s",
    "seen.bloom_positive_ratio": "ratio",
    "seen.bloom_fp_ratio": "ratio",
    "scheduler.robots_gate_s": "s",
    "scheduler.robots_in": "rows",
    "scheduler.robots_out": "rows",
    "scheduler.politeness_topk_s": "s",
    "scheduler.topk_in": "rows",
    "scheduler.topk_out": "rows",
    "exchange.shuffle_write_bytes": "B",
    "exchange.task_skew": "ratio",
    "rounds.crawl_round_self_s": "s",
    "rounds.spark_jobs_per_round": "count",
    "rounds.driver_gap_share": "ratio",
    "rounds.crawl_docs_per_s": "docs/s",
    **{f"snapshots.append_s.{t}": "s" for t in STORE_TABLES},
    **{f"snapshots.bytes_written.{t}": "B" for t in STORE_TABLES},
    "snapshots.files_written": "count",
    "snapshots.commit_s": "s",
    "snapshots.store_bytes_per_doc": "B/doc",
    "seen.bloom_merge_s": "s",
    "discovery.expand_s": "s",
    "diff.run_round_s": "s",
    "diff.ops_added": "rows",
    "diff.ops_updated": "rows",
    "diff.ops_deleted": "rows",
    "state.state_as_of_s": "s",
    "state.asof_read_s_p50": "s",
    "state.history_rounds": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["frontier_bulk", "discover_rounds"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def machine_stamp() -> dict:
    total, steal = cpu_jiffies()
    return {"loadavg_1m": os.getloadavg()[0], "nproc": len(os.sched_getaffinity(0)),
            "cpu_jiffies": total, "steal_jiffies": steal}


def steal_share(start: dict, end: dict) -> float:
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two stamps: a run measured while other tenants were busy shows
    a high share."""
    total = end["cpu_jiffies"] - start["cpu_jiffies"]
    return (end["steal_jiffies"] - start["steal_jiffies"]) / max(total, 1)


def proc_mb(pid: int | str, field: str) -> float:
    """A memory figure of a process (``VmHWM``, ``VmRSS``) from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss(pid: int | str) -> None:
    """Reset a process's VmHWM to its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    put the package on the Python workers' path."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts, the launcher included: no perf-data
    # files and temp files under ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # the engine's 24g default exceeds small machines' memory
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE]


def task_slots(nproc: int) -> int:
    """Spark task slots: half the cores. Every task of the scheduler's pandas
    UDFs keeps an Arrow Python worker busy beside its JVM thread, so
    ``local[nproc]`` runs twice as many processes as there are cores and
    measures the OS scheduler (and any other tenant) more than the engine."""
    return max(1, nproc // 2)


def start_spark(work: str, trace: bool, cores: int):
    from dataset_crawler_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark("crawlbench", cores=cores, shuffle_partitions=2 * cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, trace: bool) -> dict:
    """Closed-loop rounds until the next one would overrun ``seconds``
    (at least MIN_ROUNDS). In traced runs every second round is traced:
    the scheduler stage probe runs before it and the engine callables of
    ``wl.trace_targets()`` are wrapped while it runs."""
    sc = wl.spark.sparkContext
    out = {"round_s": [], "traced": [], "infos": [], "asof_s": [], "windows": {},
           "attempted": 0, "failed": 0, "span_ids": []}
    iter_s: list[float] = []
    t_start = time.perf_counter()
    k = 1
    while True:
        elapsed = time.perf_counter() - t_start
        if len(out["round_s"]) >= MIN_ROUNDS and elapsed + statistics.median(iter_s) > seconds:
            break
        it0 = time.perf_counter()
        wl.prepare(k)
        traced = trace and k % 2 == 0
        group = f"round-{k}"
        out["attempted"] += 1
        try:
            if traced:
                sc.setJobGroup(f"probe-{k}", "scheduler stage probe")
                wl.probe(k)
            sc.setJobGroup(group, "measured round")
            w0 = time.time()
            if traced:
                with wl.tracer.wrapping(wl.trace_targets()), wl.tracer.span("round") as sp:
                    info = wl.round(k)
                dt = sp.seconds
                out["span_ids"].append(wl.tracer.spans.index(sp))
            else:
                p0 = time.perf_counter()
                info = wl.round(k)
                dt = time.perf_counter() - p0
            out["windows"][group] = (w0, time.time(), traced)
            sc.setJobGroup("checks", "output checks")
            chk = wl.after_round(k, info)
        except Exception as e:  # a raise ends the run; it counts as failed
            print(f"round {k} raised: {e!r}", file=sys.stderr)
            out["failed"] += 1
            break
        out["failed"] += 0 if chk["ok"] else 1
        if "asof_s" in chk:
            out["attempted"] += 1
            out["failed"] += 0 if chk["asof_ok"] else 1
            out["asof_s"].append(chk["asof_s"])
        out["round_s"].append(dt)
        out["traced"].append(traced)
        out["infos"].append(info)
        iter_s.append(time.perf_counter() - it0)
        k += 1
    out["measure_s"] = time.perf_counter() - t_start
    return out


def median_or_zero(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(wl, m: dict, events_dir: str) -> dict:
    """Per-layer metrics: medians over traced rounds of span sums, the
    scheduler stage probe, and event-log figures of untraced rounds."""
    import tracing as TR

    tr = wl.tracer
    per_round = []
    for sid in m["span_ids"]:
        d: dict[str, float] = {"self_s": tr.self_seconds(sid)}
        for s in tr.descendants(sid):
            d[s.name + "_s"] = d.get(s.name + "_s", 0.0) + s.seconds
            if s.name.startswith("snapshots.append."):
                t = s.name.rsplit(".", 1)[1]
                d["bytes." + t] = d.get("bytes." + t, 0) + s.attrs.get("bytes", 0)
                d["files"] = d.get("files", 0) + s.attrs.get("files", 0)
            if s.name == "diff.run_round":
                for op in ("added", "updated", "deleted"):
                    d["ops_" + op] = d.get("ops_" + op, 0) + s.attrs.get(op, 0)
        per_round.append(d)

    def rmed(key: str) -> float:
        return median_or_zero(d.get(key, 0.0) for d in per_round)

    def stage(name: str, key: str | None = None) -> float:
        spans = [s for s in tr.spans if s.name == name]
        if key is None:
            return median_or_zero(s.seconds for s in spans)
        return median_or_zero(s.attrs.get(key, 0) for s in spans)

    unseen = [s for s in tr.spans if s.name == "scheduler.filter_unseen" and "bloom_positives" in s.attrs]
    pos_ratio = median_or_zero(s.attrs["bloom_positives"] / max(s.attrs["rows_in"], 1) for s in unseen)
    fp_ratio = median_or_zero(
        (s.attrs["bloom_positives"] - (s.attrs["rows_in"] - s.attrs["rows_out"]))
        / max(s.attrs["bloom_positives"], 1)
        for s in unseen
    )

    plain = {g: (w[0], w[1]) for g, w in m["windows"].items() if not w[2]}
    ev = TR.job_group_stats(TR.read_event_log(events_dir), plain)

    def emed(key: str) -> float:
        return median_or_zero(v[key] for v in ev.values())

    traced_s = [s for s, t in zip(m["round_s"], m["traced"]) if t]
    plain_s = [s for s, t in zip(m["round_s"], m["traced"]) if not t]
    out = {
        "session.start_s": m["session_s"],
        "memory.peak_rss_mb": m["peak_rss_mb"],
        "scheduler.canonical_candidates_s": stage("scheduler.canonical_candidates"),
        "scheduler.dedup_in": stage("scheduler.canonical_candidates", "rows_in"),
        "scheduler.dedup_out": stage("scheduler.canonical_candidates", "rows_out"),
        "scheduler.filter_unseen_s": stage("scheduler.filter_unseen"),
        "seen.bloom_positive_ratio": pos_ratio,
        "seen.bloom_fp_ratio": fp_ratio,
        "scheduler.robots_gate_s": stage("scheduler.robots_gate"),
        "scheduler.robots_in": stage("scheduler.robots_gate", "rows_in"),
        "scheduler.robots_out": stage("scheduler.robots_gate", "rows_out"),
        "scheduler.politeness_topk_s": stage("scheduler.politeness_topk"),
        "scheduler.topk_in": stage("scheduler.politeness_topk", "rows_in"),
        "scheduler.topk_out": stage("scheduler.politeness_topk", "rows_out"),
        "exchange.shuffle_write_bytes": emed("shuffle_write_bytes"),
        "exchange.task_skew": emed("task_skew"),
        "rounds.crawl_round_self_s": rmed("self_s"),
        "rounds.spark_jobs_per_round": emed("jobs"),
        "rounds.driver_gap_share": emed("driver_gap_share"),
        "rounds.crawl_docs_per_s": m["summary"].get("crawl_docs_per_s", 0.0),
        "snapshots.files_written": rmed("files"),
        "snapshots.commit_s": rmed("snapshots.commit_s"),
        "snapshots.store_bytes_per_doc": m["summary"].get("store_bytes_per_doc", 0.0),
        "seen.bloom_merge_s": rmed("snapshots.append.bloom_s"),
        "discovery.expand_s": rmed("snapshots.append.discovered_s"),
        "diff.run_round_s": rmed("diff.run_round_s"),
        "diff.ops_added": rmed("ops_added"),
        "diff.ops_updated": rmed("ops_updated"),
        "diff.ops_deleted": rmed("ops_deleted"),
        "state.state_as_of_s": rmed("state.state_as_of_s"),
        "state.asof_read_s_p50": median_or_zero(m["asof_s"]),
        "state.history_rounds": float(m["summary"].get("history_rounds", 0)),
        "trace.overhead_s": median_or_zero(traced_s) - median_or_zero(plain_s),
    }
    for t in STORE_TABLES:
        out[f"snapshots.append_s.{t}"] = rmed(f"snapshots.append.{t}_s")
        out[f"snapshots.bytes_written.{t}"] = rmed(f"bytes.{t}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataset_crawler_spark")):
        print(f"crawlbench: no dataset_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception: Spark stops and ``work`` goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp_start = machine_stamp()
    work = os.path.join(ROOT, ".crawlbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_environment(work)
    try:
        return run(args, work, stamp_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, stamp_start: dict) -> int:
    import tracing as TR
    from workloads import WORKLOADS

    trace = bool(args.trace)
    phase = {}
    t0 = time.perf_counter()
    spark = start_spark(work, trace, task_slots(stamp_start["nproc"]))
    session_s = phase["session"] = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, TR.Tracer() if trace else None)
        t0 = time.perf_counter()
        wl.generate()
        phase["generate"] = time.perf_counter() - t0
        reps = [wl.setup_once(k) for k in range(SETUP_REPS)]
        warm = wl.finish_setup()
        setup_s = session_s + statistics.median(reps) + warm
        phase["setup"] = sum(reps) + warm
        # peak memory of the measured rounds only: the JVM's peak from here
        # on, plus what the driver Python grows above its post-set-up size
        # (its inputs and oracle rows are the benchmark's own)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        reset_peak_rss(jvm_pid)
        reset_peak_rss("self")
        py_base_mb = proc_mb("self", "VmRSS")
        m = measure(wl, args.seconds, trace)
        m["peak_rss_mb"] = proc_mb(jvm_pid, "VmHWM") + proc_mb("self", "VmHWM") - py_base_mb
        phase["measure"] = m["measure_s"]
        m["session_s"] = session_s
        attempted, failed = m["attempted"], m["failed"]
        t0 = time.perf_counter()
        checks, m["summary"] = [], {}
        if m["round_s"]:
            try:
                checks = wl.final_checks()
                m["summary"] = wl.summary(m["round_s"], m["infos"])
            except Exception as e:  # counted as one failed check
                print(f"final checks raised: {e!r}", file=sys.stderr)
                checks.append(("final_checks_completed", False))
        phase["final_checks"] = time.perf_counter() - t0
        attempted += len(checks)
        failed += sum(1 for _, ok in checks if not ok)
        plain_s = [s for s, t in zip(m["round_s"], m["traced"]) if not t]
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phase["stop"] = time.perf_counter() - t0
    stamp_end = machine_stamp()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine_start": stamp_start,
        "machine_end": stamp_end,
        "steal_share": steal_share(stamp_start, stamp_end),
        "rounds": len(m["round_s"]),
        "round_s": [round(x, 4) for x in m["round_s"]],
        "setup_reps_s": [round(x, 4) for x in reps],
        "phase_s": {k: round(v, 2) for k, v in phase.items()},
        "checks": dict(checks),
        "error_rate": failed / max(attempted, 1),
        "peak_rss_mb": m["peak_rss_mb"],
        **m["summary"],
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "round_s_p50": (median_or_zero(plain_s), "s"),
        "sched_urls_per_s": (m["summary"].get("sched_urls_per_s", 0.0), "urls/s"),
    }
    if trace:
        layers = layer_metrics(wl, m, os.path.join(work, "events"))
        metrics = {k: (layers[k], unit) for k, unit in PER_LAYER_UNITS.items()}
    else:
        report["asof_read_s_p50"] = median_or_zero(m["asof_s"])
        report["asof_samples"] = len(m["asof_s"])
    report["metrics"] = {k: f"{v:.6g} {u}" for k, (v, u) in metrics.items()}
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
