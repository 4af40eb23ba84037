"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds all state inside a fresh run
directory, warms every request type with one untimed round, then runs
whole rounds for ``--seconds`` seconds, checks every output and prints
a report followed by one JSON line: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run (event
log on, one job group per request). ``--smoke`` shrinks every input so
a run finishes in seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODULES = (
    "api", "operators.search", "operators.retrieval", "operators.ann",
    "operators.index_build", "operators.query_cache", "storage", "tables",
    "perfbench", "other",
)
LAYER_KEYS = (
    "build_s", "action_s", "catalyst_s", "wall_s", "jobs", "stages", "tasks",
    "collect_jobs", "pins", "task_s", "driver_gap_s", "shuffle_mb", "scan_mb",
    "files_read",
)


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_type_figures(wl, spans) -> dict:
    """Median latency (and, from 40 samples, the p75) per request type."""
    out = {}
    for kind in wl.types:
        lat = [s.wall_s for s in spans if s.kind == kind and not s.error]
        out[f"{kind}_p50_s"] = p50(lat)
        if len(lat) >= 40:  # a tail needs ten samples beyond it
            out[f"{kind}_p75_s"] = statistics.quantiles(lat, n=4)[2]
        out[f"{kind}_n"] = len(lat)
    return out


def layer_metrics(wl, run, tracer, spans, jvm0, jvm1, cpu_s) -> tuple[dict, dict]:
    """Per-layer metrics (means per request) and the per-type breakdown."""
    from perfbench.trace import new_group, parse_event_log, union_s

    run.stop()  # flushes the event log
    groups = parse_event_log(run.path("events"))
    rows = []
    for s in spans:
        g = groups.get(s.group) or new_group()
        row = {k: g[k] for k in ("jobs", "stages", "tasks", "collect_jobs", "pins",
                                 "task_s", "shuffle_mb", "scan_mb", "files_read",
                                 "embed_tasks")}
        row.update(kind=s.kind, build_s=s.build_s, action_s=s.action_s,
                   catalyst_s=s.catalyst_s, wall_s=s.wall_s,
                   driver_gap_s=max(0.0, s.wall_s - union_s(g["intervals"])),
                   codegen_compiles=s.codegen_compiles,
                   files_written=s.files_written, mb_written=s.mb_written)
        for m in MODULES:
            row[f"module.{m}.jobs"], row[f"module.{m}.job_s"] = 0, 0.0
        for m, (n, t) in g["modules"].items():
            for key in {m, m if m in MODULES else "other"}:
                row[f"module.{key}.jobs"] = row.get(f"module.{key}.jobs", 0) + n
                row[f"module.{key}.job_s"] = row.get(f"module.{key}.job_s", 0.0) + t
        rows.append(row)

    def mean(key, sel=rows):
        return sum(r[key] for r in sel) / len(sel) if sel else 0.0

    n = max(len(rows), 1)
    metrics = {k: (mean(k), "s" if k.endswith("_s") else
                   "MB" if k.endswith("_mb") else "count") for k in LAYER_KEYS}
    for m in MODULES:
        metrics[f"module.{m}.jobs"] = (mean(f"module.{m}.jobs"), "count")
    ups = [r for r in rows if r["kind"] == "upsert"]
    metrics["index_build.embed_tasks"] = (mean("embed_tasks", ups), "count")
    metrics["storage.files_written"] = (mean("files_written"), "count")
    metrics["storage.mb_written"] = (mean("mb_written"), "MB")
    metrics["jvm.gc_s"] = ((jvm1["gc_s"] - jvm0["gc_s"]) / n, "s")
    metrics["jvm.codegen_compiles"] = ((jvm1["compiles"] - jvm0["compiles"]) / n, "count")
    metrics["jvm.codegen_s"] = (jvm1["codegen_s"], "s")
    metrics["proc.cpu_s"] = (cpu_s / n, "s")

    breakdown = {}
    for kind in wl.types:
        sel = [r for r in rows if r["kind"] == kind]
        keys = list(LAYER_KEYS) + ["codegen_compiles", "files_written", "mb_written"]
        if kind == "upsert":
            keys.append("embed_tasks")
        d = {f"{kind}.{k}": round(mean(k, sel), 4) for k in keys}
        mods = sorted({k[len("module."):-len(".jobs")] for r in sel for k in r
                       if k.startswith("module.") and k.endswith(".jobs")})
        for m in mods:
            if any(r.get(f"module.{m}.jobs") for r in sel):
                d[f"{kind}.module.{m}.jobs"] = round(
                    sum(r.get(f"module.{m}.jobs", 0) for r in sel) / len(sel), 3)
                d[f"{kind}.module.{m}.job_s"] = round(
                    sum(r.get(f"module.{m}.job_s", 0.0) for r in sel) / len(sel), 4)
        breakdown[kind] = d
    return metrics, breakdown


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    try:
        import embeddingsearch_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import inputs
    from perfbench.session import Run
    from perfbench.trace import Tracer, cpu_s, peak_rss_mb, program_pids, steal_s
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = inputs.SMOKE if args.smoke else inputs.FULL
    trace = bool(args.trace)
    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(trace)
    try:
        run.start()
        t_session = time.perf_counter() - T_START
        tracer = Tracer(run.spark, trace)
        wl = WORKLOADS[args.workload](run, sizes, args.seed, tracer)
        wl.setup()
        t_state = time.perf_counter() - T_START
        wl.round(0, timed=False)  # every request type runs once cold
        setup_s = time.perf_counter() - T_START

        if trace:
            c0, _ = tracer.codegen()
            jvm0 = {"gc_s": tracer.gc_s(), "compiles": c0}
        cpu0 = cpu_s(program_pids(tracer.jvm_pid) + [os.getpid()])
        steal0 = steal_s()
        t0 = time.perf_counter()
        r = 0
        while True:  # whole rounds until the time is up
            r += 1
            wl.round(r, timed=True)
            if time.perf_counter() - t0 >= args.seconds:
                break
        timed_wall = time.perf_counter() - t0
        steal = steal_s() - steal0
        cpu1 = cpu_s(program_pids(tracer.jvm_pid) + [os.getpid()])
        user = sum(u - cpu0.get(p, (0.0, 0.0))[0] for p, (u, _) in cpu1.items())
        sys_ = sum(k - cpu0.get(p, (0.0, 0.0))[1] for p, (_, k) in cpu1.items())
        used = user + sys_
        if trace:
            c1, cg_s = tracer.codegen()
            jvm1 = {"gc_s": tracer.gc_s(), "compiles": c1, "codegen_s": cg_s}

        rss = peak_rss_mb(tracer.jvm_pid)  # before the checkers load DuckDB
        spans = [s for s in tracer.spans if s.timed]
        problems = wl.check()
        failed = [s for s in spans if s.error]
        ok_spans = [s for s in spans if not s.error]
        rounds = [
            sum(s.wall_s for s in spans if s.round == i)
            for i in range(1, r + 1)
        ]
        # Wall-clock figures are reported, not bounded: on a shared host
        # they follow the time the hypervisor steals from this machine
        # (printed as host_steal_s) far more than CPU time does.
        wall = {
            "round_p50_s": p50(rounds),
            "throughput_per_s": wl.units(ok_spans) / timed_wall,
        }
        e2e = {
            "round_cpu_s": (used / r, "s"),
            "peak_rss_mb": (rss["python"] + rss["jvm"] + rss["workers"], "MB"),
            "stored_mb": (wl.stored, "MB"),
            "setup_s": (setup_s, "s"),
        }

        print(f"# perfbench workload={wl.name} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} smoke={args.smoke}")
        print("# env " + json.dumps(run.describe(), sort_keys=True))
        print("# rss_mb " + " ".join(f"{k}={v:.1f}" for k, v in rss.items()))
        print(f"# setup session_s={t_session:.3f} state_s={t_state - t_session:.3f} "
              f"warmup_s={setup_s - t_state:.3f}")
        for kind in wl.types:
            k_spans = [s for s in spans if s.kind == kind]
            print(f"# ops {kind}: attempted={len(k_spans)} "
                  f"failed={sum(1 for s in k_spans if s.error)}")
        for s in failed[:5]:
            print(f"# failed {s.group}: {s.error}")
        for p in problems[:10]:
            print(f"# WRONG {p}")
        figures = {**wall, **per_type_figures(wl, spans)}
        print(f"# rounds={r} timed_wall_s={timed_wall:.3f} cpu_s={used:.2f} "
              f"cpu_user_s={user:.2f} cpu_sys_s={sys_:.2f} "
              f"host_steal_s={steal:.2f} " + " ".join(
                  f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
                  for k, v in figures.items()))
        if trace:
            metrics, breakdown = layer_metrics(
                wl, run, tracer, spans, jvm0, jvm1, used
            )
            print("# traced end-to-end " + " ".join(
                f"{k}={v:.4f}" for k, v in {**wall, **{k: v for k, (v, _) in e2e.items()}}.items()))
            for kind, d in breakdown.items():
                print(f"# layers {kind} " + json.dumps(d, sort_keys=True))
        else:
            metrics = e2e
        result = {
            "correct": not problems,
            "attempted": len(spans),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        run.close()


if __name__ == "__main__":
    sys.exit(main())
