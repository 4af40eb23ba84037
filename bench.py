"""Benchmark harness: runs every query in __spark_entry__.queries() at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "build": {name: sec, ...},
   "build_sec": N, "sf": ...}

Each query is fully executed via the no-op sink (measures scan + compute +
shuffle, excludes driver-side collect), after one warm-up of the session.

Run policy (see the loop below): build rows run once, in a
cross-round ROTATED sample fitting BENCH_BUILD_BUDGET_SEC (default
500 s; new gates always run; skipped rows recorded); serve rows run
median-of-3; serve rows with a registered SETUP_SERVE split run their
index-construction setup once UNTIMED and time the serve alone; the
whole run degrades run counts to fit BENCH_BUDGET_SEC (default 2200 s)
instead of overrunning the driver's window.

BUILD vs SERVE: the headline `value` sums SERVING-shaped queries — the
cost that scales with query volume at 100 TB. Queries whose in-query cost
is dominated by ONE-TIME index/model CONSTRUCTION (rebuilt inside the
gated query so the oracle can replay build+search — correct for gating,
amortized to ~zero per query in production) are timed identically but
reported under `build`/`build_sec`. Every build family has a
serving-shaped twin in the headline set (graph_ann_persisted,
*_indexed_topk, bm25_*_indexed, phrase_indexed, bm25_cached_serve …), so
the serve total still covers every operator family.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# In-query INDEX/MODEL CONSTRUCTION rows (oracle-isolation rebuilds,
# streaming drains, lifecycle composites). The classification is SUITE
# METADATA: each suite module tags its own names in a BUILD_QUERIES
# set next to the registrations, and `build_query_names()` validates
# every tag against that module's registry at import — a rename or a
# mistag raises instead of silently skewing the headline (round-6
# ADVICE #4). The rule is documented in suite/__init__.
from embeddingsearch_spark.suite import build_query_names, setup_serve_pairs

BUILD_QUERIES = build_query_names()
SETUP_SERVE = setup_serve_pairs()


def round_label(repo_dir: str) -> int:
    """The round this run belongs to: one CORRECTNESS_r<N>.json is
    committed per completed round, so the next round is the largest N
    plus one (a file count would mislabel after a gap or a stray file;
    the BENCH_r*.json glob also matches per-cpu extras like
    BENCH_r12_c8.json)."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p)))
    ]
    return max(rounds, default=0) + 1


def _partitions_for(sf_dir: str, target_mb: int = 64) -> int:
    """Size shuffle partitions from the data, not the core count: one
    partition per ~64 MB of input, clamped to [cpus/4, 4*cpus]. At sf0.1
    (~50 MB total) that floors near 8 — measured 23% faster than the
    32-core default because per-task launch overhead dominates tiny
    shuffles. At 100 TB the same rule sizes UP (the upper clamp is the
    cluster's parallelism budget). Overridable via SPARK_SHUFFLE_PARTITIONS
    (get_spark's env hook takes precedence when set)."""
    if os.environ.get("SPARK_SHUFFLE_PARTITIONS"):
        return None  # let the session builder honor the explicit setting
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    total_b = 0
    for root, _, names in os.walk(sf_dir):
        total_b += sum(
            os.path.getsize(os.path.join(root, n))
            for n in names
            if n.endswith(".parquet")
        )
    want = max(1, total_b // (target_mb * 1024 * 1024))
    return int(min(max(want, cpus // 4), cpus * 4))


def main() -> None:
    import __spark_entry__ as entry_mod
    from embeddingsearch_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(
        "embeddingsearch-bench",
        shuffle_partitions=_partitions_for(sf_dir),
        # The stage progress bar writes \r-frames to the console; round-2's
        # BENCH record was truncated by that interleaving. Kill it at the
        # source for bench runs.
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # The handful of provably-bounded single-partition windows (DSIR
    # survivor rank, UniMax prefix sums, BPE merge rank, funnel lag —
    # all over config/vocab-sized tables, documented at each site) emit
    # a WindowExec warning per execution; a literal partition key can't
    # silence it (the optimizer constant-folds it away), and 200+
    # copies of that known-benign line were burying real signals in the
    # driver's 2000-char tail. Errors still surface.
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the session so the first measured query doesn't pay one-time
    # startup costs that are noise at scale: JVM/parquet reader init,
    # janino codegen of the big dispatch expression trees (flagship at the
    # smallest SF), and Python worker spawn for the Arrow/pandas paths.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    try:
        entry_mod.queries()["search_cascade"](
            spark, "/root/testdata/sf0.001"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    spark.range(2).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Run policy (round-10 judge items #1-#2 — the round-10 driver bench
    # timed out at median-of-3 × 240 gates):
    #   * BUILD rows run ONCE, in full. Their cross-round signal is
    #     lifecycle cost, where a single run is adequate; tripling them
    #     was 2×647 s of pure waste.
    #   * SETUP_SERVE rows run their setup ONCE untimed (the in-query
    #     index rebuild exists only for oracle isolation), then the
    #     serve alone is timed MEDIAN-of-3 — the serve headline now
    #     measures the cost that scales with query volume.
    #   * Remaining serve rows keep MEDIAN-of-3 (round-9 judge item #1:
    #     defensible noise floor; steady-state warm time is what scales
    #     to a real cluster).
    #   * BENCH_BUDGET_SEC (default 2200) is a deadline: once the pace
    #     projection says full run counts would overrun it, remaining
    #     serve rows degrade to 2 then 1 timed runs — a complete record
    #     with a noted noise floor beats an rc=124 timeout with none.
    import gc
    import statistics

    budget = float(os.environ.get("BENCH_BUDGET_SEC", "2200"))
    t_start = time.perf_counter()
    all_queries = entry_mod.queries()

    # BUILD-ROW BUDGET with cross-round rotation (round-11 judge item
    # #7: 764 s of single-run build rows dominated the wall and the
    # registry grows every round). Build rows are one-time lifecycle
    # costs — their cross-round signal survives being sampled — so a
    # round runs builds in a rotated priority order until the
    # estimated budget (BENCH_BUILD_BUDGET_SEC, default 500 s) is
    # spent, and the NEXT round's rotation starts 17 rows later, so
    # every build row is measured within a couple of rounds. The
    # rotation index derives from the committed BENCH_r*.json count
    # (one per round) — stable within a round no matter how many
    # local runs happen. Rows with no prior timing (new gates) sort
    # FIRST so a new build family is always measured the round it
    # ships. Skipped rows are recorded (`build_skipped`) — an explicit
    # sample, never a silent cut. BENCH_BUILD_BUDGET_SEC=0 disables
    # the budget (runs everything, the pre-round-12 behavior).
    import glob

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    build_budget = float(
        os.environ.get("BENCH_BUILD_BUDGET_SEC", "500")
    )
    rotation = len(glob.glob(os.path.join(repo_dir, "BENCH_r*.json")))
    prior_build: dict[str, float] = {}
    try:
        with open(os.path.join(repo_dir, "BENCH_LOCAL.json")) as f:
            prior = json.load(f)
        # estimates only transfer within the same scale factor — an
        # sf0.001 smoke record would undersize every sf0.1 estimate
        # and blow the budget
        if str(prior.get("sf")) == str(sf_val := (
            float(sf) if sf.replace(".", "").isdigit() else sf
        )):
            prior_build = prior.get("build", {})
    except (OSError, ValueError):
        pass
    build_names = sorted(n for n in all_queries if n in BUILD_QUERIES)
    selected_builds = set(build_names)
    build_skipped: list[str] = []
    if build_budget > 0 and build_names:
        start = (rotation * 17) % len(build_names)
        priority = build_names[start:] + build_names[:start]
        # new gates (no prior timing) jump the queue
        priority.sort(key=lambda n: 0 if n not in prior_build else 1)
        known = [v for v in prior_build.values() if v > 0]
        default_est = statistics.median(known) if known else 15.0
        est_spent = 0.0
        selected_builds = set()
        for n in priority:
            est = float(prior_build.get(n, default_est))
            if selected_builds and est_spent + est > build_budget:
                build_skipped.append(n)
                continue
            selected_builds.add(n)
            est_spent += est
        build_skipped.sort()
    n_total = len(all_queries) - len(build_skipped)
    degraded_runs: dict[str, int] = {}

    def _runs_allowed(n_done: int) -> int:
        # below 10 completed queries the elapsed/n_done pace estimate
        # is one-sample noise (the first run degraded search_top5 off
        # the flagship's cost alone); 10 queries cost a few % of the
        # budget and make the projection meaningful
        if budget <= 0 or n_done < 10:
            return 3
        elapsed = time.perf_counter() - t_start
        remaining = budget - elapsed
        projected = elapsed / n_done * (n_total - n_done)
        if projected < remaining * 0.9:
            return 3
        if projected * 2 / 3 < remaining * 0.9:
            return 2
        return 1

    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    setup_secs: dict[str, float] = {}
    n_done = 0
    build_spent = 0.0
    for name, fn in all_queries.items():
        if name in BUILD_QUERIES:
            # runtime backstop on top of the estimate-based selection:
            # if estimates undershot (regenerated testdata, cold
            # cache), stop starting new build rows at 1.5× the budget
            # rather than eating the serve rows' window
            if name not in selected_builds or (
                build_budget > 0 and build_spent > build_budget * 1.5
            ):
                if name in selected_builds:
                    build_skipped.append(name)
                    n_total -= 1
                continue
            t = _timed(fn)
            build_spent += t
            timings[name] = round(t, 3)
            n_done += 1
        else:
            n_runs = _runs_allowed(n_done)
            if n_runs < 3:
                degraded_runs[name] = n_runs
            n_done += 1
            if name in SETUP_SERVE:
                setup_fn, serve_fn = SETUP_SERVE[name]
                t0 = time.perf_counter()
                setup_fn(spark, sf_dir)
                setup_secs[name] = round(time.perf_counter() - t0, 3)
                runs = [_timed(serve_fn) for _ in range(n_runs)]
            else:
                runs = [_timed(fn) for _ in range(n_runs)]
            timings[name] = round(statistics.median(runs), 3)
        # untimed per-query cleanup: 200+ queries × multiple runs
        # accumulate localCheckpoint blocks and cached plans; dropping
        # the Python refs NOW (gc → ContextCleaner) keeps the session
        # young so late queries aren't taxed by early queries' leftovers
        spark.catalog.clearCache()
        gc.collect()

    serve = {n: t for n, t in timings.items() if n not in BUILD_QUERIES}
    build = {n: t for n, t in timings.items() if n in BUILD_QUERIES}
    total = round(sum(serve.values()), 3)
    build_total = round(sum(build.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": serve,
        "build": build,
        "build_sec": build_total,
        "setup": setup_secs,
        "setup_sec": round(sum(setup_secs.values()), 3),
        # per-row run counts so degraded single-run cache rows can be
        # discounted when comparing rounds (round-11 ADVICE #3); the
        # name list stays for cross-round record compatibility
        "degraded": sorted(degraded_runs),
        "degraded_runs": degraded_runs,
        "build_skipped": build_skipped,
        "build_rotation": rotation,
        "sf": sf_val,
    }
    # Durable full record first: even if console capture mangles stdout,
    # the complete per-query map survives on disk next to this script.
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(out_path, "w") as f:
        f.write(json.dumps(full) + "\n")
    # ALSO keep one immutable record per (round, core-count): the
    # round-12 PERF diff came back empty because the driver's second
    # (low-core) run overwrote BENCH_LOCAL.json before the per-query
    # maps could be compared. BENCH_LOCAL.json stays the "latest" the
    # build-rotation estimator reads; these keyed copies are the
    # cross-run/cross-round archive (additions only — nothing else
    # reads them).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 0))
    this_round = round_label(repo_dir)
    keyed = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_LOCAL_r{this_round}_c{cpus}.json",
    )
    with open(keyed, "w") as f:
        f.write(json.dumps(full) + "\n")
    # The driver keeps only a ~2000-char TAIL of this process's output, so
    # the final line must fit entirely inside that window or its head (with
    # "metric"/"value") is cut and the parse fails (rounds 1-3). Print a
    # compact summary as the sole final stdout line; the per-query map
    # lives in BENCH_LOCAL.json. Include the 10 slowest queries so the
    # record is still diagnostic on its own (~400 chars, safe margin).
    slowest = dict(
        sorted(serve.items(), key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(serve),
        "build_sec": build_total,
        "n_build": len(build),
        "setup_sec": full["setup_sec"],
        "n_setup": len(setup_secs),
        "n_degraded": len(degraded_runs),
        "n_build_skipped": len(build_skipped),
        "slowest": slowest,
        "full_record": "BENCH_LOCAL.json",
    }
    line = json.dumps(summary)
    assert len(line) < 1500, f"summary line too long ({len(line)} chars)"
    # Quiesce ALL Spark output (executor logs, shutdown hooks print on
    # stop) before the JSON so it is the sole final stdout line.
    spark.stop()
    sys.stderr.flush()
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
