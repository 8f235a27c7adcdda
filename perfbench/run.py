#!/usr/bin/env python3
"""prclz_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Runs the workload on local[nproc] from this single driver process, checks
every output, and prints the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in BENCHMARK.json as the last
stdout line, one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def make_session(work: str, cores: int):
    from prclz_spark.session import get_spark

    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=str(cores),
        extra_conf={
            # a fixed 1 GiB heap: peak RSS then does not hinge on when G1
            # decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            # keep every job of a run visible to the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(wl, tracer, spans, res, cores) -> dict:
    """Per-layer figures of one traced iteration."""
    from tracer import WRAPPED

    wrapped = {attr for _, _, attr in WRAPPED}
    # wrapped calls made by the checks (outside any workload span) are not
    # part of the measured work
    inside = [s for s in spans if s.parent is not None or s.name not in wrapped]
    m = wl.layers(tracer, inside, res)
    task_ms = sum(s.task_ms for s in inside)
    # task run times include steal, so they divide by wall time before steal
    raw = sum(op["raw"] for op in res["ops"].values())
    m["spark.core_busy_frac"] = task_ms / 1000.0 / (raw * cores)
    m["spark.jobs"] = sum(s.jobs for s in inside)
    m["spark.tasks"] = sum(s.tasks for s in inside)
    m["spark.failed_tasks"] = sum(s.failed_tasks for s in inside)
    m["spark.gc_frac"] = (sum(s.gc_ms for s in inside) / task_ms) if task_ms else 0.0
    m["spark.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in inside)
    m["spark.spill_bytes"] = sum(s.spill_bytes for s in inside)
    return m


def cover_metrics(spans) -> dict:
    covers = [s for s in spans if s.name == "block_cover_pdf"]
    compacts = [s for s in spans if s.name == "compact_cover_pdf"]
    if not covers:
        return {}
    cover_s = statistics.median(s.wall for s in covers)
    if compacts:
        cover_s += statistics.median(s.wall for s in compacts)
    return {
        "cells.cover_s": cover_s,
        "cells.cover_rows": covers[-1].attrs["rows"],
        "cells.cover_broadcast_rows": (compacts or covers)[-1].attrs["rows"],
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("prclz_spark") is None or not os.path.exists(spec_path):
        print(f"prclz_spark package or BENCHMARK.json not found under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    from proctree import RssSampler, cpu_ticks, stop_spark, unstolen

    ticks_start = cpu_ticks()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # everything this run writes stays inside the checkout
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    # Python workers import prclz_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = make_session(work, cores)
        raw = time.perf_counter() - t_start
        session = (unstolen(raw, ticks_start, cpu_ticks()), raw)
        result = run_workload(spark, args, spec, WORKLOADS[args.workload], work, cores,
                              sampler, session)
    finally:
        sampler.stop()
        if spark is not None:
            t_stop = time.perf_counter()
            stop_spark(spark)
            print(f"# session stop took {time.perf_counter() - t_stop:.3f} s")
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    report, spans = result
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in report["values"]:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": report["values"][m["name"]], "unit": m["unit"]}
    if spans is not None:
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(spans, f)
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
    for line in report["lines"]:
        print(line)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


def run_workload(spark, args, spec, cls, work, cores, sampler, session):
    from tracer import Tracer
    from workloads import Meter, NullTracer

    wl = cls(spark, args.seed, os.path.join(work, "data"))
    tracer = Tracer(spark) if args.trace else None
    null = NullTracer()
    if tracer:
        tracer.install()  # set-up is traced too: it holds the cover builds
    reps = []
    for _ in range(SETUP_REPS):
        with Meter() as m:
            wl.setup()
        reps.append(m.wall)
    setup_s = session[0] + statistics.median(reps)

    # Iterate for --seconds, at least once. A traced run traces every
    # iteration, so its figures compare with an untraced run of the same
    # seed.
    attempted = failed = 0
    check_s = 0.0
    done = []  # (res, layer metrics | None)
    deadline = time.perf_counter() + args.seconds
    while True:
        since = tracer.max_job_id() if tracer else None
        first_span = len(tracer.spans) if tracer else 0
        self_before = tracer.self_s if tracer else 0.0
        attempted += 1
        try:
            res = wl.iterate(tracer or null)
        except Exception:
            traceback.print_exc()
            failed += 1
            break
        layers = None
        if tracer:
            inside = tracer.self_s - self_before
            tracer.resolve(since)
            layers = layer_metrics(wl, tracer, tracer.spans[first_span:], res, cores)
            wall = sum(op["wall"] for op in res["ops"].values())
            layers["trace.bookkeeping_frac"] = inside / wall
            layers["trace.self_s"] = tracer.self_s - self_before
            for op in ("primary", "secondary"):
                o = res["ops"][op]
                layers[f"trace.{op}_items_per_s"] = o["items"] / o["wall"]
                layers[f"proc.{op}_items_per_cpu_s"] = o["items"] / o["cpu"]
        sampler.paused = True
        t_check = time.perf_counter()
        try:
            a, f = wl.check(res)
        except Exception:
            traceback.print_exc()
            a, f = 1, 1
        check_s += time.perf_counter() - t_check
        sampler.paused = False
        attempted += a
        failed += f
        done.append((res, layers))
        if time.perf_counter() >= deadline:
            break
    if not done:
        print("no iteration completed", file=sys.stderr)
        return None

    med = statistics.median

    def per_s(op: str) -> float:
        return med(r["ops"][op]["items"] / r["ops"][op]["wall"] for r, _ in done)

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "primary_items_per_s": per_s("primary"),
            "secondary_items_per_s": per_s("secondary"),
            "peak_rss_mb": sampler.peak_kb / 1024.0,
        }
    else:
        values = {}
    lines = [f"# {args.workload} seed {args.seed}: {len(done)} "
             f"{'traced ' if tracer else ''}iteration(s) on local[{cores}]; set-up {setup_s:.3f} s "
             f"(session {session[0]:.3f} s, {session[1]:.3f} s before steal; "
             f"fixture reps {[round(w, 3) for w in reps]})"]
    for label in done[0][0]["figures"]:
        unit = done[0][0]["figures"][label][1]
        v = med(r["figures"][label][0] for r, _ in done)
        lines.append(f"# {label} = {v:.6g} {unit}")
    for op in ("primary", "secondary"):
        lines.append(f"# {op}: {per_s(op):.6g} items/s, "
                     f"{med(r['ops'][op]['wall'] for r, _ in done):.6g} s "
                     f"({med(r['ops'][op]['raw'] for r, _ in done):.6g} s before steal), "
                     f"{med(r['ops'][op]['cpu'] for r, _ in done):.6g} CPU-s")
    lines.append(f"# peak_rss_mb = {sampler.peak_kb / 1024.0:.6g} MB")
    lines.append(f"# output checks took {check_s:.3f} s")
    lines.append(f"# failed_ops_frac = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    spans_out = None
    if tracer:
        tracer.uninstall()
        per_iter = [lm for _, lm in done]
        for n in set().union(*per_iter):
            values[n] = med(lm.get(n, 0.0) for lm in per_iter)
        values.update(cover_metrics(tracer.spans))
        lines.append(f"# trace.bookkeeping_frac = {values['trace.bookkeeping_frac']:.6f} "
                     "(tracer bookkeeping inside the timed operations / their wall time)")
        spans_out = tracer.dump()
        # layers a workload never touches read 0
        for m in spec["per_layer"]:
            values.setdefault(m["name"], 0.0)
    return {"values": values, "attempted": attempted, "failed": failed, "lines": lines}, spans_out


if __name__ == "__main__":
    sys.exit(main())
