"""Closed-loop benchmark of qbeast_spark_spark: one seeded workload per run.

    python3 perfbench/run.py --workload table --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark starts Spark in
``local[N]`` (N = usable cores), builds the workload's state from seeded
inputs, warms up on a separate seed stream, then issues ops one at a
time until ``--seconds`` of op time have passed and the current round
of the op mix is complete, checking every result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with
Spark's event log on: the loop once with the benchmark's spans and job
groups, then the same op sequence again untraced, and prints the
per-layer metrics. The line before the last is a full report:
environment, op mix drawn, per-class figures and any failed checks. The
last line is the result object.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

# end-to-end metrics printed on the last line (and gated by BENCHMARK.json)
GATED = {"setup_s": "s", "ops_per_s": "1/s", "op_geomean_s": "s",
         "driver_rss_mb": "MB"}
E2E_UNITS = dict(GATED, op_p50_s="s", op_p90_s="s", read_p50_s="s",
                 read_p90_s="s", write_p50_s="s", write_p90_s="s",
                 rows_written_per_s="1/s", failed_frac="fraction",
                 stored_bytes_per_row="B", written_bytes_per_row="B")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("table", "pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float):
    """Nearest-rank percentile; None unless ten samples lie beyond it."""
    xs = sorted(xs)
    if not xs or len(xs) * (1 - q) < 10:
        return None
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run_loop(spark, wl, tracer, seconds: float):
    """Issue ops until ``seconds`` of op time have passed and at least
    ``wl.min_rounds`` rounds of the deck are done, then finish the current
    round, so every run holds whole rounds of the op mix. Checks run after
    each op's timer stops."""
    from spans import layer_times
    from workloads import OpRecord

    sc = spark.sparkContext
    wl.start_loop(spark)
    ops, busy, i = [], 0.0, 0
    while busy < seconds or not wl.deck.round_done \
            or len(ops) < wl.min_rounds * len(wl.deck.round):
        spec = wl.next_spec()
        rec = OpRecord(i, spec["cls"], wl.KINDS.get(spec["cls"], wl.KIND))
        if tracer.enabled:
            rec.group = f"perfbench-op-{i}"
            sc.setJobGroup(rec.group, spec["cls"])
        failed = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op") as root:
                result = wl.run(spark, tracer, spec, rec)
        except Exception as exc:            # an op failure is a finding
            failed = f"error: {exc!r}"[:400]
        rec.t = time.perf_counter() - t0
        busy += rec.t
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.layers = layer_times(root)
        if failed is None:
            try:
                wl.check(spec, result, rec)
            except Exception as exc:        # a check that cannot run fails
                failed = f"check error: {exc!r}"[:400]
        if failed is not None:
            rec.ok, rec.detail = False, failed
        ops.append(rec)
        i += 1
    return ops


def end_to_end(ops, setup_s: float, finish: dict) -> dict:
    """Every end-to-end figure for the report; the gated ones are a
    subset (BENCHMARK.json)."""
    from session import driver_rss_mb

    times = [o.t for o in ops]
    reads = [o.read_t if o.read_t is not None else o.t for o in ops
             if o.kind == "read" or o.read_t is not None]
    writes = [o.t for o in ops if o.kind == "write"]
    write_time = sum(writes)
    changed = sum(o.rows_changed for o in ops)
    out = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / sum(times),
        "op_geomean_s": math.exp(statistics.fmean(math.log(t)
                                                     for t in times)),
        "op_p50_s": median(times),
        "op_p90_s": percentile(times, 0.9),
        "read_p50_s": median(reads) if reads else None,
        "read_p90_s": percentile(reads, 0.9),
        "write_p50_s": median(writes) if writes else None,
        "write_p90_s": percentile(writes, 0.9),
        "rows_written_per_s": (sum(o.rows_written for o in ops) / write_time
                               if write_time else None),
        "failed_frac": sum(1 for o in ops if not o.ok) / len(ops),
        "stored_bytes_per_row": finish.get("stored_bytes_per_row"),
        "written_bytes_per_row": (finish["written_bytes"] / changed
                                  if changed and "written_bytes" in finish
                                  else None),
        "driver_rss_mb": driver_rss_mb(),
    }
    return out


def by_class(ops) -> dict:
    classes = {}
    for o in ops:
        classes.setdefault(o.cls, []).append(o)
    return {c: {"n": len(v), "p50_s": median([o.t for o in v]),
                "failed": sum(1 for o in v if not o.ok)}
            for c, v in classes.items()}


def start_session(wl, event_log_dir=None):
    import qbeast_spark_spark as qss
    import session

    spark = session.start(WORK_DIR, event_log_dir)
    if wl.uses_pyds:
        qss.register_data_source(spark)
    return spark


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "qbeast_spark_spark",
                                       "__init__.py")):
        print(f"qbeast_spark_spark not found under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os.makedirs(WORK_DIR)
    import session
    from spans import Tracer
    from workloads import WORKLOADS

    session.child_env(WORK_DIR)
    env = session.environment(WORK_DIR)
    ticks = session.cpu_ticks()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(WORK_DIR, "data"))
    events = os.path.join(WORK_DIR, "events") if args.trace else None
    spark = None
    try:
        phases = {"start": time.perf_counter() - t_start}
        for phase, step in (("prepare", wl.prepare),
                            ("session", lambda: start_session(wl, events)),
                            ("build", lambda: wl.setup(spark)),
                            ("warm", lambda: wl.warm(spark, Tracer(False)))):
            t0 = time.perf_counter()
            spark = step() or spark
            phases[phase] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        if args.trace:
            # traced first, so its ops run as fresh as an untraced run's;
            # the untraced replay that follows is the overhead reference
            traced = run_loop(spark, wl, Tracer(True), args.seconds)
        ops = run_loop(spark, wl, Tracer(False), args.seconds)
        finish = wl.finish(spark)
        e2e = end_to_end(ops, setup_s, finish)
        report = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "env": env,
                  "op_mix": {c: n / len(ops)
                             for c, n in sorted(wl.drawn.items())},
                  "setup_phases_s": phases, "end_to_end": e2e,
                  "classes": by_class(ops),
                  "ops": [[o.cls, round(o.t, 4)] for o in ops]}
        all_ops = list(ops)
        if args.trace:
            import layers

            proc = session.process_rss_mb()
            spark.stop()
            log = [os.path.join(events, f) for f in os.listdir(events)]
            metrics, per_class = layers.per_layer(
                traced, layers.parse_events(log), ops, len(wl.deck.round),
                proc)
            report["layers_by_class"] = per_class
            report["traced_ops"] = len(traced)
            all_ops += traced
        env["loadavg_end"] = os.getloadavg()
        env.update({f"machine_{k}": v - ticks[k]
                    for k, v in session.cpu_ticks().items()})
    finally:
        if spark is not None:
            session.shutdown(spark)
        shutil.rmtree(WORK_DIR, ignore_errors=True)
    if args.trace:
        units = layers.UNITS
        out_metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in GATED.items()}
    failures = [f"{o.cls}#{o.i}: {o.detail}" for o in all_ops if not o.ok]
    final_ok = finish.get("final_ok", True)
    if not final_ok:
        failures.append(f"final: {finish.get('final_detail')}")
    report["failures"] = failures[:20]
    report["units"] = dict(E2E_UNITS)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not failures, "attempted": len(all_ops),
                      "failed": sum(1 for o in all_ops if not o.ok),
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
