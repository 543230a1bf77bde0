"""Benchmark entry point for the activity-analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client, a closed
loop on ``local[<cores>]``: set up (several times; the median is
``setup_s``), then run units of the workload back to back for
``--seconds``, then check the outputs. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. The full
record of a run (settings, input statistics, every metric, the spans)
is written under ``.perfbench_cache/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: set-up repetitions per run (the first one also starts the JVM)
SETUPS = 2
#: result reads after each unit, each timed on its own
READS = 3


def pin_env() -> dict:
    """Pin the run settings in the environment before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    inherited_aqe = os.environ.pop("SPARK_GRAFT_AQE_PARALLELISM_FIRST", None)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # well under physical RAM: get_spark's default heap is 24g
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM started (spark-submit's launcher too) keeps its temp
        # files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(pinned)
    return {
        **pinned,
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST": inherited_aqe,
        "aqe_parallelism_first_effective": "false (session default; variable left unset)",
        "ram_gb": round(ram_gb, 1),
        "python": sys.version.split()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway started; wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(wl, spark, tr, counters, unit_id, unit_s, cpu) -> dict[str, float]:
    """Per-layer numbers for one traced unit."""
    g = counters.group(f"u{unit_id}.")
    m: dict[str, float] = {
        f"spark.{k}": v for k, v in g.items() if not k.startswith("_") and k != "stage_wall_s"
    }
    m["spark.slot_util"] = g["executor_run_s"] / (unit_s * counters.cores)
    m["spark.stage_wall_share"] = g["stage_wall_s"] / unit_s
    for cls in ("driver", "jvm", "pyworker"):
        m[f"proc.{cls}_cpu_s"] = cpu[cls]
    # self time of every span on the unit's path; the root spans' own
    # self time is what no layer span accounts for
    for name, s in tr.self_times(unit_id).items():
        m[f"{name}_s"] = s
    m["trace.unaccounted_s"] = m.pop("unit_s")
    m["trace.read_unaccounted_s"] = m.pop("read_s")
    m.update(wl.layers(spark, tr, counters, unit_id))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # pin str hashing (set/dict order) for the driver, as Spark
        # already does for its Python workers; needs a fresh interpreter
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    settings = pin_env()
    sys.path.insert(0, ROOT)
    import workloads  # needs the package under test next to this directory
    from probe import ProcTree, RssSampler, SparkCounters, Tracer, median, steal_s
    from strava_etl_public_spark.session import get_spark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    kinds = {w.name: w for w in (workloads.Ingest, workloads.Curation)}
    if args.workload not in kinds:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(kinds)}")
    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    wl = kinds[args.workload](CACHE, work, args.seed)
    t0 = time.perf_counter()
    stats = wl.prepare()  # input generation: untimed
    prepare_s = time.perf_counter() - t0
    print(f"inputs seed={args.seed}: {json.dumps(stats)}", file=sys.stderr)

    tree = ProcTree()
    tr = Tracer(enabled=False)
    setup_s, get_spark_s = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            get_spark_s.append(time.perf_counter() - t0)
            tr.sc, tr.unit_id = spark.sparkContext, 0
            wl.setup(spark, tr)
            setup_s.append(time.perf_counter() - t0)
        counters = SparkCounters(spark)

        unit_s: dict[bool, list[float]] = {False: [], True: []}
        read_s, cpu_s, layers = [], [], []
        attempted = failed = 0
        steal0, loop0 = steal_s(), time.perf_counter()
        with RssSampler(tree) as rss:
            t_end = time.perf_counter() + args.seconds
            i = 0
            # closed loop; a traced run needs one untraced and one traced unit
            while time.perf_counter() < t_end or (args.trace and i < 2):
                i += 1
                traced = bool(args.trace) and i % 2 == 0
                tr.enabled, tr.unit_id = traced, i
                wl.next_input()
                c0 = tree.sample()
                attempted += 1
                try:
                    with tr.span("unit") as u:
                        (wl.traced_unit if traced else wl.unit)(spark, tr)
                    reads = []
                    for _ in range(READS):
                        with tr.span("read") as r:
                            wl.read(spark, tr)
                        reads.append(r.seconds)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    continue
                c1 = tree.sample()
                cpu = {k: c1[k] - c0[k] for k in ("driver", "jvm", "pyworker")}
                unit_s[traced].append(u.seconds)
                read_s += reads
                cpu_s.append(sum(cpu.values()))
                if traced:
                    layers.append(layer_metrics(wl, spark, tr, counters, i, u.seconds, cpu))
                wl.after_unit(spark, i)
        steal = {"steal_s": steal_s() - steal0, "loop_s": time.perf_counter() - loop0}
        t0 = time.perf_counter()
        errors, bad_units = wl.check(spark)
        check_s = time.perf_counter() - t0
        failed += len(bad_units)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if attempted == 0:
        print("no unit attempted", file=sys.stderr)
        return 1
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)

    e2e = {
        "setup_s": median(setup_s),
        "unit_p50_s": median(unit_s[False]),
        "read_p50_s": median(read_s),
        "cpu_s_per_unit": median(cpu_s),
        "peak_rss_mb": rss.peak / 2**20,
    }
    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        undeclared = set().union(*layers) - set(names)
        if undeclared:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        per = {n: median([row.get(n, 0.0) for row in layers]) for n in names}
        per["session.get_spark_s"] = median(get_spark_s)
        per["setup.cold_s"] = setup_s[0]
        per["trace.overhead_s"] = median(unit_s[True]) - median(unit_s[False])
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {n: {"value": per[n], "unit": units[n]} for n in names}
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "inputs": stats,
        "prepare_s": prepare_s, "check_s": check_s, **steal,
        "setup_s": setup_s, "get_spark_s": get_spark_s,
        "unit_s_untraced": unit_s[False], "unit_s_traced": unit_s[True],
        "read_s": read_s, "cpu_s": cpu_s, "end_to_end": e2e, "layers": layers,
        "errors": errors, "attempted": attempted, "failed": failed,
        "spans": [vars(s) for s in tr.spans],
    }
    out_dir = os.path.join(CACHE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"settings: {json.dumps(settings)}", file=sys.stderr)
    print(f"timed loop {steal['loop_s']:.1f} s; CPU time stolen by the host "
          f"{steal['steal_s']:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
