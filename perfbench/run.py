"""Benchmark of the a2b_spark engine.

    python3 perfbench/run.py --workload {migrate,query_mix}
        --seed N --seconds S --trace {0,1} [--sf 0.01]

Run from the root of a checkout. Derives its inputs from the test tables
in ``perfbench/data/`` and ``--seed`` under ``.perfbench_work/``, starts
one ``local[nproc]`` session through ``a2b_spark.get_spark``, warms up,
then runs timed passes in a closed loop until the next pass would end
after ``--seconds`` of timed work (at least two passes), checking every
pass's outputs outside the timed region. Prints one line per metric,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` spends the first half of the time untraced and the second
with span wrappers installed, reports the per-layer metrics and writes
the spans to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
GEN_REPEATS = 3


def session_env(nproc: int) -> dict:
    """Session settings, applied before the JVM starts and printed with
    the result: all cores, a fixed driver heap sized to the machine and
    the inputs (a quarter of memory, at most 1.5 GiB; 256 MiB of it
    young generation), Spark and
    Python scratch space inside the checkout, and the checkout on the
    Python workers' path (pandas-UDF queries import a2b_spark there)."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    tmp = os.path.join(WORK, "tmp")
    heap = f"{min(1536, max(1024, total_mb // 4))}m"
    conf = json.loads(os.environ.get("SPARK_GRAFT_CONF") or "{}")
    # a fixed-size heap with a fixed young generation: without -Xms the
    # JVM's peak RSS follows the collector's resizing decisions and varies
    # by a third between runs; without -Xmn the young generation grows to
    # fill the fixed heap, so peak RSS reads the heap size, not the heap
    # the program uses
    conf["spark.driver.extraJavaOptions"] = (
        f"-Xms{heap} -Xmn256m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    conf["spark.sql.warehouse.dir"] = os.path.join(WORK, "warehouse")
    conf["spark.ui.showConsoleProgress"] = "false"
    return {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CONF": json.dumps(conf),
    }


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait(timeout=30)


def measure(workload, seconds: float, tracer, first: int) -> list:
    """Timed passes until the next one would end after ``seconds`` of
    timed work, and at least two, so a ``migrate`` run always measures a
    pass onto each source version. A pass that raises ends the loop as
    one failed operation; its tables are in an unknown state."""
    outs, spent, i = [], 0.0, first
    while True:
        try:
            out = workload.run_pass(i, tracer)
        except Exception:  # noqa: BLE001 - reported as a failed operation
            if not outs:
                raise
            traceback.print_exc()
            outs[-1].attempted += 1
            outs[-1].failed += 1
            outs[-1].unexpected.append(f"pass {i} raised, see stderr")
            return outs
        outs.append(out)
        spent += out.seconds
        i += 1
        if len(outs) >= 2 and spent + out.seconds > seconds:
            return outs


def median_of(outs: list, key: str) -> float:
    return statistics.median(o.metrics.get(key, 0.0) for o in outs)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["migrate", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.01, choices=(0.001, 0.01),
                   help="scale of the test tables (0.01: 60k lineitems)")
    args = p.parse_args(argv)

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "a2b_spark")) or not os.path.isfile(bench_file):
        print(f"perfbench: no a2b_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(bench_file) as f:
        spec = json.load(f)

    t_begin = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    nproc = len(os.sched_getaffinity(0))
    env = session_env(nproc)
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    sys.path[0] = ROOT  # the checkout, not this script's directory

    from perfbench import gen, probes, spans
    from perfbench.workloads import WORKLOADS, Ctx

    versions = () if args.workload == "query_mix" else ("A", "B")
    gen_s = []
    for k in range(GEN_REPEATS):
        t0 = time.perf_counter()
        inputs = gen.generate(os.path.join(WORK, f"inputs{k}"), args.seed, args.sf, versions)
        gen_s.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(WORK, f"inputs{k - 1}"), ignore_errors=True)

    t0 = time.perf_counter()
    from a2b_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, inputs, WORK, args.seed, max_parallel=min(4, nproc),
                  counters=probes.SparkCounters(spark.sparkContext))
        workload = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        workload.setup()
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(gen_s) + session_s + warmup_s

        if args.trace:
            plain = measure(workload, args.seconds / 2, None, 0)
            tracer = spans.Tracer()
            tracer.install()
            try:
                traced = measure(workload, args.seconds / 2, tracer, len(plain))
            finally:
                tracer.uninstall()
            outs = plain + traced
        else:
            outs = measure(workload, args.seconds, None, 0)
        rss = probes.peak_rss_mb()
    finally:
        stop_session(spark)
    shutil.rmtree(WORK, ignore_errors=True)

    run_s = statistics.median(o.seconds for o in outs)
    if args.trace:
        values = layer_metrics(spec, traced, tracer)
        values["trace.overhead_s"] = statistics.median(o.seconds for o in traced) - statistics.median(
            o.seconds for o in plain
        )
        os.makedirs(OUT, exist_ok=True)
        span_file = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(span_file)
        print(f"# spans: {span_file} ({len(tracer.spans)} spans)")
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "rows_per_s": median_of(outs, "rows_per_s"),
            "write_amp": median_of(outs, "write_amp"),
            "peak_rss_mb": rss,
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    attempted = sum(o.attempted for o in outs)
    failed = sum(o.failed for o in outs)
    unexpected = [p for o in outs for p in o.unexpected]
    known = [p for o in outs for p in o.known]
    print(f"# workload {args.workload} seed {args.seed} sf {args.sf}: {len(outs)} timed passes, "
          f"run_s median {run_s:.4f} s (min {min(o.seconds for o in outs):.4f}, "
          f"max {max(o.seconds for o in outs):.4f}); wall {time.perf_counter() - t_begin:.1f} s")
    print(f"# setup: inputs {statistics.median(gen_s):.3f} s (median of {GEN_REPEATS}), "
          f"session {session_s:.3f} s, warm-up {warmup_s:.3f} s")
    print("# session: " + " ".join(f"{k}={env[k]}" for k in sorted(env) if k != "TMPDIR"))
    print(f"# error_rate {failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
    if known:
        print(f"# KNOWN DEFECT (incremental + prune never re-inserts a pruned row that returns): "
              f"{len(known)} reports, e.g. {known[0]}")
    for prob in unexpected[:20]:
        print(f"# FAILED {prob}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": not unexpected,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(spec, traced: list, tracer) -> dict:
    """Medians over the traced passes of the per-pass layer figures, plus
    per-call storage times over the whole traced phase."""
    from perfbench import spans
    from perfbench.dag import DIMENSIONS

    by_pass: dict = {}
    for s in tracer.spans:
        by_pass.setdefault(s["pass"], []).append(s)
    span_figs = [spans.pass_layer_metrics(by_pass.get(o_i, []), DIMENSIONS)
                 for o_i in sorted(k for k in by_pass if k is not None)]
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if any(name in f for f in span_figs):
            out[name] = statistics.median(f.get(name, 0.0) for f in span_figs)
        elif any(name in o.metrics for o in traced):
            out[name] = median_of(traced, name)
    for op in ("merge", "overwrite", "delete_keys"):
        out[f"storage.{op}_s"] = spans.per_call(tracer.spans, f"storage.{op}")
    return out


if __name__ == "__main__":
    sys.exit(main())
