"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_structured --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. It writes the seeded
inputs under ``perfbench/.work/``, starts a session on ``local[<cores>]``
with every engine setting left at ``session.get_spark``'s defaults (only the
master and the local dirs are set), runs one untimed warm-up cycle, then
timed cycles in a closed loop for ``--seconds`` (at least the workload's
minimum number of cycles), checks the outputs, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics read from Spark's status stores. The line before it is a fuller
record (inputs, host evidence, per-workload named metrics). Exits non-zero
when an output check fails or the program cannot be found.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PROGRAM = ("text_extraction_system_spark/session.py", "__spark_entry__.py", "bench.py",
           "tools/check_oracle.py")

E2E = (("setup_s", "s"), ("docs_per_s", "docs/s"), ("cycle_s", "s"))


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.workloads import SUITE

    names = [
        ("python.run_s", "s"), ("python.init_s", "s"),
        ("python.bytes_in", "B"), ("python.bytes_out", "B"),
        ("scan.s", "s"), ("scan.bytes", "B"), ("scan.partitions", "count"),
        ("tasks.busy_frac", "ratio"), ("tasks.skew", "ratio"),
        ("derive_spans.s", "s"), ("restitch.s", "s"), ("layout.s", "s"),
        ("codegen.s", "s"), ("restitch.fanout_shuffle_bytes", "B"),
        ("lineage.actions", "count"), ("lineage.extract_s", "s"),
        ("lineage.write_s", "s"), ("lineage.bookkeeping_s", "s"),
        ("lineage.bytes_written", "B"),
        ("resume.actions", "count"), ("resume.anti_join_s", "s"),
        ("resume.shuffle_bytes", "B"),
        ("shuffle.bytes", "B"), ("shuffle.records", "count"),
        ("shuffle.fetch_wait_s", "s"), ("spill.bytes", "B"),
        ("partitioning.spread_bytes", "B"),
        ("suite.build_s", "s"),
    ]
    names += [(f"query.{q}.s", "s") for q in SUITE]
    names += [("session.start_s", "s"), ("session.peak_rss_mb", "MB"),
              ("trace.gap_s", "s"), ("trace.overhead", "s")]
    return names


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _jvm_rss_mb(gateway) -> float:
    """Peak resident set of the JVM (VmHWM) plus this driver process."""
    peak_kb = 0
    try:
        with open(f"/proc/{gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    peak_kb = int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return (peak_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # deployment only: where Python workers import the program from, and
    # the local dirs for shuffle/spill and temporary files
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        return _run(args, workloads, work, local, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, work, local, tmp) -> int:
    import bench

    wl = workloads.WORKLOADS[args.workload](work)
    t0 = time.perf_counter()
    inputs_desc = wl.prepare(args.seed)
    inputs_s = time.perf_counter() - t0

    from pyspark import SparkContext

    from text_extraction_system_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", extra_conf={
        "spark.local.dir": local,
        # keep the JVM's files in the checkout: temp dir here, no hsperfdata
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    session_s = time.perf_counter() - t0
    try:
        wl.cores = cores
        wl.setup(spark)
        setup_s = time.perf_counter() - T_START - inputs_s

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        cycles, walls, cycle_errors, failed, attempted = [], [], [], 0, 0
        host0 = bench._host_probe()
        deadline = time.perf_counter() + args.seconds
        while len(cycles) < wl.MIN_CYCLES or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            spent0 = tracer.spent_s if tracer else 0.0
            try:
                c = wl.cycle(tracer)
                if tracer:
                    c["layers"]["trace.overhead"] = tracer.spent_s - spent0
                cycles.append(c)
            except Exception as exc:  # counted as attempted and failed
                print(f"perfbench: cycle failed: {exc!r}", file=sys.stderr)
                c = {"wall_s": time.perf_counter() - t0, "calls": 1, "errors": [repr(exc)]}
            walls.append(c["wall_s"])
            cycle_errors += c.get("errors", [])
            attempted += c["calls"]
            if c.get("errors"):
                failed += c["calls"]
        host = bench._host_delta(host0, bench._host_probe())
        t0 = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t0
        if errors:
            failed = attempted  # the same code produced every timed output
        probe = wl.probe(tracer) if tracer else {}
        jvm = spark.sparkContext._jvm
        env = {
            "spark_version": spark.version,
            "nproc": cores,
            "driver_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "peak_rss_mb": _jvm_rss_mb(SparkContext._gateway),
        }
    finally:
        _stop(spark)
        if hasattr(wl, "cleanup"):
            wl.cleanup()

    summ = wl.summary(cycles)
    e2e = {"setup_s": setup_s, "docs_per_s": summ["docs_per_s"], "cycle_s": summ["cycle_s"]}
    named = dict(summ["named"])
    named["setup_s"] = (setup_s, "s")
    named["failed_frac"] = (failed / attempted, "ratio")
    inputs_desc.pop("files", None)
    inputs_desc["giant_share"] = inputs_desc.get("giant_docs", 0) / inputs_desc["docs"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": len(cycles), "inputs": inputs_desc,
        "inputs_s": inputs_s, "session_start_s": session_s, "check_s": check_s, "env": env,
        "host": host, "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "errors": errors[:20] + cycle_errors[:20],
        "cycle_walls_s": walls,
    }
    if "query_samples" in summ:
        record["query_samples"] = summ["query_samples"]
        record["query_s"] = {q: statistics.median(c["queries"][q] for c in cycles)
                             for q in cycles[0]["queries"]}

    if args.trace:
        traced = [c["layers"] for c in cycles if "layers" in c]
        from perfbench.trace import median_dict

        layer = median_dict(traced) if traced else {}
        layer.update(probe)
        layer["scan.partitions"] = float(inputs_desc.get("scan_partitions", 0))
        layer["session.start_s"] = session_s
        layer["session.peak_rss_mb"] = env["peak_rss_mb"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}
    else:
        units = dict(E2E)
        metrics = {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}

    for k, m in record["named_metrics"].items():
        print(f"perfbench {args.workload}: {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    for e in record["errors"]:
        print(f"perfbench {args.workload}: CHECK FAILED {e}", file=sys.stderr)
    correct = not errors and failed == 0
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
