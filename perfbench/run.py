"""Benchmark runner for the catme_etl_j_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload convert_bigsheet --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: every operation waits for the one
before it. The Spark session is ``local[N]`` with N the usable cores.
After set-up and one untimed, output-checked warm-up pass, timed passes
repeat until ``--seconds`` have been measured; each pass's outputs are
checked after its clock stops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics. The last
line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. A fuller record
(sample counts, percentiles, cores, free disk, spans and per-layer self
times when tracing) is written to ``.perfbench_out/``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = os.path.join(HERE, "tables")
# a run never starts another pass past this many seconds after launch
PASS_DEADLINE_S = 150.0
# A pass during which the host took more than this share of the guest's
# CPU time (steal, from /proc/stat) measured the neighbours, not the
# program: it is recorded but left out of the medians, and another pass
# runs, up to twice --seconds of passes in all.
MAX_STEAL_SHARE = 0.03


def _prepare_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and let the Python
    workers import the package from any working directory. Must run
    before the JVM starts and before anything asks for a temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT, os.path.join(ROOT, "tools")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # neither the launcher JVM nor the driver JVM writes an hsperfdata
    # file to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait for every
    process the run started (JVM, Python daemon and workers)."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline - 20:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _per_layer(wl, tracer, since: int, res) -> dict[str, float]:
    """Per-layer figures of one traced pass (spans opened at ``since``)."""
    inc = tracer.inclusive
    spans = tracer.spans[since:]

    def total(name: str, key: str = "s") -> float:
        return sum(x[key] for x in inc(name, since))

    cons_s, cons_jobs = total("operators.construct"), total("operators.construct", "jobs")
    exe = inc("operators.exec", since)
    read = inc("reader.read_xlsx", since)
    parse_s = total("xlsx.parse")
    write_s = total("sinks.write_ndjson")
    spool_bytes = sum(x["attrs"].get("spool_bytes", 0) for x in inc("reader.spool", since))
    input_bytes = getattr(wl, "input_bytes", 0)
    return {
        "operators.construct_s": cons_s,
        "operators.construct_jobs": cons_jobs,
        "operators.construct_s_per_job": cons_s / cons_jobs if cons_jobs else 0.0,
        "operators.checkpoints": sum(sp.name == "operators.checkpoint" for sp in spans),
        "sources.schema_jobs": total("sources.read", "jobs"),
        "sources.read_calls": sum(sp.name == "sources.read" for sp in spans),
        "operators.exec_s": sum(x["s"] for x in exe),
        "operators.exec_jobs": sum(x["jobs"] for x in exe),
        "operators.exec_stages": sum(x["stages"] for x in exe),
        "operators.shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in exe),
        "operators.spill_bytes": sum(x["spill_bytes"] for x in exe),
        "operators.python_eval_s": sum(x["python_s"] for x in exe),
        "operators.stage_task_skew": max((x["skew"] for x in exe), default=0.0),
        "reader.read_s": sum(x["s"] for x in read),
        "reader.spool_s": total("reader.spool"),
        "reader.spool_bytes_per_input_byte": spool_bytes / input_bytes if input_bytes else 0.0,
        "reader.slices": sum(x["attrs"].get("slices", 0) for x in read),
        "reader.jobs": sum(x["jobs"] for x in read),
        "xlsx.parse_s": parse_s,
        "xlsx.parse_task_skew": max((x["skew"] for x in inc("xlsx.parse", since)), default=0.0),
        "sinks.write_s": write_s,
        "sinks.overhead_s": write_s - parse_s if write_s else 0.0,
        "sinks.shuffle_write_bytes": total("sinks.write_ndjson", "shuffle_write_bytes"),
        "sinks.output_bytes": res.output_bytes,
        "spark.jobs": sum(sp.jobs for sp in spans),
        "spark.stages": sum(sp.stages for sp in spans),
        "spark.tasks": sum(sp.tasks for sp in spans),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    launched = time.perf_counter()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    try:
        if not os.path.isdir(os.path.join(ROOT, "catme_etl_j_spark")):
            raise ImportError(f"package catme_etl_j_spark not found under {ROOT}")
        _prepare_env(work)
        from catme_etl_j_spark.session import get_spark

        import workloads
        from spans import RssSampler, Tracer, summary
    except ImportError as e:
        print(f"perfbench: cannot load the engine: {e}", file=sys.stderr)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    disk_free_before = shutil.disk_usage(ROOT).free
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    launch_s = t0 - launched
    spark = get_spark("perfbench", cpus=str(cpus))
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, TABLES)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0

        attempted = failed = 0
        errors: list[str] = []

        def tally(res) -> None:
            nonlocal attempted, failed
            attempted += res.attempted
            failed += res.failed
            errors.extend(res.errors)

        t0 = time.perf_counter()
        tally(wl.warmup())
        phases = {"launch_to_session": launch_s, "session": session_s,
                  "setup": setup_s - session_s, "warmup": time.perf_counter() - t0}
        t0 = time.perf_counter()

        rss = RssSampler()
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        plain: list = []
        traced: list = []
        layers: list[dict[str, float]] = []
        measured = clean_s = 0.0
        while True:
            use_trace = tracer is not None and len(traced) < len(plain)
            since = len(tracer.spans) if tracer else 0
            cpu = _cpu_jiffies()
            rss.begin()
            res = wl.timed_pass(tracer if use_trace else None)
            driver_mb, worker_mb = rss.end()
            res.steal = _steal_share(cpu, _cpu_jiffies())
            tally(res)
            res.driver_mb, res.worker_mb = driver_mb, worker_mb
            (traced if use_trace else plain).append(res)
            if use_trace:
                layers.append(_per_layer(wl, tracer, since, res))
            measured += res.run_s
            if not use_trace and res.steal <= MAX_STEAL_SHARE:
                clean_s += res.run_s
            elapsed = time.perf_counter() - launched
            enough = (
                clean_s >= args.seconds
                or measured >= 2 * args.seconds
                or elapsed + 2 * res.run_s > PASS_DEADLINE_S
            )
            if enough and (tracer is None or traced):
                break

        phases["passes"] = time.perf_counter() - t0
        kept = [r for r in plain if r.steal <= MAX_STEAL_SHARE] or plain

        def med(values):
            return summary(values)["median"]

        e2e = {
            "setup_s": ([setup_s], "s"),
            "run_s": ([r.run_s for r in kept], "s"),
            "rows_per_s": ([r.rows / r.run_s for r in kept if r.run_s], "rows/s"),
            "worker_peak_rss_mb": ([r.worker_mb for r in kept], "MB"),
            "driver_peak_rss_mb": ([r.driver_mb for r in kept], "MB"),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "session_start_s": session_s,
            "phases_s": phases,
            "failed_ops_ratio": failed / attempted if attempted else 1.0,
            "pass_run_s": {"plain": [r.run_s for r in plain], "traced": [r.run_s for r in traced]},
            "pass_steal_share": {"plain": [r.steal for r in plain], "traced": [r.steal for r in traced]},
            "plain_passes_kept": len(kept),
            "errors": errors[:20],
            "end_to_end": {k: {**summary(v), "unit": u} for k, (v, u) in e2e.items()},
        }
        if tracer is None:
            metrics = {k: {"value": med(v), "unit": u} for k, (v, u) in e2e.items()}
        else:
            per = {k: med([d[k] for d in layers]) for k in layers[0]}
            per.update(wl.setup_layers)
            per["reader.spool_leak_bytes"] = workloads.spool_leak_bytes()
            per["session.start_s"] = session_s
            per["trace.overhead_s"] = med([r.run_s for r in traced]) - med(
                [r.run_s for r in kept]
            )
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = json.load(f)["per_layer"]
            metrics = {
                m["name"]: {"value": float(per.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in units
            }
            record.update(
                per_layer=per,
                not_measured=[k for k in workloads.SETUP_LAYERS if k not in wl.setup_layers],
                layer_self_s=tracer.layer_self_times(),
                spans=[sp.record(s) for sp, s in zip(
                    tracer.spans, tracer.self_times().values())],
            )
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    record["phases_s"]["stop"] = time.perf_counter() - t0
    record["disk_free_bytes"] = {"before": disk_free_before, "after": shutil.disk_usage(ROOT).free}
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, v in record["end_to_end"].items():
        tail = f", p{v['percentile']:g}={v['at_percentile']:.4f}" if v["percentile"] else ""
        print(f"perfbench {args.workload}: {k} = {v['median']:.4f} {v['unit']} "
              f"(median of n={v['n']}, max={v['max']:.4f}{tail})", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
