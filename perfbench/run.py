"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Runs one workload at ``local[4]`` in this process: set-up (timed), a
measured window of at least ``--seconds`` seconds, correctness gates outside
the window, then one JSON line on stdout with the verdict and metrics (the
end-to-end metrics with ``--trace 0``, the per-layer ones with ``--trace 1``).
A record line with per-operation detail and host noise precedes it; the same
record is appended to ``.perfbench/runs.jsonl`` in the checkout.  Metric
names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import procstat, tracing  # noqa: E402

CORES = 4
SETUP_REPEATS = 3
# more than half a core kept busy by other processes flags the run as noisy
NOISY_EXTERNAL_CORES = 0.5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="perturb the oracle's input (self-test: the gate must fail)")
    return p.parse_args(argv)


def start_session(work: Path, event_log: Path | None):
    from searchgov_spider_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log is not None:
        conf |= tracing.event_log_conf(str(event_log))
    spark = build_session(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (left := [p for p in procstat.process_tree(os.getpid()) if p != os.getpid()]):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def untraced_wall(state: Path, args) -> float | None:
    """Median untraced ``wall_s`` of this workload from the run log."""
    log = state / "runs.jsonl"
    if not log.exists():
        return None
    walls = []
    for line in log.read_text().splitlines():
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if (rec.get("workload"), rec.get("size"), rec.get("trace"), rec.get("correct")) == (
            args.workload, args.size, 0, True
        ):
            walls.append(rec["end_to_end"]["wall_s"])
    return statistics.median(walls) if walls else None


def ensure_untraced_record(state: Path, args) -> None:
    """A traced run reports overhead against untraced runs; make one first
    (before this run starts Spark) when the log holds none."""
    if untraced_wall(state, args) is not None:
        return
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0", "--size", args.size]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, check=False)


def layer_metrics(w, ops, tracer, stages: dict, size: str, seed: int) -> dict:
    from perfbench import workloads
    from perfbench.probes import kernel_probes

    in_window = [v for k, v in stages.items() if k is not None]
    total = tracing.combine(in_window)
    out = w.per_layer(ops, tracer.sums(), stages)
    out |= {
        "udfs.py_worker_run_s": total["py_worker_run_s"],
        "udfs.py_worker_start_s": total["py_worker_start_s"],
        "udfs.bytes_to_py": total["bytes_to_py"],
        "udfs.bytes_from_py": total["bytes_from_py"],
        "udfs.py_share": total["py_worker_run_s"] / max(total["task_s"], 1e-9),
    }
    out |= {f"spark.{k}": total[k] for k in (
        "task_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "jobs", "stages", "tasks", "task_skew")}
    # task time per enclosing span group
    groups = {
        "engine": ("op.",), "write_frontier": ("storage.write_table.frontier",),
        "write_documents": ("storage.write_table.documents",), "seen_delta": ("storage.write_seen_delta",),
        "bloom_merge": ("bloom.merge",), "seqno": ("seqno.",), "queries": ("query.",),
    }
    for group, prefixes in groups.items():
        out[f"spark.task_s.{group}"] = sum(
            v["task_s"] for k, v in stages.items() if k is not None and k.startswith(prefixes)
        )
    web = workloads.SIZES[size]["crawl_polite"]
    out |= kernel_probes(workloads.reachable_pages(web), web["n_hosts"], web["branch"], seed)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    try:
        spec = json.loads(spec_path.read_text())
        import searchgov_spider_spark  # noqa: F401

        from perfbench import workloads
    except (OSError, ValueError, ImportError) as exc:
        print(f"perfbench: cannot load the program or BENCHMARK.json: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    state = ROOT / ".perfbench"
    run_id = uuid.uuid4().hex[:12]
    work = state / "work" / f"{args.workload}-{run_id}"
    cache = state / "cache"
    if args.trace and not args.corrupt_oracle:
        ensure_untraced_record(state, args)
    # Spark's Python workers import the package from the checkout; all
    # temporary files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    event_log = work / "eventlog" if args.trace else None

    sampler = procstat.HostSampler().start()
    w = workloads.WORKLOADS[args.workload](args.seed, args.size, str(work), str(cache), args.corrupt_oracle)
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session(work, event_log)
        session_s = time.monotonic() - t0
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            w.prepare(spark)
            prep.append(time.monotonic() - t)
        t = time.monotonic()
        w.warm(spark)
        warm_s = time.monotonic() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark, run_id)
            w.tracer = tracer
            w.install_spans(tracer)
        sampler.window_start()
        ops, raised = [], []
        t_win = time.monotonic()
        while time.monotonic() - t_win < args.seconds:
            try:
                with tracer.span(f"op.{args.workload}") if tracer else nullcontext():
                    ops.append(w.op(spark))
            except Exception as exc:  # the operation failed; stop measuring
                traceback.print_exc()
                raised.append(f"{type(exc).__name__}: {exc}")
                break
        noise = sampler.window_stop()
        if tracer:
            tracer.unpatch()
            w.tracer = None

        attempted, failed, problems = len(raised), len(raised), list(raised)
        t = time.monotonic()
        for op in ops:
            n_failed, probs = w.verify(spark, op)
            attempted += w.op_count(op)
            failed += n_failed
            problems += probs
        verify_s = time.monotonic() - t
        e2e = w.end_to_end(ops) if ops else {}
        t = time.monotonic()
        stop_session(spark)
        spark = None
        stop_s = time.monotonic() - t
        e2e |= {"setup_s": setup_s, "peak_rss_mb": sampler.peak_rss / 2**20}
        stages = tracing.reduce_event_log(str(event_log), {s["id"]: s["name"] for s in tracer.spans}) if tracer else {}
        for op in ops:
            w.cleanup(op)
    finally:
        if spark is not None:  # set-up or a gate raised: still stop the JVM
            stop_session(spark)
        sampler.stop()

    if not ops:
        print(f"perfbench: no operation completed: {problems}", file=sys.stderr)
        return 1
    noise["noisy"] = noise["external_busy_cores"] > NOISY_EXTERNAL_CORES
    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "seconds": args.seconds, "correct": failed == 0,
        "attempted": attempted, "failed": failed, "failed_share": failed / max(attempted, 1),
        "problems": problems[:20], "host": noise, "session_s": session_s, "prepare_s": prep,
        "warm_s": warm_s, "verify_s": verify_s, "stop_s": stop_s, "ops": [w.summary(op) for op in ops],
        "end_to_end": e2e,
    }
    if tracer:
        base = untraced_wall(state, args)
        layers = layer_metrics(w, ops, tracer, stages, args.size, args.seed)
        layers["trace.overhead_share"] = (e2e["wall_s"] / base - 1.0) if base else 0.0
        layers["host.external_busy_cores"] = noise["external_busy_cores"]
        record["per_layer"] = layers
        record["stages"] = {str(k): v for k, v in stages.items()}
        tracer.write(str(state / "traces" / f"{args.workload}-{run_id}.spans.jsonl"))
    with open(state / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = record["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"perfbench: {args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench: {args.workload} correct={failed == 0} failed_share={record['failed_share']:.4g} "
          f"({failed}/{attempted}) external_busy_cores={noise['external_busy_cores']}"
          + (" NOISY" if noise["noisy"] else ""), file=sys.stderr)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
