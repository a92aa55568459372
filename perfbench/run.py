"""Benchmark entry point.

    python3 perfbench/run.py --workload {medallion,llm_curation} --seed N \
        --seconds S --trace {0,1} [--spans FILE]
    python3 perfbench/run.py --self-test [--workload W]

Run from the root of a checkout of the engine. One run generates (or reuses)
the seeded inputs, times ``SETUPS`` cold set-ups (each a fresh Python + JVM
process: process start until the session is up and the inputs are
registered), and lets the last of those processes run passes for ``S``
seconds, check its outputs against DuckDB, and report. The last line of
stdout is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics. Everything the run writes goes under
``.perfbench_tmp/run-<pid>`` in the checkout, deleted at the end; inputs are
cached under ``.perfbench_cache``.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("medallion", "llm_curation")
SETUPS = 2  # cold set-ups per run; setup_s is their median
UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "cpu_s": "s"}
# per-layer metrics of the traced run (medians over the warm passes)
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.scan_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "query.udtf_char_chunks_s": "s",
    "query.neardup_embedding_pairs_s": "s",
    "query.kmeans_embeddings_s": "s",
    "operators.py_stages": "count",
    "operators.py_bytes_to_python": "bytes",
    "operators.py_bytes_from_python": "bytes",
    "operators.py_cpu_s": "s",
    "streaming.bronze_s": "s",
    "streaming.silver_s": "s",
    "streaming.gold_s": "s",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_log_s": "s",
    "streaming.outside_batch_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.files_written": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.no_task_s": "s",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.storage_mb": "MB",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworkers_s": "s",
    "cpu.forks_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.pass_s": "s",
}


def task_slots() -> int:
    """Task slots for local mode: one core left for the driver and the
    Python workers, never more than 3 (the setting the figures in the
    README were taken with)."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def worker_env(rundir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    slots = str(task_slots())
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": slots,
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # keep the JVM's own scratch files (native libraries, perf data) in
        # the run directory too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def spawn(args: argparse.Namespace, inputs: str, rundir: str, probe: bool,
          result: str, deadline: float, corrupt: bool = False
          ) -> tuple[float, int, dict | None]:
    """Start one worker; return (seconds until it signalled ready, exit
    code, its result JSON or None). A worker still running at ``deadline``
    (perf_counter seconds) is killed."""
    r, w = os.pipe()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--inputs", inputs, "--rundir", rundir, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--result", result, "--ready-fd", str(w)]
    if probe:
        cmd.append("--probe")
    if corrupt:
        cmd.append("--corrupt")
    if args.spans and not probe:
        cmd += ["--spans", os.path.abspath(args.spans)]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=rundir, env=worker_env(rundir), pass_fds=(w,),
                            stdout=sys.stderr, stderr=sys.stderr)
    os.close(w)
    with os.fdopen(r) as ready:
        up = select.select([ready], [], [], max(0.0, deadline - t0))[0]
        line = ready.readline() if up else ""
    setup = time.perf_counter() - t0
    try:
        code = proc.wait(timeout=max(0.0, deadline - time.perf_counter()))
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    if not line:
        return setup, code or 1, None
    out = None
    if os.path.exists(result):
        with open(result) as f:
            out = json.load(f)
    return setup, code, out


def run(args: argparse.Namespace, corrupt: bool = False) -> dict:
    from gen import inputs_for

    inputs = inputs_for(ROOT, args.workload, args.seed)
    base = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    setups, res = [], None
    deadline = time.perf_counter() + 170  # a run must end within 180 s
    try:
        for i in range(SETUPS):
            rundir = os.path.join(base, str(i))
            os.makedirs(rundir)
            last = i == SETUPS - 1
            setup, code, out = spawn(args, inputs, rundir, not last,
                                     os.path.join(base, f"result{i}.json"), deadline, corrupt)
            if code != 0 or (last and out is None):
                raise SystemExit(f"worker {i} exited with code {code}")
            setups.append(setup)
            res = out
            shutil.rmtree(rundir, ignore_errors=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))
        except OSError:
            pass
    res["setup_s"] = statistics.median(setups)
    res["setups"] = setups
    return res


def report(args: argparse.Namespace, res: dict) -> dict:
    if args.trace:
        # every per-layer metric on every workload; 0 where the layer is
        # not exercised (no streaming in llm_curation, no catalog entries
        # in medallion)
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = dict(res["metrics"], setup_s=res["setup_s"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def self_test(args: argparse.Namespace) -> int:
    """The comparison counts wrong results as failures, and so does a full
    run whose worker falsifies one checked output."""
    from checks import self_test as compare_test

    problems = compare_test()
    args.seconds = 1
    res = run(args, corrupt=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "checks")}),
          file=sys.stderr)
    if res["correct"] or res["failed"] < 1:
        problems.append("falsified output was not counted as failed")
    for p in problems:
        print("SELF-TEST FAILED:", p, file=sys.stderr)
    print(json.dumps({"self_test": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def host_cpu() -> dict[str, float]:
    """Whole-host CPU seconds by state (diagnostic: steal and iowait show
    contention from outside the run)."""
    with open("/proc/stat") as f:
        v = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), v))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="llm_curation")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=None, help="traced run: write the spans here (JSON)")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bridge_monitoring_pyspark_spark", "session.py")):
        print(f"engine package bridge_monitoring_pyspark_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.self_test:
        return self_test(args)
    host0 = host_cpu()
    res = run(args)
    host = {k: round(v - host0[k], 2) for k, v in host_cpu().items()}
    print(json.dumps({k: res[k] for k in ("setups", "passes", "window_s", "check_s", "pass_times", "peak_rss_mb", "checks")}
                     | {"host_cpu_s": host}), file=sys.stderr)
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
