"""Uploader lap benchmark: one workload, one seed, one result line.

    python3 lapbench/run.py --workload level5_changes --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates a seeded BDE repository, runs the
timed lap (``lap.py``) in a child process with pinned cores and heap, checks
every rep's output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` the per-layer metrics (see BENCHMARK.json).
The line before it, prefixed ``lapbench-info``, holds the noise evidence:
every rep's wall, CPU and steal, the cold first rep, ``gen_s`` and the
input size.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: fraction of TPC-H scale factor 1 each workload is generated at
SCALE = {"level0_snapshot": 0.01, "level5_changes": 0.05, "full_incremental": 0.01}
#: JVM heap limit (-Xmx), the same for every run
HEAP = "1g"
#: driver JVM options. JIT thresholds scaled down, so a fresh JVM reaches a
#: steady wall per rep after one rep (with the default thresholds CPU per rep
#: was still falling at rep 5). A fixed young generation and 4 MB G1 regions,
#: so that the heap peak of a rep does not follow G1's adaptive eden sizing
#: or Spark's 1-4 MB memory pages landing in the old generation as humongous
#: objects: the memory-pool peaks of a level5_changes rep spread over
#: 752-1195 MB with G1's defaults, 778-917 MB with these.
JVM_OPTS = "-Xmn256m -XX:G1HeapRegionSize=4m -XX:CompileThresholdScaling=0.1"
#: environment variable that marks every process a run starts
MARK = "LAPBENCH_RUN"
#: a run that has not finished by then is killed and fails
RUN_TIMEOUT_S = 170
#: Spark cores: one fewer than the CPUs this process may run on
CORES = max(1, len(os.sched_getaffinity(0)) - 1)


def _environ(pid: str) -> bytes:
    try:
        with open(f"/proc/{pid}/environ", "rb") as fh:
            return fh.read()
    except OSError:  # gone, or a kernel thread
        return b""


def marked(token: str = "") -> list[int]:
    """Live processes carrying ``MARK`` (for ``token``, or any run's)."""
    needle = f"{MARK}={token}".encode()
    me = os.getpid()
    return [int(p) for p in os.listdir("/proc")
            if p.isdigit() and int(p) != me and needle in _environ(p)]


def reap(token: str, grace_s: float = 10.0) -> None:
    """Stop every process of this run and wait until each has ended."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # collect orphans re-parented to this subreaper
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = marked(token)
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _subreaper() -> None:
    """Become the parent of orphaned descendants so they can be waited for."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def spec_for(workload: str, seed: int, work: str,
             scale: float | None = None) -> tuple[dict, float]:
    """Generate the workload's repository under ``work``; return the lap's
    spec (inputs and expected outputs) and the generation time."""
    t = time.perf_counter()
    scale = SCALE[workload] if scale is None else scale
    lap = gen.WORKLOADS[workload](os.path.join(work, "gen"), seed, scale)
    expected = {}
    import check  # needs the library; imported after the repository check

    for table, rows in lap.expected.items():
        expected[table] = {"columns": rows.column_names, "digest": check.table_digest(rows)}
    gen_s = time.perf_counter() - t
    spec = {
        "workload": workload, "repo": lap.repo, "work": work,
        "expected": expected,
        "stats": {f"{t}/{d}": list(v) for (t, d), v in lap.stats.items()},
        "crs_bytes": lap.crs_bytes, "crs_rows": lap.crs_rows,
        "crs_files": lap.rep_files,
        "seed_before": lap.seed_before,
    }
    return spec, gen_s


def child_env(work: str, token: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{logs}",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", "spark.eventLog.compress=false"]
    else:
        submit += ["--conf", "spark.eventLog.enabled=false"]
    env.update({
        MARK: token,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"{JVM_OPTS} -Djava.io.tmpdir={tmp} "
                                        f"-Dderby.system.home={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def metrics_e2e(res: dict) -> dict:
    setup = res["session_s"] + res["seed_s"] + res["reset_s"]
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "run_s": {"value": res["run_s"], "unit": "s"},
        "write_amp": {"value": res["write_amp"], "unit": "B/B"},
        "peak_mem_mb": {"value": res["peak_mem_mb"], "unit": "MB"},
    }


def info_line(res: dict, spec: dict, gen_s: float, args) -> dict:
    reps = res["reps"]
    return {
        "workload": args.workload, "seed": args.seed, "scale": SCALE[args.workload], "heap": HEAP,
        "cores": CORES,
        "gen_s": round(gen_s, 3), "session_s": round(res["session_s"], 3),
        "seed_s": round(res["seed_s"], 3), "reset_s": round(res["reset_s"], 4),
        "crs_rows": spec["crs_rows"], "crs_bytes": spec["crs_bytes"],
        "cold_wall_s": round(reps[0]["wall_s"], 3),
        "vmhwm_jvm_mb": round(res["vmhwm_jvm_mb"], 1),
        "vmhwm_py_mb": round(res["vmhwm_py_mb"], 1),
        "warmup": res["warmup"],
        "warmup_evidence": res["warmup_evidence"],
        # CPU of the last warm-up rep over the median timed rep: near 1 when
        # the warm-up was long enough in this run
        "warmup_cpu_ratio": round(
            reps[res["warmup"] - 1]["cpu_s"]
            / statistics.median(r["cpu_s"] for r in reps if not r["warmup"]), 3),
        "reps": [{k: (round(v, 3) if isinstance(v, float) else v)
                  for k, v in r.items() if k != "problems"} for r in reps],
        "problems": [p for r in reps for p in r["problems"]][:10],
        "selfcheck": res.get("selfcheck"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "linz_bde_uploader_spark")):
        print(f"lapbench: no linz_bde_uploader_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    leftover = marked()
    if leftover:
        print(f"lapbench: processes of an earlier run still alive: {leftover}",
              file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".lapbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, gen_s = spec_for(args.workload, args.seed, work)
    spec.update({"seconds": args.seconds, "trace": bool(args.trace),
                 "out": os.path.join(work, "result.json"),
                 "spans": f"{work}.spans.json"})
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)

    token = uuid.uuid4().hex
    _subreaper()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "lap.py"), spec_path],
        cwd=work, env=child_env(work, token, bool(args.trace)),
        stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(RUN_TIMEOUT_S - gen_s)
    except subprocess.TimeoutExpired:
        print("lapbench: lap timed out", file=sys.stderr)
        code = None
    finally:
        reap(token)
        child.wait()
    if code != 0 or not os.path.exists(spec["out"]):
        print(f"lapbench: lap failed (exit {code})", file=sys.stderr)
        return 1
    with open(spec["out"]) as fh:
        res = json.load(fh)

    reps = res["reps"]
    failed = sum(1 for r in reps if r["problems"])
    if args.trace:
        metrics = res["layers"]
    else:
        metrics = metrics_e2e(res)
    print("lapbench-info " + json.dumps(info_line(res, spec, gen_s, args)))
    print(json.dumps({"correct": failed == 0, "attempted": len(reps),
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
