"""The timed lap: one Spark session, one workload, many reps.

Started by ``run.py`` as a child process with the environment it sets
(cores, heap, scratch directories), and given a spec file written there.
Each rep resets the target and metadata store, calls one uploader entry
point inside the timed region, then checks the published tables and the
recorded ``upload_stats`` outside it. Writes the result as JSON to the path
named in the spec.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
from linz_bde_uploader_spark import get_spark  # noqa: E402
from linz_bde_uploader_spark.meta.store import MetaStore  # noqa: E402
from linz_bde_uploader_spark.plans.uploader import BdeUploader, parse_tables_conf  # noqa: E402

#: reps run before timing starts, and the measured convergence behind each
#: choice: median wall of each rep over 20 runs, 3 Spark cores on a 4-core VM.
#: The timed reps still fall 5-10% from first to third; one more warm-up rep
#: per run does not fit 70 runs in the time budget (see README.md).
WARMUP = {"level0_snapshot": 1, "level5_changes": 1, "full_incremental": 1}
WARMUP_EVIDENCE = {
    "level0_snapshot": "walls 12.0 5.6 5.4 5.0 s: the cold rep is 2x a warm one",
    "level5_changes": "walls 6.9 6.2 5.9 5.8 s after the set-up's level-5 apply",
    "full_incremental": "walls 8.5 5.7 5.2 4.9 s after the set-up's level-0 load",
}
#: timed reps a run makes at least, however long they take
MIN_TIMED = 3


class Lap:
    def __init__(self, spec: dict):
        self.spec = spec
        self.work = spec["work"]
        self.state = os.path.join(self.work, "state")
        self.pristine = os.path.join(self.work, "pristine")
        self.targets = os.path.join(self.state, "targets")
        self.meta_root = os.path.join(self.state, "meta")
        self.defs = parse_tables_conf(gen.tables_conf(list(spec["expected"])))

    def uploader(self, spark) -> BdeUploader:
        return BdeUploader(spark, self.spec["repo"], self.targets,
                           MetaStore(self.meta_root), self.defs)

    def call(self, up: BdeUploader):
        w = self.spec["workload"]
        if w == "level5_changes":
            return up.run_level5()
        return up.run_level0(full_incremental=(w == "full_incremental"))

    def seed(self, spark) -> None:
        """Load the pristine target and metadata store through the uploader,
        then keep them to reset every rep from."""
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.rmtree(self.pristine, ignore_errors=True)
        before = self.spec["seed_before"]
        if before is not None:
            up = self.uploader(spark)
            up.run_level0(before=before)
            if self.spec["workload"] == "level5_changes":
                up.run_level5(before=before)
        os.makedirs(self.state, exist_ok=True)
        shutil.copytree(self.state, self.pristine)

    def reset(self) -> None:
        # Hard links: the uploader never writes a file in place (versions
        # are new directories, pointers and metadata are os.replace'd).
        shutil.rmtree(self.state)
        shutil.copytree(self.pristine, self.state, copy_function=os.link)

    def check(self) -> list[str]:
        stats = {tuple(k.split("/")): tuple(v) for k, v in self.spec["stats"].items()}
        return (check.check_tables(self.targets, self.spec["expected"])
                + check.check_stats(self.meta_root, stats))


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    lap = Lap(spec)
    tracer = None

    t = time.perf_counter()
    spark = get_spark(app_name="lapbench")
    session_s = time.perf_counter() - t
    probe = procstat.Probe(spark)

    t = time.perf_counter()
    lap.seed(spark)
    seed_s = time.perf_counter() - t

    if spec["trace"]:
        import tracing

        tracer = tracing.Tracer(spark)

    warmup = WARMUP[spec["workload"]]
    reps = []
    window_end = time.perf_counter() + spec["seconds"]
    while True:
        i = len(reps)
        traced = tracer is not None and i >= warmup and (i - warmup) % 2 == 1
        t = time.perf_counter()
        lap.reset()
        reset_s = time.perf_counter() - t
        before = procstat.files(lap.state)
        up = lap.uploader(spark)
        # every rep starts from a collected heap, so its memory peak
        # does not depend on what earlier reps left for the collector
        probe.collect()
        probe.reset_pool_peaks()
        if traced:
            tracer.begin(i)
        snap = probe.snapshot()
        t = time.perf_counter()
        lap.call(up)
        wall = time.perf_counter() - t
        delta = probe.since(snap)
        delta.update(probe.pool_peaks_mb())
        if traced:
            tracer.end()
        t = time.perf_counter()
        problems = lap.check()
        check_s = time.perf_counter() - t
        reps.append({
            "rep": i, "warmup": i < warmup, "traced": traced, "wall_s": wall,
            "reset_s": reset_s, "check_s": check_s, **delta,
            "written_b": procstat.written_bytes(before, procstat.files(lap.state)),
            "problems": problems,
        })
        print(f"lapbench rep {i} wall={wall:.3f}s cpu={delta['cpu_s']:.2f}s "
              f"steal={delta['steal_jiffies']} ok={not problems}", file=sys.stderr)
        timed = [r for r in reps if not r["warmup"]]
        if len(timed) >= MIN_TIMED and time.perf_counter() >= window_end:
            break

    vmhwm_jvm_mb = procstat.vm_hwm_mb(probe.jvm)
    vmhwm_py_mb = procstat.vm_hwm_mb(os.getpid())
    spark.stop()
    probe.stop_jvm()

    untraced = [r for r in reps if not r["warmup"] and not r["traced"]]
    result = {
        "session_s": session_s,
        "seed_s": seed_s,
        "reset_s": statistics.median(r["reset_s"] for r in reps),
        "run_s": statistics.median(r["wall_s"] for r in untraced),
        "write_amp": statistics.median(r["written_b"] for r in untraced) / spec["crs_bytes"],
        "peak_mem_mb": statistics.median(r["heap_peak_mb"] + r["nonheap_peak_mb"]
                                         for r in untraced) + vmhwm_py_mb,
        "vmhwm_jvm_mb": vmhwm_jvm_mb,
        "vmhwm_py_mb": vmhwm_py_mb,
        "warmup": warmup,
        "warmup_evidence": WARMUP_EVIDENCE[spec["workload"]],
        "reps": reps,
    }
    if tracer is not None:
        result["layers"], result["selfcheck"] = tracer.finish(spec, reps)
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1])
