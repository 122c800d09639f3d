"""Self-test of the lap's output check: a correct apply passes, and one
corrupted cell or one corrupted counter is flagged.

    python3 -m pytest lapbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402

#: small enough for a quick test, large enough that every action occurs
SCALE = 0.002


def test_generator_is_deterministic(tmp_path):
    a = gen.level5_changes(str(tmp_path / "a"), 7, SCALE)
    b = gen.level5_changes(str(tmp_path / "b"), 7, SCALE)
    c = gen.level5_changes(str(tmp_path / "c"), 8, SCALE)
    read = [[open(p, "rb").read() for p in lap.rep_files] for lap in (a, b, c)]
    assert read[0] == read[1]
    assert read[0] != read[2]
    assert a.stats == b.stats
    assert all(min(v) > 0 for k, v in a.stats.items())  # I, U, 0 and D all occur


@pytest.fixture(scope="module")
def finished(tmp_path_factory):
    """A level-5 lap at a small scale, set up and applied once."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from linz_bde_uploader_spark import get_spark

    import lap as lap_mod

    work = str(tmp_path_factory.mktemp("lap"))
    spec, _ = run.spec_for("level5_changes", 3, work, SCALE)
    spark = get_spark(app_name="lapbench-selftest")
    probe = procstat.Probe(spark)
    lap = lap_mod.Lap(spec)
    lap.seed(spark)
    lap.reset()
    lap.call(lap.uploader(spark))
    yield lap
    spark.stop()
    probe.stop_jvm()


def test_correct_apply_passes(finished):
    assert finished.check() == []


def test_corrupted_cell_is_flagged(finished):
    finished.reset()  # fresh links: the rewrite below must not touch pristine
    from linz_bde_uploader_spark import get_spark

    finished.call(finished.uploader(get_spark()))
    import check

    version = check.published(finished.targets)["customer"]
    table = pq.read_table(version)
    bal = table.column("c_acctbal").to_pylist()
    bal[0] += 0.01
    table = table.set_column(table.schema.get_field_index("c_acctbal"), "c_acctbal",
                             [bal])
    for name in os.listdir(version):
        os.remove(os.path.join(version, name))
    pq.write_table(table, os.path.join(version, "part-0.parquet"))
    problems = finished.check()
    assert len(problems) == 1 and problems[0].startswith("customer: digest")


def test_corrupted_counter_is_flagged(finished):
    finished.reset()
    from linz_bde_uploader_spark import get_spark

    finished.call(finished.uploader(get_spark()))
    path = os.path.join(finished.meta_root, "upload_stats.parquet")
    table = pq.read_table(path)
    rows = table.to_pylist()
    rows[-1]["nupdate"] += 1
    os.remove(path)
    pq.write_table(type(table).from_pylist(rows, schema=table.schema), path)
    problems = finished.check()
    assert len(problems) == 1 and problems[0].startswith("upload_stats")
