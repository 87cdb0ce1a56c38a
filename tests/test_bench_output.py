"""Pins the bench stdout contract: the driver captures only the last
~2000 characters of stdout and parses the LAST line as JSON. BENCH_r06
and BENCH_r07 both arrived `parsed: None` because the full payload
(per-rep arrays included) overflowed that window and got
front-truncated. The contract is therefore: last stdout line is a
single compact JSON object under 1900 chars carrying the driver-facing
metrics; the complete record goes to $SPARK_GRAFT_BENCH_OUT.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_last_stdout_line_is_compact_json(tmp_path):
    out_file = tmp_path / "bench_full.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
        # a BARE filename (cwd-relative): os.path.dirname("") used to
        # make makedirs raise and the record was silently dropped
        SPARK_GRAFT_BENCH_OUT=out_file.name,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=560,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    last = lines[-1]
    # the driver's tail window is ~2000 chars; stay safely inside it
    assert len(last) < 1900, f"stdout JSON line too long: {len(last)} chars"
    parsed = json.loads(last)
    assert parsed["metric"] == "headline_query_wall_sec"
    assert parsed["unit"] == "sec"
    assert isinstance(parsed["value"], (int, float))
    assert parsed["sf"] == 0.001
    assert "queries" in parsed and parsed["queries"]
    # per-rep arrays are file-only — they are what overflowed the window
    assert "queries_detail" not in parsed

    full = json.loads(out_file.read_text())
    assert "queries_detail" in full
    assert set(parsed["queries"]) <= set(full["queries"])


def test_noop_save_reps_never_reuse_shuffle_stages(spark):
    """Pins the honesty of bench.py's timed-rep protocol: each
    `.write.format("noop").save()` on the same DataFrame builds a fresh
    QueryExecution (fresh RDD lineage), so every rep re-runs the full
    stage set. The broken alternative — repeated `.collect()` on one
    DataFrame — reuses the cached lineage's completed shuffle map
    outputs and re-times only the result stage (observed at sf10:
    0.03 s/rep vs 2+ s honest). If Spark ever starts reusing shuffle
    stages across save() calls, the bench numbers silently stop
    measuring scan/join/shuffle work and this test fails.
    """
    from tailpipe_spark.session import read_table

    sc = spark.sparkContext
    li = read_table(spark, "/root/testdata/sf0.001/lineitem.parquet")
    # one shuffle (groupBy) + one more (join back) => multi-stage plan
    agg = li.groupBy("l_orderkey").count()
    df = li.join(agg, "l_orderkey").groupBy("l_returnflag").count()

    def stage_run_profile(action):
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        action()
        ran, skipped = 0, 0
        for jid in set(tracker.getJobIdsForGroup(None) or []) - before:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is None:
                    continue
                if si.numCompletedTasks == 0 and si.numActiveTasks == 0:
                    skipped += 1
                else:
                    ran += 1
        return ran, skipped

    save = lambda: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    first = stage_run_profile(save)
    second = stage_run_profile(save)
    third = stage_run_profile(save)
    assert first[0] >= 2, f"plan should be multi-stage, got {first}"
    # every save runs the identical stage set: no cross-rep reuse
    assert second == first and third == first, (first, second, third)

    # and the control: collect-on-same-df DOES reuse (this is why the
    # bench never times repeated collects)
    df2 = li.join(agg, "l_orderkey").groupBy("l_returnflag").count()
    c1 = stage_run_profile(lambda: df2.collect())
    c2 = stage_run_profile(lambda: df2.collect())
    assert c2[0] < c1[0], f"expected stage reuse on repeated collect: {c1} -> {c2}"


def test_failed_ingest_build_lands_in_setup_errors(monkeypatch):
    """A workspace build that raises is recorded, not fatal: the bench
    goes on to write its artifact."""
    import bench
    from tailpipe_spark.queries import timeseries

    def boom(spark, sf_dir, names):
        raise OSError("disk full")

    monkeypatch.setattr(timeseries, "ingest_build_walls", boom)
    errors: dict[str, str] = {}
    assert bench._ingest_walls(None, "/nowhere", ["q"], errors) == {}
    assert errors == {"ingest_build": "OSError: disk full"}
