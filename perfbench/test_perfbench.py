"""Self-tests of the benchmark: metric parsing, generator determinism,
and the status-store harvest with the Spark UI disabled.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os
import pathlib
import shutil

import pytest

import gen
import run
import spans

DOT = (
    'digraph G {\n'
    '  3 [id="node3" labelType="html" label="<b>Exchange</b><br><br>shuffle records written: 400'
    '<br>shuffle bytes written total (min, med, max (stageId: taskId))<br>4.2 KiB (1.0 KiB, 1.0 KiB,'
    ' 1.1 KiB (stage 0.0: task 3))" tooltip="Exchange hashpartitioning"];\n'
    '  5 [id="node5" labelType="html" label="<b>Sort</b><br><br>sort time total (min, med, max '
    '(stageId: taskId))<br>1.5 s (0 ms, 1 ms, 1.2 s (stage 1.0: task 9))<br>peak memory: 64.0 MiB'
    '<br>spill size: 0.0 B" tooltip="Sort [k ASC]"];\n'
    '  7 [id="node7" labelType="html" label="<b>Scan parquet </b><br><br>number of output rows: '
    '1,234" tooltip="FileScan parquet"];\n'
    '  8 [id="node8" labelType="html" label="<b>SortAggregate</b><br><br>" tooltip="x"];\n'
    '  9 [id="node9" labelType="html" label="<b>ArrowEvalPython</b><br><br>" tooltip="y"];\n'
    '}'
)


def test_parse_plan_graph_counts_nodes_and_metrics():
    counts = spans.empty_counts()
    spans.add_nodes(counts, spans.parse_plan_graph(DOT))
    assert counts["exchanges"] == 1
    assert counts["sorts"] == 1
    assert counts["sort_aggregates"] == 1
    assert counts["python_evals"] == 1
    assert counts["shuffle_bytes"] == pytest.approx(4.2 * 1024)
    assert counts["sort_s"] == pytest.approx(1.5)
    assert counts["peak_mem_bytes"] == 64 * 1024 * 1024
    assert counts["scan_rows"] == 1234


def test_tail_needs_ten_samples_beyond():
    assert run.tail(list(range(19))) == (None, None)
    pct, value = run.tail([float(i) for i in range(100)])
    assert pct == 90
    assert value == pytest.approx(89.0, abs=1)


@pytest.fixture()
def scratch_dir():
    """A scratch directory inside the checkout, like the benchmark's own."""
    path = os.path.join(run.ROOT, ".perfbench_work", f"selftest-gen-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield pathlib.Path(path)
    shutil.rmtree(path, ignore_errors=True)


def test_generator_is_deterministic(scratch_dir):
    a = gen.make_archive(str(scratch_dir / "a"), 7, n_e621=40, n_fa=30)
    b = gen.make_archive(str(scratch_dir / "b"), 7, n_e621=40, n_fa=30)
    assert a.entities == b.entities
    assert a.distinct_snapshots == b.distinct_snapshots
    for (pa, _), (pb, _) in zip(a.e621_dumps, b.e621_dumps):
        assert filecmp.cmp(pa, pb, shallow=False)
    c = gen.make_corpus(str(scratch_dir / "c"), 7, 50, 5, 5, 5, 3)
    d = gen.make_corpus(str(scratch_dir / "d"), 7, 50, 5, 5, 5, 3)
    assert filecmp.cmp(c.path, d.path, shallow=False)
    assert (c.exact_dups, c.near_dups, c.far_copies) == (d.exact_dups, d.near_dups, d.far_copies)


def test_generator_delivers_one_dump_twice(scratch_dir):
    arc = gen.make_archive(str(scratch_dir), 3, n_e621=50, n_fa=20)
    paths = [p for p, _ in arc.e621_dumps]
    assert len(paths) == len(set(paths)) + 1
    assert arc.snapshot_rows_delivered > arc.distinct_snapshots


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.isolate(work)
    session = run.start_session(2, work, trace=True)
    yield session
    run.stop_jvm(session)
    shutil.rmtree(work, ignore_errors=True)


def test_harvest_returns_node_metrics_with_ui_disabled(spark):
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.ui.enabled") == "false"
    tracer = spans.Tracer(spark, enabled=True)
    with tracer.span("probe"):
        df = spark.range(20_000).withColumn("k", F.col("id") % 97)
        rows = df.groupBy("k").agg(F.sum("id").alias("s")).orderBy("k").collect()
    assert len(rows) == 97
    assert tracer.harvest() >= 1
    [sp] = tracer.spans
    assert sp.counts["executions"] >= 1
    assert sp.counts["jobs"] >= 1
    assert sp.counts["exchanges"] >= 1
    assert sp.counts["scan_rows"] == 20_000
    assert sp.counts["shuffle_bytes"] > 0
