"""zorder_write layout effect (operators/zorder.py): files written
along the z-curve must have tighter per-file (user_id, value) bounding
boxes — the parquet footer min/max stats that drive file/row-group
skipping — than the same rows written unordered. This is the actual
data-skipping win, measured from the footers, not inferred."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.zorder import z_value, zorder_write


def _box_volume_sum(path: str, cols: list[str], spans: dict[str, float]) -> float:
    """Sum over files of the normalized bounding-box volume: the
    expected fraction of files a uniformly-placed point predicate must
    read. 1.0 per file = that file could contain anything."""
    total = 0.0
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        meta = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        vol = 1.0
        for c in cols:
            vol *= (float(hi[c]) - float(lo[c])) / spans[c]
        total += vol
    return total


@pytest.mark.slow
def test_zorder_write_tightens_file_bounding_boxes(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    row = ev.agg(
        (F.max("user_id") - F.min("user_id")).cast("double").alias("su"),
        (F.max("value") - F.min("value")).cast("double").alias("sv"),
    ).collect()[0]
    spans = {"user_id": row["su"], "value": row["sv"]}

    plain = str(tmp_path / "plain")
    # shuffle rows deterministically so "unordered" isn't accidentally
    # sorted by either column, then strip the helper
    ev.withColumn("_r", F.xxhash64("event_id")).repartitionByRange(
        8, "_r"
    ).drop("_r").write.parquet(plain)
    zed = str(tmp_path / "zed")
    zorder_write(ev, zed, ["user_id", "value"], num_files=8)

    v_plain = _box_volume_sum(plain, ["user_id", "value"], spans)
    v_zed = _box_volume_sum(zed, ["user_id", "value"], spans)
    # random layout ≈ every file covers the whole space (~n_files);
    # the curve layout must cut the total read fraction at least in half
    assert v_zed < 0.5 * v_plain, (v_zed, v_plain)

    # and the data round-trips unchanged
    assert (
        spark.read.parquet(zed).orderBy("event_id").collect()
        == ev.orderBy("event_id").collect()
    )


def test_compact_with_clustering(spark, sf_small, tmp_path):
    """compact_path(cluster_by=...) = OPTIMIZE + ZORDER: many small
    appends collapse into few files AND the files are curve-clustered
    (tighter boxes than a plain compaction of the same appends)."""
    import pytest

    from faexport_db_spark.maintenance.compaction import compact_path

    ev = load_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    row = ev.agg(
        (F.max("user_id") - F.min("user_id")).cast("double").alias("su"),
        (F.max("value") - F.min("value")).cast("double").alias("sv"),
    ).collect()[0]
    spans = {"user_id": row["su"], "value": row["sv"]}

    paths = {"plain": str(tmp_path / "p"), "clustered": str(tmp_path / "c")}
    for p in paths.values():
        for i in range(6):  # six appends = six+ small files
            ev.filter(F.col("event_id") % 6 == i).coalesce(1).write.mode(
                "append"
            ).parquet(p)

    stats_p = compact_path(spark, paths["plain"], target_bytes=1 << 14)
    stats_c = compact_path(
        spark, paths["clustered"], cluster_by=["user_id", "value"],
        target_bytes=1 << 14,
    )
    assert stats_p["n_files"] >= 6 and stats_c["n_files"] >= 6
    assert stats_c["files_after"] < 6

    if stats_c["files_after"] > 1:  # volume comparison needs >1 box
        v_p = _box_volume_sum(paths["plain"], ["user_id", "value"], spans)
        v_c = _box_volume_sum(paths["clustered"], ["user_id", "value"], spans)
        assert v_c < v_p, (v_c, v_p)

    got = spark.read.parquet(paths["clustered"]).orderBy("event_id").collect()
    assert got == ev.orderBy("event_id").collect()

    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_path(
            spark, paths["clustered"], partition_by=["user_id"],
            cluster_by=["value"],
        )


def test_z_value_validates_width(spark):
    import pytest

    with pytest.raises(ValueError, match="signed long"):
        z_value([(F.lit(1), 0, 1)] * 9, bits=8)  # 72 bits > 63


def test_zorder_all_null_column_fails_fast(spark, tmp_path):
    """An all-NULL cluster column yields None min/max; the rewrite must
    fail BEFORE starting with a ValueError naming the column, not crash
    mid-job with a bare TypeError (ADVICE r05)."""
    import pytest

    from faexport_db_spark.maintenance.compaction import compact_path
    from faexport_db_spark.operators.zorder import zorder_write

    df = spark.createDataFrame(
        [(1, None), (2, None)], "a bigint, b double"
    )
    with pytest.raises(ValueError, match=r"\['b'\]"):
        zorder_write(df, str(tmp_path / "z"), cols=["a", "b"])

    src = str(tmp_path / "src")
    df.write.parquet(src)
    with pytest.raises(ValueError, match=r"\['b'\]"):
        compact_path(spark, src, cluster_by=["a", "b"])
