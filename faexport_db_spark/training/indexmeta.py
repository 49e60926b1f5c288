"""Signing-parameter sidecars for persisted dedup/ANN indexes.

A persisted MinHash band index or hyperplane-LSH code table is only
joinable by a probe signed with the SAME parameters (num_perm/bands/
shingle_n, nbits/dim/seed). A mismatched probe doesn't fail — it joins
on incompatible hashes and silently returns ~zero pairs, admitting
every duplicate: the worst failure mode a dedup gate can have (ADVICE
r02). So each builder writes an underscore-prefixed JSON sidecar
(ignored by Spark's parquet scanner, like ``_SUCCESS``) recording its
signing parameters, and each probe validates before joining, raising
on mismatch. A missing sidecar is an ERROR, not a legacy pass: the
signing scheme has changed since the sidecar was introduced
(tokshingle1), so an unlabeled index is exactly the
silently-returns-nothing hazard the sidecar exists to prevent —
rebuild the index, or write a sidecar stating its true parameters.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import SparkSession

from faexport_db_spark.operators.hadoop_fs import HadoopFs

INDEX_META_NAME = "_index_meta.json"


def write_index_meta(
    spark: SparkSession, path: str, kind: str, params: dict
) -> None:
    fs = HadoopFs(spark, path)
    meta = {"kind": kind, "params": params}
    fs.write_text(
        posixpath.join(path.rstrip("/"), INDEX_META_NAME), json.dumps(meta)
    )


def has_index_meta(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` carries the parameter sidecar — the bootstrap
    test of every streaming index step (the first batch writes it)."""
    return HadoopFs(spark, path).exists(
        posixpath.join(path.rstrip("/"), INDEX_META_NAME)
    )


def ensure_index_meta(
    spark: SparkSession, path: str, kind: str, params: dict
) -> None:
    """Write the sidecar only if absent — the incremental/streaming
    append paths call this per batch; the first append creates it,
    later ones validate instead of blindly rewriting."""
    if has_index_meta(spark, path):
        check_index_meta(spark, path, kind, params)
        return
    write_index_meta(spark, path, kind, params)


def check_index_meta(
    spark: SparkSession, path: str, kind: str, params: dict
) -> None:
    """Raise ValueError if ``path``'s sidecar disagrees with the
    probe's ``kind``/``params`` — or is MISSING. The earlier
    missing-passes-as-legacy exemption became a hole when the signing
    scheme changed (review finding: a pre-sidecar index probed with
    token-hash shingles silently admits every duplicate)."""
    if not has_index_meta(spark, path):
        raise ValueError(
            f"index at {path} has no {INDEX_META_NAME} sidecar; its signing "
            f"scheme is unknown and a mismatched probe silently returns ~zero "
            f"pairs — rebuild the index with a current builder, or write the "
            f"sidecar stating its true parameters (write_index_meta)."
        )
    meta_path = posixpath.join(path.rstrip("/"), INDEX_META_NAME)
    meta = json.loads(HadoopFs(spark, path).read_text(meta_path))
    mismatches = {}
    if meta.get("kind") != kind:
        mismatches["kind"] = (meta.get("kind"), kind)
    for key, want in params.items():
        have = meta.get("params", {}).get(key)
        if have != want:
            mismatches[key] = (have, want)
    if mismatches:
        detail = ", ".join(
            f"{k}: index={a!r} probe={b!r}" for k, (a, b) in sorted(mismatches.items())
        )
        raise ValueError(
            f"index at {path} was built with different signing parameters "
            f"than this probe ({detail}); a mismatched probe would silently "
            f"return ~zero pairs — rebuild the index or align the probe."
        )


def write_model_sidecar(
    spark: SparkSession, path: str, name: str, model: dict | list
) -> None:
    """Persist a (small) model artifact — centroid table, PQ codebooks
    — as an underscore-prefixed JSON sidecar NEXT TO its index data,
    through the same Hadoop filesystem the data files use. Local
    ``open()`` here would strand the model on the driver's disk (or
    crash) for ``hdfs://``/``s3a://`` store paths — the only kind that
    exists at the billion-vector scale these indexes target (ADVICE
    r04)."""
    fs = HadoopFs(spark, path)
    fs.write_text(posixpath.join(path.rstrip("/"), name), json.dumps(model))


def read_model_sidecar(spark: SparkSession, path: str, name: str):
    """Read a model sidecar written by :func:`write_model_sidecar`;
    raises ``FileNotFoundError`` with a rebuild hint when absent."""
    fs = HadoopFs(spark, path)
    p = posixpath.join(path.rstrip("/"), name)
    if not fs.exists(p):
        raise FileNotFoundError(
            f"index at {path} has no {name} model sidecar — it was not built "
            f"by the current builder; rebuild it (ivf_build / ivfpq_build)."
        )
    return json.loads(fs.read_text(p))
