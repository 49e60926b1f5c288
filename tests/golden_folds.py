"""Pure-Python golden folds for the M5 and M7 merge rules.

The library runs both folds as Catalyst expressions
(``operators/folds.py``). These loops state the reference rules
directly and are the independent cross-check the property and golden
tests compare the expression forms against:

- M5 ``extra_data`` layering: ordered shallow-dict fold, newest key
  wins (reference: faexport_db/db.py:10-17 ``merge_dicts``;
  models/submission.py:71-77 folds oldest→newest).
- M7 clash-reset file merge: a clash (url/size/same-algo-hash conflict)
  REPLACES the accumulated file, dropping previously-unioned hashes
  (reference: models/file.py:50-72, models/submission.py:89-104).

``golden_merged_files`` is the driver-side M7 golden: it collects the
keyed file rows and folds them here, so it suits test-sized inputs only.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import DataFrame

from faexport_db_spark.operators.folds import _keyed_files


def _merge_dicts(base: dict | None, overlay: dict | None) -> dict | None:
    """Shallow overlay-wins merge. Reference: faexport_db/db.py:10-17."""
    if base is None:
        return overlay
    if overlay is None:
        return base
    return {**base, **overlay}


# With ensure_ascii=False the only \uXXXX escapes json.dumps emits are
# control characters; Jackson (Spark's to_json) renders those with
# UPPERCASE hex. Uppercase ours too so the golden fold is byte-identical
# — but only when the backslash run before 'u' is odd (a real escape,
# not literal backslashes followed by 'u').
_U_ESCAPE = re.compile(r"(\\+)u([0-9a-f]{4})")


def _jackson_case(m: re.Match) -> str:
    if len(m.group(1)) % 2 == 1:
        return m.group(1) + "u" + m.group(2).upper()
    return m.group(0)


def _canonical_json(data: dict | None) -> str | None:
    # Raw UTF-8 (ensure_ascii=False) so the golden fold renders
    # byte-identically to Spark's to_json, which never \u-escapes.
    if data is None:
        return None
    out = json.dumps(data, separators=(",", ":"), sort_keys=True, ensure_ascii=False)
    return _U_ESCAPE.sub(_jackson_case, out)


def _fold_json_history(history, start_empty: bool) -> str | None:
    """M5: fold JSON docs ordered oldest → newest into canonical
    (sorted-key) JSON. The reference's fold starts from ``{}``
    (models/submission.py:73); non-object and malformed docs are
    skipped."""
    acc: dict | None = {} if start_empty else None
    for doc in history if history is not None else []:
        if doc is None:
            continue
        try:
            parsed = json.loads(doc)
        except (TypeError, ValueError):
            continue
        if not isinstance(parsed, dict):
            continue
        acc = _merge_dicts(acc, parsed)
    return _canonical_json(acc)


def _none_if_nan(value):
    if value is None:
        return None
    if isinstance(value, float) and pd.isna(value):
        return None
    return value


MERGED_FILES_COLUMNS = [
    "website_id",
    "site_submission_id",
    "site_file_id",
    "file_url",
    "file_size",
    "extra_data",
    "hashes",
]

# Per-file fold state is a plain list indexed by these slots.
_URL, _SIZE, _EXTRA, _HASHES = 0, 1, 2, 3


def _fold_batch(pdf: pd.DataFrame) -> list[dict]:
    """Fold pre-sorted, entity-contiguous file rows (oldest→newest
    within each entity) into current files, one record per
    (entity, site_file_id) keyed by ``MERGED_FILES_COLUMNS``.

    Clash semantics per (entity, site_file_id), reference
    faexport_db/models/file.py:50-72: a conflicting url / size /
    shared-algo hash REPLACES the accumulated file (old hashes
    dropped); otherwise extra_data merges overlay-wins, url/size stay
    immutable (not null-filled), and only new-algo hashes are added.
    """
    wids = pdf["website_id"].tolist()
    sids = pdf["site_submission_id"].tolist()
    sfids = pdf["site_file_id"].tolist()
    urls = pdf["file_url"].tolist()
    sizes = pdf["file_size"].tolist()
    extras = pdf["extra_data"].tolist()
    hlists = pdf["hashes_list"].tolist()
    out: list[dict] = []
    n = len(wids)
    i = 0
    while i < n:
        w, s = wids[i], sids[i]
        merged: dict = {}  # site_file_id (None ok) -> state list, insertion-ordered
        j = i
        while j < n and wids[j] == w and sids[j] == s:
            url = _none_if_nan(urls[j])
            size = _none_if_nan(sizes[j])
            if size is not None:
                size = int(size)
            raw_extra = extras[j]
            extra = None
            if raw_extra:
                try:
                    parsed = json.loads(raw_extra)
                    extra = parsed if isinstance(parsed, dict) else None
                except (TypeError, ValueError):
                    extra = None
            hl = hlists[j]
            hashes = (
                {int(h["algo_id"]): h["hash_b64"] for h in hl}
                if hl is not None and len(hl)
                else {}
            )
            key = _none_if_nan(sfids[j])
            cur = merged.get(key)
            if cur is None:
                merged[key] = [url, size, extra, hashes]
            else:
                cur_hashes = cur[_HASHES]
                clash = (
                    url is not None
                    and cur[_URL] is not None
                    and cur[_URL] != url
                ) or (
                    size is not None
                    and cur[_SIZE] is not None
                    and cur[_SIZE] != size
                )
                if not clash:  # extra_data never clashes (file.py:62)
                    for a, hv in hashes.items():
                        if a in cur_hashes and cur_hashes[a] != hv:
                            clash = True
                            break
                if clash:
                    merged[key] = [url, size, extra, hashes]  # full reset
                else:
                    cur[_EXTRA] = _merge_dicts(cur[_EXTRA], extra)
                    for a, hv in hashes.items():
                        if a not in cur_hashes:
                            cur_hashes[a] = hv
            j += 1
        for key, f in merged.items():
            hashes_json = json.dumps(
                [{"algo_id": a, "hash_b64": f[_HASHES][a]} for a in sorted(f[_HASHES])],
                separators=(",", ":"),
            )
            out.append(
                dict(
                    zip(
                        MERGED_FILES_COLUMNS,
                        (w, s, key, f[_URL], f[_SIZE], _canonical_json(f[_EXTRA]), hashes_json),
                    )
                )
            )
        i = j
    return out


def golden_merged_files(
    submission_snapshots: DataFrame,
    files: DataFrame,
    file_hashes: DataFrame | None = None,
) -> list[dict]:
    """M7 golden: the library's keyed prelude, collected to the driver,
    put in fold order and folded by ``_fold_batch``."""
    pdf = (
        _keyed_files(submission_snapshots, files, file_hashes)
        .toPandas()
        .sort_values(
            [
                "website_id",
                "site_submission_id",
                "scan_datetime",
                "submission_snapshot_id",
                "file_id",
            ],
            kind="mergesort",
        )
    )
    return _fold_batch(pdf)
