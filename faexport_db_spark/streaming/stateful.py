"""Custom stateful streaming operator: cross-batch first-seen filter.

The reference tracks ``seen_usernames`` in an in-process Python set so
each user is emitted once per ingest run (fa_indexer/main.py:85-93) —
unbounded driver memory, lost on restart. The streaming restatement is
``applyInPandasWithState``: per-key GroupState persisted in the state
store (checkpointed, partitioned by key, survives restarts), with a
processing-time timeout to bound state for keys never seen again.

Shape: input stream of (key, payload) → output only the FIRST row per
key ever observed across all micro-batches. This is the engine's
template for custom stateful ops the built-ins can't express
(dropDuplicates has no "emit the winning row with its payload +
timeout eviction" form).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, first_value string, batch_rows bigint"
STATE_SCHEMA = "seen boolean"
_IDLE_TIMEOUT_MS = 24 * 3600 * 1000


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    rows = 0
    first: Any = None
    for pdf in pdfs:
        if len(pdf) and first is None:
            first = pdf["value"].iloc[0]
        rows += len(pdf)
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        # Key already emitted in an earlier batch. Re-arm the idle
        # timeout (it is absolute, not sliding, unless reset here) so a
        # key that stays active is never evicted and re-emitted — the
        # suppression is exactly-once for as long as the key keeps
        # appearing within the idle window.
        state.setTimeoutDuration(_IDLE_TIMEOUT_MS)
        return
    state.update((True,))
    state.setTimeoutDuration(_IDLE_TIMEOUT_MS)  # evict idle keys after a day
    yield pd.DataFrame(
        {"key": [key[0]], "first_value": [first], "batch_rows": [rows]}
    )


ASOF_OUTPUT_SCHEMA = (
    "key string, ts timestamp, value double, asof_ts timestamp, ref_value double"
)
ASOF_STATE_SCHEMA = "asof_ns long, ref_value double"


def _asof_enrich_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    batch = pd.concat(list(pdfs), ignore_index=True)
    if not len(batch):
        return
    carried_ns, carried_val = state.get if state.exists else (None, None)

    refs = batch[batch["side"] == "ref"].sort_values("ts", kind="stable")
    evts = batch[batch["side"] != "ref"].sort_values("ts", kind="stable")
    # seed the in-batch merge_asof with the carried cross-batch state so
    # events before this batch's first ref still enrich from history
    ref_tbl = pd.DataFrame(
        {"asof_ts": refs["ts"].to_numpy(), "ref_value": refs["value"].to_numpy()}
    )
    if carried_ns is not None:
        seed = pd.DataFrame(
            {"asof_ts": [pd.Timestamp(carried_ns)], "ref_value": [carried_val]}
        )
        # the carried ref may be NEWER than refs arriving late in this
        # batch — merge_asof requires the right side sorted, and the
        # best-match semantics want it anyway
        ref_tbl = pd.concat([seed, ref_tbl], ignore_index=True).sort_values(
            "asof_ts", kind="stable", ignore_index=True
        )

    if len(refs):
        last = refs.iloc[-1]
        last_ns = int(pd.Timestamp(last["ts"]).value)
        if carried_ns is None or last_ns >= carried_ns:
            state.update((last_ns, float(last["value"])))
        state.setTimeoutDuration(_IDLE_TIMEOUT_MS)
    elif state.exists:
        state.setTimeoutDuration(_IDLE_TIMEOUT_MS)  # re-arm idle eviction

    if not len(evts):
        return
    evt_tbl = evts[["ts", "value"]].reset_index(drop=True)
    if len(ref_tbl):
        merged = pd.merge_asof(
            evt_tbl,
            ref_tbl.astype({"asof_ts": "datetime64[ns]", "ref_value": "float64"}),
            left_on="ts",
            right_on="asof_ts",
            direction="backward",  # inclusive ties, like the batch operator
        )
    else:
        merged = evt_tbl.assign(asof_ts=pd.NaT, ref_value=float("nan"))
    merged.insert(0, "key", key[0])
    yield merged[["key", "ts", "value", "asof_ts", "ref_value"]]


def asof_enrich(
    stream: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    side_col: str = "side",
    value_col: str = "value",
) -> DataFrame:
    """Streaming as-of enrichment — the stateful analog of
    ``operators/asof.py::asof_join`` for ONE interleaved stream: rows
    with ``side == 'ref'`` update the per-key carried reference (value
    at its timestamp); every other row emits enriched with the most
    recent at-or-before reference. Per-key state is exactly one
    (timestamp, value) pair in the checkpointed state store, evicted
    after a day idle.

    In-batch ordering is event-time correct (a vectorized
    ``pd.merge_asof`` inside the state function, the carried state as
    its seed row); ACROSS batches enrichment uses the reference state
    as of the prior batch boundary — i.e. the usual processing-order
    caveat for stateful streams: a ref row arriving batches late is
    not retroactively applied. Feed by ts-ordered sources (or accept
    boundary staleness), exactly like Spark's own streaming
    dropDuplicates.

    The idle timeout is a processing-time timeout, so Spark runs a
    no-data batch after every batch: a query over this started with
    ``trigger(availableNow=True)`` does not stop by itself while
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is on (the
    default). Turn it off for such a run."""
    from pyspark.sql import functions as F

    keyed = stream.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(side_col).alias("side"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _asof_enrich_fn,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def first_seen(stream: DataFrame, key_col: str = "key", value_col: str = "value") -> DataFrame:
    """Emit each key's first-observed row exactly once across batches.

    ``stream`` must be a streaming DataFrame with ``key``/``value``
    string columns (rename upstream). Use with ``outputMode("update")``.

    The idle timeout is a processing-time timeout, so Spark runs a
    no-data batch after every batch: a query over this started with
    ``trigger(availableNow=True)`` does not stop by itself while
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is on (the
    default). Turn it off for such a run.
    """
    from pyspark.sql import functions as F

    keyed = stream.select(
        F.col(key_col).alias("key"), F.col(value_col).alias("value")
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = "user_id bigint, funnel_stage int, stage_ts timestamp"
FUNNEL_STATE_SCHEMA = "stage int, t_ns long"
FUNNEL_STAGES = ("signup", "click", "purchase")


def _funnel_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    batch = pd.concat(list(pdfs), ignore_index=True)
    if not len(batch):
        return
    stage, t_ns = state.get if state.exists else (0, None)
    # identical tie-order to the batch fold: (ts, event_type)
    batch = batch.sort_values(["ts", "event_type"], kind="stable")
    out_stage, out_ts = [], []
    for ts, et in zip(batch["ts"], batch["event_type"]):
        if stage >= len(FUNNEL_STAGES):
            break
        ns = int(pd.Timestamp(ts).value)
        if et == FUNNEL_STAGES[stage] and (t_ns is None or ns > t_ns):
            stage += 1
            t_ns = ns
            out_stage.append(stage)
            out_ts.append(ts)
    if out_stage:
        state.update((stage, t_ns))
    state.setTimeoutDuration(_IDLE_TIMEOUT_MS)
    if out_stage:
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "funnel_stage": pd.Series(out_stage, dtype="int32"),
                "stage_ts": out_ts,
            }
        )


def funnel_track(stream: DataFrame) -> DataFrame:
    """Cross-batch streaming funnel: per user, emit a changelog row
    each time the strict-order funnel (signup -> click -> purchase)
    advances — batch N's purchase completes a signup from batch 1 via
    the checkpointed (stage, last_ts) state, with idle-timeout
    eviction bounding state like the other stateful operators.

    Semantics match the batch fold (queries/timeseries.py
    ts3_funnel_stages) exactly: same (ts, event_type) tie order, same
    strictly-after requirement — the parity test reconciles max
    emitted stage per user against the batch answer. The per-row
    Python loop runs inside Arrow-batched per-key groups (rows per
    user per micro-batch — small by construction), the accepted cost
    of an operator Structured Streaming has no built-in for.

    The idle timeout is a processing-time timeout, so Spark runs a
    no-data batch after every batch: a query over this started with
    ``trigger(availableNow=True)`` does not stop by itself while
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is on (the
    default). Turn it off for such a run.
    """
    return stream.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
